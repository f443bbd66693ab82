"""Seeded input generators. Each workload's inputs are a pure function of
the seed: the CorpusGen row-id window, the planted near-duplicates, the
query stream and the order of the contract entries. Document content itself
is CorpusGen's, a pure function of the row id, so the JVM side receives only
these plans.

A query term is a slot `[tier, u]`: a tier and a uniform draw u in [0, 1).
The JVM side maps it onto CorpusGen's own vocabulary: `head` and `mid` take
the u-quantile occurrence of that tier among the tokens of the window's first
documents, so they repeat as often as they do in the indexed text (CorpusGen
draws them under a Zipf law); `rare` takes `CorpusGen.RareIds(u * size)`,
uniform over all rare ids, so most are seen for the first time.
"""
import random

WORKLOADS = ("index", "dedup")

# The query stream cycles through the five kinds in equal shares. The share is
# an equal-coverage choice, not a measured traffic mix; the end-to-end latency
# weighs every kind alike (see perfbench/README.md).
KINDS = ("match", "bool", "phrase", "prefix", "fuzzy")
# term tiers of successive match queries
MATCH_TIERS = (("mid",), ("head", "mid"), ("mid", "rare"), ("head", "mid", "rare"))


def rng_for(workload, seed):
    """One independent stream per (workload, seed)."""
    return random.Random(seed * 1_000_003 + WORKLOADS.index(workload))


def _window(rng):
    """Start of a CorpusGen row-id window; windows of two seeds overlap with
    negligible probability."""
    return rng.randrange(1 << 40)


def _slot(rng, tier):
    return [tier, rng.random()]


def _query(rng, i):
    kind = KINDS[i % len(KINDS)]
    if kind == "match":
        return {"kind": kind, "text": [_slot(rng, t) for t in MATCH_TIERS[(i // len(KINDS)) % len(MATCH_TIERS)]]}
    if kind == "bool":
        return {"kind": kind, "must": [_slot(rng, "mid")],
                "should": [_slot(rng, "mid"), _slot(rng, "rare")], "not": [_slot(rng, "head")]}
    if kind == "phrase":
        return {"kind": kind, "text": [_slot(rng, "head"), _slot(rng, "mid")]}
    if kind == "prefix":
        # the first four characters of a rare id
        return {"kind": kind, "text": [_slot(rng, "rare")]}
    # a rare id with one character replaced at draw `edit[0]` by draw
    # `edit[1]`: the original is within reach of the fuzzy query's two edits
    return {"kind": kind, "text": [_slot(rng, "rare")], "edit": [rng.random(), rng.random()]}


# The fixed probe set of the index workload's write phase: one query per
# term-tier mix, the same for every seed.
PROBES = ["def buf_buf", "return map_get idx_buf", "import hash_lock z100_id"]


def plan(workload, seed, scale):
    """The generated inputs of one run, as a JSON-ready dict."""
    rng, warm = rng_for(workload, seed), random.Random(0)
    if workload == "index":
        sizes = [scale["index_docs"]] + [scale["delta_docs"]] * scale["delta_batches"]
        return {"lo": _window(rng), "sizes": sizes, "probes": PROBES, "term_docs": scale["term_docs"],
                "queries": [_query(rng, i) for i in range(scale["queries"])],
                # the same draws for every seed, so every run warms up alike
                "warmup": [_query(warm, i) for i in range(scale["warmup_queries"])],
                "batch": [[_slot(rng, t) for t in ("head", "mid", "rare")] for _ in range(scale["batch_queries"])],
                "loop_share": 0.75}
    if workload == "dedup":
        n, k = scale["dedup_docs"], scale["dedup_plants"]
        # a quarter exact copies, the rest with 1-3% of their tokens replaced
        plants = [[n + i, rng.randrange(n), rng.randrange(1 << 62),
                   0.0 if i % 4 == 0 else rng.choice((0.01, 0.02, 0.03))] for i in range(k)]
        return {"lo": _window(rng), "n": n, "plants": plants, "warmup_passes": scale["dedup_warmup_passes"],
                "min_jaccard": 0.7, "max_shingle_df": 20, "max_hamming": 3,
                "check_seed": rng.randrange(1 << 62), "entry_seed": rng.randrange(1 << 62)}
    raise ValueError(f"unknown workload {workload!r}")
