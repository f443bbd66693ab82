#!/usr/bin/env python3
"""The repository benchmark: runs one workload with a seed and prints its
metrics as one JSON line. See perfbench/README.md.

Usage (from the repository root):
  python3 perfbench/run.py --workload index|dedup --seed N \
      --seconds S --trace 0|1
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of run outputs
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from benchlib import gen, host, stats  # noqa: E402
import build  # noqa: E402

# Input sizes: one run takes about a minute on a 4-core host, so 4 + 22 runs
# per workload fit the benchmark's time budget. At these sizes fixed per-job
# cost and codegen dominate, as the traced run shows.
SCALE = {
    "index_docs": 6000, "delta_docs": 600, "delta_batches": 1, "term_docs": 300,
    "queries": 4000, "warmup_queries": 10, "batch_queries": 8,
    "dedup_docs": 1000, "dedup_plants": 100, "dedup_warmup_passes": 2,
}
# set-up is repeated this many times per run; setup_s is their median
SETUP_REPS = 3
# after the build, one invocation (both JVMs of a traced run included) ends
# within this
DEADLINE_S = 170
DEDUP_OPS = ("exact", "minhash", "ngram", "simhash", "clusters")

# the --add-opens build.sbt passes to forked JVMs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(classes, plan_path, result_path, work, mem, deadline):
    # -XX:-UsePerfData: the JVM's perf-counter file would go to /tmp, outside the checkout
    cmd = ["java", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes] + build.spark_jars()), "perfbench.Main", plan_path, result_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload did not finish within {DEADLINE_S} s")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"workload JVM exited with {rc}")


def end_to_end(workload, r):
    s = r["samples"]
    if workload == "index":
        docs = sum(s["build.docs"]) + sum(s["delta.docs"]) + sum(s["compact.docs"])
        work = docs / (sum(s["build.s"]) + sum(s["delta.s"]) + sum(s["compact.s"]))
        # every query kind weighs alike, whatever its share of the stream
        latency = stats.geomean([stats.median(s[f"query.{k}.ms"]) for k in gen.KINDS])
    else:
        # each operator's fastest call in the window: host load only ever
        # slows a call down, and a run holds about three calls per operator
        fastest = [min(s[f"dedup.{o}_s"]) for o in DEDUP_OPS]
        work = stats.median(s["pass.docs"]) / sum(fastest)
        latency = stats.geomean(fastest) * 1e3
    return {
        "setup_s": stats.median(r["setup_s"]),
        "work_per_s": work,
        "latency_ms": latency,
    }


def per_layer(workload, r, cpus, steal, base):
    """Every per-layer metric; those a workload does not exercise read 0."""
    s, lay = r["samples"], r["layer"]
    spans = r["spans"]
    sp = r.get("spark", {"jobs": [], "stages": [], "plan_ns": 0})
    w0, w1 = r["window_ns"]
    in_window = lambda ev: w0 <= ev["t_ms"] * 1e6 <= w1  # noqa: E731
    jobs = [j for j in sp["jobs"] if in_window(j)]
    stages = [g for g in sp["stages"] if in_window(g)]
    chain = stats.ancestors(spans)
    by_id = {x["id"]: x for x in spans}

    def inclusive(events, attr):
        """{span name: summed attr} of events rolled up to every ancestor."""
        out = {}
        for ev, sid in zip(events, stats.attribute(spans, events)):
            for a in chain.get(sid, []):
                n = by_id[a]["name"]
                out[n] = out.get(n, 0) + (1 if attr is None else ev[attr])
        return out

    calls = {}
    for x in spans:
        calls[x["name"]] = calls.get(x["name"], 0) + 1
    dur_ms = lambda name: [(x["end_ns"] - x["start_ns"]) / 1e6 for x in spans if x["name"] == name]  # noqa: E731
    all_jobs = inclusive(sp["jobs"], None)
    shuffle = inclusive(sp["stages"], "shuffle_write")
    per_call = lambda d, name: d.get(name, 0) / calls[name] if calls.get(name) else 0.0  # noqa: E731
    queries = sum(v for k, v in calls.items() if k.startswith("query."))
    q_jobs = sum(v for k, v in all_jobs.items() if k.startswith("query."))
    task_run_s = sum(g["run_ms"] for g in stages) / 1e3
    wall_s = (w1 - w0) / 1e9
    top = [(x["start_ns"], x["end_ns"]) for x in spans if x["parent"] == -1 and w0 <= x["start_ns"] <= w1]
    bmw_q = len(s.get("bmw.decoded", []))
    dec, skip = sum(s.get("bmw.decoded", [])), sum(s.get("bmw.skipped", []))
    med = lambda k: stats.median(s.get(k, []))  # noqa: E731
    work_overhead, latency_overhead = overhead(workload, r, base)

    m = {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(g["tasks"] for g in stages),
        "spark.task_run_s": task_run_s,
        "spark.core_util": task_run_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "spark.gc_s": sum(g["gc_ms"] for g in stages) / 1e3,
        "spark.shuffle_write_bytes": sum(g["shuffle_write"] for g in stages),
        "spark.session_start_s": r["session_start_s"],
        "warmup_s": lay.get("warmup_s", 0.0),
        "catalyst.plan_s": sp["plan_ns"] / 1e9,
        "codegen.compile_s": r["codegen_compile_ns"] / 1e9,
        "codegen.compilations": r["codegen_compilations"],
        "jvm.gc_s": r["gc_ms"] / 1e3,
        "jvm.peak_rss_mb": r["vm_hwm_kb"] / 1024.0,
        "host.steal_pct": steal,
        "index.registry_s": med("index.registry_s"),
        "index.stats_s": med("index.stats_s"),
        "index.postings_s": med("index.postings_s"),
        "index.dictionary_s": med("index.dictionary_s"),
        "index.build_jobs": per_call(all_jobs, "InvertedIndex.build"),
        "index.delta_add_s": med("delta.s"),
        "index.delta_docs_per_s": sum(s["delta.docs"]) / sum(s["delta.s"]) if s.get("delta.s") else 0.0,
        "index.delta_jobs": per_call(all_jobs, "DeltaIndex.addDocuments"),
        "index.compact_s": med("compact.s"),
        "index.bytes.docs": lay.get("index.bytes.docs", 0.0),
        "index.bytes.postings": lay.get("index.bytes.postings", 0.0),
        "index.bytes.dictionary": lay.get("index.bytes.dictionary", 0.0),
        "index.bytes_per_src_byte": lay.get("index.bytes_per_src_byte", 0.0),
        "lineage.commit_s": lay.get("lineage.commit_s", 0.0),
        "tokenize.mb_per_s": lay.get("tokenize.mb_per_s", 0.0),
        "codec.blocks_per_s": lay.get("codec.blocks_per_s", 0.0),
        "query.match.p50_ms": med("query.match.ms"),
        "query.bool.p50_ms": med("query.bool.ms"),
        "query.phrase.p50_ms": med("query.phrase.ms"),
        "query.prefix.p50_ms": med("query.prefix.ms"),
        "query.fuzzy.p50_ms": med("query.fuzzy.ms"),
        "query.tail_ms": stats.tail(s["latency_ms"])[0] if s.get("latency_ms") else 0.0,
        "query.tail_pct": (stats.tail(s["latency_ms"])[1] or 100.0) if s.get("latency_ms") else 0.0,
        "query.samples": len(s.get("latency_ms", [])),
        "query.analyze_ms": stats.median(dur_ms("IndexReader.analyze")),
        "query.dict_ms": stats.median(dur_ms("IndexReader.termMeta")),
        "query.dict_jobs_per_q": all_jobs.get("IndexReader.termMeta", 0) / queries if queries else 0.0,
        "query.jobs_per_q": q_jobs / queries if queries else 0.0,
        "query.composite_p50_ms": med("probe.composite.ms"),
        "query.single_p50_ms": med("probe.single.ms"),
        "batch.jobs": per_call(all_jobs, "IndexReader.searchBmwBatch"),
        "batch.qps": lay.get("batch.qps", 0.0),
        "bmw.decoded_blocks_per_q": dec / bmw_q if bmw_q else 0.0,
        "bmw.skipped_blocks_per_q": skip / bmw_q if bmw_q else 0.0,
        "bmw.skip_ratio": skip / (dec + skip) if dec + skip else 0.0,
        "dedup.exact_s": med("dedup.exact_s"),
        "dedup.minhash_s": med("dedup.minhash_s"),
        "dedup.ngram_s": med("dedup.ngram_s"),
        "dedup.simhash_s": med("dedup.simhash_s"),
        "dedup.clusters_s": med("dedup.clusters_s"),
        "dedup.shuffle_bytes.minhash": per_call(shuffle, "DedupOps.nearDupPairs"),
        "dedup.shuffle_bytes.ngram": per_call(shuffle, "DedupOps.ngramJaccardPairs"),
        "dedup.pairs.minhash": lay.get("dedup.pairs.minhash", 0.0),
        "dedup.pairs.ngram": lay.get("dedup.pairs.ngram", 0.0),
        "dedup.pairs.simhash": lay.get("dedup.pairs.simhash", 0.0),
        "dedup.planted_recall": lay.get("dedup.planted_recall", 0.0),
        "driver.entries": calls.get("SparkEntry.construct", 0),
        "driver.construct_s": sum(s.get("driver.construct_s", [])),
        "driver.construct_jobs": all_jobs.get("SparkEntry.construct", 0),
        "driver.execute_s": sum(s.get("driver.execute_s", [])),
        "driver.execute_jobs": all_jobs.get("SparkEntry.execute", 0),
        "trace.coverage": stats.union_ns(top) / (w1 - w0) if w1 > w0 else 0.0,
        "trace.work_overhead_frac": work_overhead,
        "trace.latency_overhead_frac": latency_overhead,
        "trace.spans": len(spans),
    }
    return m


def self_time_table(r):
    """Rows of (layer, span name, calls, total ms, self ms, jobs), by self ms."""
    spans = r["spans"]
    selfs = stats.self_times(spans)
    jobs = {}
    for sid in stats.attribute(spans, r.get("spark", {}).get("jobs", [])):
        jobs[sid] = jobs.get(sid, 0) + 1
    rows = {}
    for x in spans:
        k = (x["layer"], x["name"])
        row = rows.setdefault(k, [0, 0.0, 0.0, 0])
        row[0] += 1
        row[1] += (x["end_ns"] - x["start_ns"]) / 1e6
        row[2] += selfs[x["id"]] / 1e6
        row[3] += jobs.get(x["id"], 0)
    return sorted(((l, n, *v) for (l, n), v in rows.items()), key=lambda t: -t[4])


def check_contract(r):
    """Each contract entry's row count equals its SparkEntry.oracleSql twin's
    under DuckDB, over the documents table the run staged."""
    entries = r["outputs"].get("contract")
    if entries is None:
        return
    try:
        import duckdb
    except ImportError:
        r["checks"].append({"name": "contract.duckdb", "ok": False, "detail": "python duckdb is not installed"})
        return
    con = duckdb.connect()
    docs = os.path.join(r["outputs"]["contract_sf_dir"], "documents.parquet", "*.parquet")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    for e in entries:
        sql = e["sql"].strip().rstrip(";")
        want = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        ok = e["rows"] == want
        r["checks"].append({"name": f"contract.{e['name']}.rows=oracle", "ok": ok,
                            "detail": "" if ok else f"spark {e['rows']} rows, duckdb {want}"})
        if not ok:
            print(f"perfbench: CHECK FAILED contract.{e['name']}: spark {e['rows']} rows, duckdb {want}",
                  file=sys.stderr)
    con.close()


def measure(a, trace, seconds, checks, stamp, classes, cpus, mem, deadline):
    """One JVM run of the workload; returns its raw result, the steal % and
    its output directory."""
    out = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-t{trace}")
    work = os.path.join(build.OUT, "work", a.workload)
    for d in (out, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(work, "tmp"))
    plan = gen.plan(a.workload, a.seed, SCALE)
    plan.update(workload=a.workload, seed=a.seed, seconds=seconds, trace=bool(trace), checks=checks,
                stamp=stamp, cpus=cpus, work_dir=work, setup_reps=SETUP_REPS)
    plan_path, result_path = os.path.join(out, "plan.json"), os.path.join(out, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    st0 = host.cpu_stat()
    run_jvm(classes, plan_path, result_path, work, mem, deadline)
    steal = host.steal_pct(st0, host.cpu_stat())
    with open(result_path) as f:
        r = json.load(f)
    check_contract(r)
    shutil.rmtree(work, ignore_errors=True)
    return r, steal, out


def untraced_result(a, stamp):
    """The raw result of an untraced run of this workload, seed and build in
    this checkout, or None."""
    out = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-t0")
    try:
        with open(os.path.join(out, "plan.json")) as f:
            plan = json.load(f)
        with open(os.path.join(out, "result.json")) as f:
            r = json.load(f)
    except (OSError, ValueError):
        return None
    return r if plan.get("stamp") == stamp else None


def overhead(workload, traced, untraced):
    """(work_per_s, latency_ms) overhead of tracing: the traced figures
    against the untraced ones of the same seed, computed over the samples the
    two runs have in common (the same queries of the seeded stream, the same
    passes), so a shorter baseline compares like with like."""
    def common(r, other):
        s = {k: v[:len(other["samples"][k])] if k in other["samples"] else v for k, v in r["samples"].items()}
        return {**r, "samples": s}
    t = end_to_end(workload, common(traced, untraced))
    u = end_to_end(workload, common(untraced, traced))
    return u["work_per_s"] / t["work_per_s"] - 1.0, t["latency_ms"] / u["latency_ms"] - 1.0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json here; run from the repository root")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no src/main/scala here; the benchmark builds the program from source")
    with open(spec_path) as f:
        spec = json.load(f)

    classes = build.build()
    deadline = time.monotonic() + DEADLINE_S
    with open(build.STAMP) as f:
        stamp = f.read()
    cpus = host.cpus()
    mem = host.driver_mem()

    if a.trace:
        # the baseline of the tracing overhead: an untraced run of the same
        # seed and build, from this checkout or else made now, over half the
        # seconds and without output checks to bound the invocation's time
        base = untraced_result(a, stamp)
        if base is None:
            base, _, _ = measure(a, 0, a.seconds / 2, False, stamp, classes, cpus, mem, deadline)
    r, steal, out = measure(a, a.trace, a.seconds, True, stamp, classes, cpus, mem, deadline)
    if a.trace:
        values = per_layer(a.workload, r, cpus, steal, base)
        table = self_time_table(r)
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump({"spans": r["spans"], "spark": r.get("spark"), "self_time": table}, f)
        print(f"{'layer':10} {'span':32} {'calls':>6} {'total_ms':>10} {'self_ms':>10} {'jobs':>6}",
              file=sys.stderr)
        for l, n, c, tot, slf, j in table:
            print(f"{l:10} {n:32} {c:6d} {tot:10.1f} {slf:10.1f} {j:6d}", file=sys.stderr)
        declared = spec["per_layer"]
    else:
        values = end_to_end(a.workload, r)
        declared = spec["end_to_end"]
    if set(values) != {m["name"] for m in declared}:
        fail(f"metrics {sorted(set(values) ^ {m['name'] for m in declared})} differ from BENCHMARK.json")

    failed_checks = [c for c in r["checks"] if not c["ok"]]
    host_shape = {
        "nproc": cpus, "cpus_allowed_list": host.cpus_allowed_list(), "xmx": mem,
        "xmx_bytes": r["xmx_bytes"], "offheap_bytes": r["offheap_bytes"],
        "spark": r["spark_version"], "jdk": r["jdk_version"],
        "steal_pct": round(steal, 3), "gc_s": r["gc_ms"] / 1e3,
        "checks": len(r["checks"]), "failed_checks": [c["name"] for c in failed_checks],
    }
    if not a.trace:
        v, pct, n = stats.tail(r["samples"].get("latency_ms", []))
        host_shape["tail"] = {"ms": v, "percentile": pct, "n": n}
    print(json.dumps({"host": host_shape}))
    print(json.dumps({
        "correct": not failed_checks and r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
