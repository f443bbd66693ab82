package graft

import graft.driver.DocumentsIndex
import graft.ops.{DedupOps, MultimodalOps, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.immutable.ListMap

/** Driver contract (SURVEY.md §0.4). One `queries` entry per implemented
  * operator from SURVEY.md §2 (keys prefixed by their inventory row), plus
  * the training-data-pipeline operators (dedup / similarity / text analysis /
  * multimodal). Every SQL-expressible entry has a DuckDB twin in
  * [[oracleSql]] over the same parquet tables.
  *
  * Cross-engine float protocol: any column involving double arithmetic is
  * rounded (4–6 dp) IN BOTH ENGINES, and rows are ordered by the rounded
  * value with a unique-key tiebreak, so unspecified summation order in
  * either engine cannot flip the comparison.
  */
object SparkEntry {
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001: BM25 top-10 via the full
    * engine (index build -> dictionary broadcast -> Block-Max WAND).
    */
  def entry(spark: SparkSession): DataFrame =
    DocumentsIndex.bm25(spark, "/root/testdata/sf0.001", "spark join", 10)

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // -- Layer B: the engine (SURVEY.md §2.3) ------------------------------
    // B2+B12: registry + stats through the resumable build (first engine
    // entry triggers the cached index build for this sf dir).
    "b02_corpus_stats" -> ((s, d) => DocumentsIndex.statsDf(s, d)),
    "b02_doc_registry" -> ((s, d) => DocumentsIndex.registryDf(s, d)),
    // B3–B6+B11: SPIMI postings -> exact df/cf dictionary.
    "b03_dictionary" -> ((s, d) => DocumentsIndex.dictionaryDf(s, d)),
    // B7–B10: match query -> BM25 -> Block-Max WAND top-k -> global merge.
    "b08_bm25_topk" -> ((s, d) => DocumentsIndex.bm25(s, d, "spark join", 10)),
    "b08_bm25_topk_multi" -> ((s, d) => DocumentsIndex.bm25(s, d, "window merge batch vector", 10)),
    "b09_bm25_rank_all" -> ((s, d) => DocumentsIndex.bm25(s, d, "the a value", -1)),
    // B13/B14: multi-field documents — a second analyzed field (`tags` =
    // lang + source) with its OWN df/avgdl via a per-field sub-index;
    // fielded match + boolean OR across fields (Lucene SHOULD = score sum).
    "b13_field_match" -> ((s, d) => DocumentsIndex.bm25Tags(s, d, "de src18")),
    "b14_multi_match" -> ((s, d) => DocumentsIndex.multiMatch(s, d, "spark src18 de", 20)),
    // B14 delta serving against the EXTERNAL oracle: the same BM25 top-k,
    // but through a base segment (doc_id % 17 != 0) plus one delta segment
    // (the rest, DeltaIndex.addDocuments) — the oracle scores the FULL
    // table, so a green row proves composite serving (merged df/N/avgdl,
    // recomputed bounds, cross-segment doc mapping) is indistinguishable
    // from a full rebuild.
    "b15_delta_match" -> ((s, d) => DocumentsIndex.bm25Delta(s, d, "batch vector", 10)),
    // B15 positional phrase (ES match_phrase): docs where the analyzed
    // tokens are consecutive, with the occurrence count.
    "b16_phrase" -> ((s, d) => DocumentsIndex.phraseMatch(s, d, "hash join")),
    // B16 boolean query (ES bool / Lucene BooleanQuery): 2-term MUST
    // conjunction + SHOULD boost + MUST_NOT exclusion, scored under the
    // pinned Σ idf·tfNorm over the present (must ∪ should) terms.
    "b17_bool" -> ((s, d) =>
      DocumentsIndex.bm25Bool(s, d, Seq("hash", "vector"), Seq("join"), Seq("window"))),
    // B17 prefix query (ES prefix / wildcard family, anchored): docs with
    // any term starting with "s" (expands to 6 terms in this corpus), with
    // the distinct matched-term count per doc.
    "b18_prefix" -> ((s, d) => DocumentsIndex.prefixMatch(s, d, "s")),
    // B15 sloppy phrase (ES match_phrase + slop): ordered, one position of
    // slack — "hash join" plus "hash X join".
    "b19_phrase_slop" -> ((s, d) => DocumentsIndex.phraseMatch(s, d, "hash join", slop = 1)),
    // B18 fuzzy query (ES fuzzy / match fuzziness): dictionary expansion at
    // edit distance <= 2 of "bag" ({a, agg, big} in this corpus), scored as
    // a term OR with each expansion under its own idf.
    // CAP CONTRACT for every expansion row (b20/b22/b24): the DuckDB twins
    // express the UNCAPPED semantics, which equals the engine's capped
    // result iff the expansion fits the cap. That holds by construction
    // here — the documents vocabulary has 31 distinct terms TOTAL at every
    // sf (CorpusGen fixed word list), below the smallest cap (32) — and the
    // cap-binding behavior itself is pinned separately by the sbt gates
    // (df-ranked truncation tests in BoolQuerySpec/PhraseSpec).
    "b20_fuzzy" -> ((s, d) => DocumentsIndex.fuzzyMatch(s, d, "bag", maxEdits = 2)),
    // B19 terms aggregation (ES terms agg / the LOD API's facet counts):
    // top-10 tags-field terms by df, straight off the sub-index dictionary.
    "b21_terms_agg" -> ((s, d) => DocumentsIndex.termsAgg(s, d, 10)),
    // B20 wildcard query (ES wildcard, non-anchored): any term containing
    // "or" ({order, sort, vector} in this corpus), distinct matched-term
    // count per doc.
    "b22_wildcard" -> ((s, d) => DocumentsIndex.wildcardMatch(s, d, "*or*")),
    // B15 match_phrase_prefix (autocomplete): "the" followed by any term
    // starting with "s" ({scan, small, slow, sort, spark, stream} here) at
    // the next position; per-doc matching-start counts.
    "b24_phrase_prefix" -> ((s, d) => DocumentsIndex.phrasePrefixMatch(s, d, "the s")),
    // B10 search_after deep pagination: page 2 of the "spark join" ranking
    // via the keyset cursor — must equal OFFSET 10 LIMIT 10 of the total
    // order (the twin asserts exactly that).
    "b25_search_after" -> ((s, d) => DocumentsIndex.bm25SearchAfter(s, d, "spark join", 10)),
    // B16 minimum_should_match: must "hash" plus >= 2 of {join, vector,
    // window} — the clause-count floor rides the same one-exchange
    // aggregate as b17.
    "b26_bool_msm" -> ((s, d) =>
      DocumentsIndex.bm25Bool(s, d, Seq("hash"), Seq("join", "vector", "window"), Nil,
        minShould = 2)),
    // B16 filter context (ES bool `filter`): required like must, NEVER
    // scores. "vector" and "join" are both required; "join" ALSO appears as
    // a should clause, so it still scores (ES semantics: filter dedups
    // against nothing — only the scoring side decides contributions), while
    // "vector" is pure-filter and contributes nothing.
    "b39_bool_filter" -> ((s, d) =>
      DocumentsIndex.bm25Bool(s, d, Seq("hash"), Seq("join"), Nil,
        filter = Seq("vector", "join"))),
    // B23 more_like_this: doc 7's top-5 tf·idf terms as a scored OR, the
    // source doc excluded (selection score rounded 6 dp in BOTH engines so
    // the chosen term set is identical).
    "b29_mlt" -> ((s, d) => DocumentsIndex.moreLikeThis(s, d, docId = 7, maxQueryTerms = 5)),
    // B22 highlighting (the LOD API returns ES highlight fragments): first
    // -occurrence 80-char fragment with <em> around the match, for the
    // top-10 of a single-term query.
    "b28_highlight" -> ((s, d) => DocumentsIndex.highlight(s, d, "vector", 10)),
    // B22 highlighting v2 (multi-term, char-offset token-exact — ES unified
    // highlighter shape): one fragment anchored at the first matched token
    // of "hash join", every matched token inside the window wrapped; the
    // twin pins the identical anchor-window rule.
    "b33_highlight_multi" -> ((s, d) => DocumentsIndex.highlightMulti(s, d, "hash join", 10)),
    // B15 span_near, unordered (Lucene SpanNearQuery in_order=false):
    // "hash" and "join" within total gap <= 3 in either order, with the
    // tightest cover's gap.
    "b27_span_near" -> ((s, d) => DocumentsIndex.spanNearMatch(s, d, "hash join", 3)),
    // B21 geo_distance query (ES geo_point family; coords synthesized
    // deterministically from doc_id — both engines derive the same points):
    // docs within 3000 km of (10°N, 20°E), bbox prefilter + exact haversine.
    "b23_geo" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.withinRadius(
        tbl(s, d, "documents").select(col("doc_id"), lat.as("lat"), lon.as("lon")),
        "lat", "lon", 10.0, 20.0, 3000.0)
        .select(col("doc_id"), col("dist_km"))
        .orderBy("doc_id")
    }),
    // B16 per-clause/field boosts (ES `fields: ["text^2", "tags"]`): the b14
    // multi_match with the text field boosted ×2. Boost scales idf AND the
    // WAND upper bound together (BlockMaxWand.boostMeta), so the bounded
    // cross-field WAND serves the boosted query unchanged. The boost is
    // pinned to 2.0 — a power of two, so scaling is EXACT in binary floating
    // point and the twin may factor it outside its per-field sum without
    // breaking bit-parity with the engine's per-term scaling.
    "b30_boost" -> ((s, d) =>
      DocumentsIndex.multiMatch(s, d, "spark src18 de", 20, Seq("text^2", "tags"))),
    // B13 multi_match type=best_fields (ES's DEFAULT multi_match type,
    // tie_breaker = 0): the best single field's score wins. Served through
    // the SAME one-job cross-field WAND — the summed bounds upper-bound any
    // tie_breaker <= 1 combine, so pruning stays exact.
    "b34_best_fields" -> ((s, d) =>
      DocumentsIndex.multiMatch(s, d, "spark src18 de", 20, Seq("text", "tags"), 0.0)),
    // B19 date_histogram (ES calendar_interval=day) over the events stream:
    // daily doc counts + value sums — the temporal sibling of a20.
    "a21_date_histogram" -> ((s, d) =>
      tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("day")),
    // B19 histogram aggregation (ES histogram — the numeric sibling of the
    // terms agg): fixed-width-8 doc-length buckets straight off the engine
    // registry's dl column; the twin recomputes dl from the raw text, so a
    // green row also re-checks the registry against raw tokenization.
    "a20_histogram" -> ((s, d) => DocumentsIndex.histogramAgg(s, d, 8)),
    // B20 regexp term query (ES regexp; Lucene automaton ∩ dictionary):
    // anchored full-term match over the validated-safe subset — alternation,
    // classes, star — ({query, sort, spark, stream} in this corpus), with
    // distinct matched-term counts per doc.
    "b31_regexp" -> ((s, d) => DocumentsIndex.regexpMatch(s, d, "(s|qu)[a-z]*r[a-z]*")),
    // B18 bounded fuzzy serving (the form a real client calls — top-10, not
    // the full scored match set): the b20 expansion through Block-Max WAND
    // under the shared stability over-fetch; must equal the rank-all total
    // order cut at 10 (the twin asserts exactly that).
    "b32_fuzzy_topk" -> ((s, d) => DocumentsIndex.fuzzyMatchTopK(s, d, "bag", 2, 10)),
    // B10 field collapsing (ES collapse / top_hits size=1): the best-scoring
    // "spark join" hit per lang group among ALL matches — one map-side
    // -combinable struct-max agg per group, never a few-partition window.
    "b35_collapse" -> ((s, d) => DocumentsIndex.collapseByLang(s, d, "spark join")),
    // B19 significant_terms (ES's "characteristic, not common" facet): terms
    // overrepresented in docs containing "stream" vs the corpus, JLH-scored
    // (pinned expression order so both engines round the same double).
    "b36_sig_terms" -> ((s, d) => DocumentsIndex.significantTerms(s, d, "stream", 10)),
    // B18 term suggester (ES suggest/term — "did you mean"): corrections for
    // the misspelling "vectr" from the dictionary, (dist asc, df desc, term)
    // — integer-exact, the classic-Levenshtein pin shared with b20.
    "b37_suggest" -> ((s, d) => DocumentsIndex.suggest(s, d, "vectr", 2, 5)),
    // B7 function_score field_value_factor (modifier log1p-shaped, pinned as
    // ln(1 + dl/64) in BOTH engines): doc-value-modified BM25 — the modifier
    // re-orders the ranking, so the honest serving is the rank-all product
    // cut by the total order (the bounded path's modifier-max bound is
    // documented at DocumentsIndex.functionScore, not built).
    "b38_function_score" -> ((s, d) => DocumentsIndex.functionScore(s, d, "spark join", 20)),
    // B19 terms agg + avg SUB-aggregation (ES sub-aggs): per tags-term
    // bucket, doc_count + mean doc character count — ids-only postings scan
    // joined to the doc-values frame, one map-side-combined groupBy.
    "b40_terms_stats" -> ((s, d) => DocumentsIndex.termsStats(s, d, 10)),
    // B16 constant_score: docs containing ALL filter terms at the constant
    // boost — filter context end-to-end, no BM25, no payload decode.
    "b41_constant_score" -> ((s, d) =>
      DocumentsIndex.constantScore(s, d, Seq("vector", "order"), boost = 1.5)),
    // B25 completion suggester (prefix autocomplete over the dictionary):
    // top-4 "s"-prefixed terms by df — the cut bites (6 candidates here).
    "b42_completion" -> ((s, d) => DocumentsIndex.completionSuggest(s, d, "s", 4)),
    // B1 analyzer configurability (ES standard analyzer + stop filter): the
    // SAME corpus indexed through Analyzer(stopwords = {the, a}) — "the" in
    // the query is analyzed away by the index's sidecar-loaded analyzer,
    // and every score shifts because dl/avgdl count kept tokens only.
    "b43_stopword_match" -> ((s, d) =>
      DocumentsIndex.bm25Stopword(s, d, "the join vector", 10)),
    // B15 SCORED phrase (Lucene PhraseQuery × BM25Similarity): the phrase as
    // ONE pseudo-term — tf = the matching-start count, idf = the Σ over the
    // token sequence — so "hash join" RANKS docs instead of counting starts
    // (b16 is the count form).
    "b44_phrase_scored" -> ((s, d) => DocumentsIndex.phraseScored(s, d, "hash join")),
    // B13 dis_max (Lucene DisjunctionMaxQuery): the best of two match
    // subqueries wins; tie_breaker 0.5 (exact in binary FP) folds the
    // loser's score in.
    "b45_dis_max" -> ((s, d) =>
      DocumentsIndex.disMax(s, d, Seq("hash table", "sort merge"), 0.5)),
    // B10 top_hits aggregation: the best 3 "spark join" hits per lang group
    // via the bounded map-side-combinable TopHitsAgg — collapse (b35)
    // generalized from size 1 to n, still never a window.
    "b46_top_hits" -> ((s, d) => DocumentsIndex.topHitsByLang(s, d, "spark join", 3)),
    // B16 boosting query (ES `boosting`): "hash table" matches demoted ×0.5
    // (exact — power of two) when the doc also matches the negative query.
    "b48_boosting" -> ((s, d) =>
      DocumentsIndex.boosting(s, d, "hash table", "vector", 0.5)),
    // B16 numeric range in filter context (ES bool { must: match, filter:
    // { range } } — the single most common ES query shape): BM25 on "hash"
    // (+ optional "join") gated by dl ∈ [40, 90) off the registry doc value;
    // the range never scores, scores of surviving docs are UNCHANGED.
    "b47_range_filter" -> ((s, d) =>
      DocumentsIndex.bm25Bool(s, d, Seq("hash"), Seq("join"), Nil,
        dlRange = Some((40L, 90L)))),
    // B27 query_string (Lucene classic syntax, pinned v1 grammar): required
    // term + optional scored phrase + optional constant-score prefix +
    // prohibited term, all in one parsed query.
    "b49_query_string" -> ((s, d) =>
      DocumentsIndex.queryString(s, d, "+hash \"hash join\" tabl* -vector")),
    // B15/B9 rescore (ES query rescorer, score_mode total): the top-20
    // "hash table" window re-ranked by main + 2×phraseScore("hash join") —
    // weights 1.0/2.0 are exact binary FP; only the window re-sorts.
    "b50_rescore" -> ((s, d) =>
      DocumentsIndex.rescorePhrase(s, d, "hash table", "hash join", 20, 1.0, 2.0)),
    // B10 sort-by-field (ES `sort: [{n_chars: desc}, {_id: asc}]` under a
    // match query — scoring skipped entirely, doc-value order): page 2 via
    // the keyset cursor, exercising the pushed-down search_after predicate.
    "b51_sort_by_field" -> ((s, d) =>
      DocumentsIndex.sortByFieldPage2(s, d, "hash", 10)),
    // B13 multi_match type=cross_fields (term-centric blending): each term
    // scores as ONE clause — idf blended from the MAX df across text+tags,
    // per-field tfNorms dismax'd at ES's default tie_breaker 0 — vs b14's
    // field-centric sum. Served through the cross-field WAND transpose.
    "b52_cross_fields" -> ((s, d) =>
      DocumentsIndex.multiMatchCross(s, d, "spark src18 de", 20)),
    // B1 query-time synonyms (ES synonym_graph search filter → Lucene
    // SynonymQuery): "hash" plus the group {sort, order} scored as ONE
    // pseudo-term each — per doc tf = Σ member tfs, df = MAX member df.
    "b53_synonyms" -> ((s, d) =>
      DocumentsIndex.synonymMatch(s, d, Seq(Seq("hash"), Seq("sort", "order")))),
    // B25 function_score gauss decay on the dl doc value (origin 60,
    // scale 20, offset 5, decay 0.5; boost_mode multiply): docs within
    // ±5 of dl=60 keep their BM25 score exactly, others decay smoothly.
    "b54_gauss_decay" -> ((s, d) =>
      DocumentsIndex.functionScoreGauss(s, d, "hash table", 60.0, 20.0, 5.0, 0.5, 20)),
    // B24 phrase suggester ("did you mean"): 'joyn' corrects through the
    // per-slot fuzzy expansion; candidate bigrams ranked by corpus
    // adjacency df. Cap contract: vocab (31) < maxExpansions (32).
    "b55_phrase_suggest" -> ((s, d) =>
      DocumentsIndex.suggestPhrase(s, d, "hash joyn", 5)),
    // B21 geo_bounding_box (the cheapest geo query): inclusive box with the
    // ES antimeridian convention — left (120) > right (−140) wraps the date
    // line, with hits on BOTH sides at every SF (the derived lat/lon are
    // correlated mod-residues of doc_id, so box params are chosen so
    // neither wrap arm nor the lat band is vacuous). Pure pushed-down
    // column comparisons, no trig anywhere.
    "b56_geo_bbox" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.withinBox(
        tbl(s, d, "documents").select(col("doc_id"), lat.as("lat"), lon.as("lon")),
        "lat", "lon", top = 80.0, left = 120.0, bottom = -80.0, right = -140.0)
        .select(col("doc_id"), col("lat"), col("lon"))
        .orderBy("doc_id")
    }),
    // B19 adjacency_matrix aggregation: named filters plus every pairwise
    // intersection ('h&j' etc.), membership-conjunction counts, empty
    // buckets omitted (the ES behavior that differs from filters agg).
    "a27_adjacency_matrix" -> ((s, d) => DocumentsIndex.adjacencyMatrix(s, d, Seq(
      "h" -> Seq("hash"), "j" -> Seq("join"), "v" -> Seq("vector")))),
    // ES PIPELINE aggs over a date_histogram parent: derivative (first
    // bucket has nothing to subtract -> dropped, the ES omission),
    // cumulative_sum, max_bucket (tied maxima as rows = ES's keys array).
    "a28_derivative" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.derivative(buckets, "day", "n", "deriv").orderBy("day")
    }),
    "a29_cumulative_sum" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum("value"), 2).as("sum_value"))
      graft.ops.PipelineAggs.cumulativeSum(buckets, "day", "sum_value", "cum")
        .select(col("day"), col("sum_value"), round(col("cum"), 2).as("cum"))
        .orderBy("day")
    }),
    "a30_max_bucket" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.maxBucket(buckets, "day", "n")
    }),
    // ES multi_terms agg: compound (lang, source) buckets over the source
    // table's doc values, (count desc, keys asc) — the full order makes the
    // tie-heavy uniform fixture deterministic in both engines.
    "a31_multi_terms" -> ((s, d) =>
      tbl(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(desc("doc_count"), asc("lang"), asc("source")).limit(10)),
    // ES rare_terms agg over the tags sub-index: the dictionary long tail
    // (df <= 30 keeps the twenty df-25 source tags, drops every lang).
    "b57_rare_terms" -> ((s, d) => DocumentsIndex.rareTerms(s, d, 30L)),
    // ES geotile_grid agg at precision 3 over the derived coords: slippy
    // tile "z/x/y" buckets, (count desc, tile asc), mercator band enforced.
    "b58_geotile_grid" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.geotileGrid(
        tbl(s, d, "documents").select(col("doc_id"), lat.as("lat"), lon.as("lon")),
        "lat", "lon", z = 3, size = 15)
    }),
    // ES has_child (join field documents->events on doc_id=user_id,
    // min_children 12, score_mode sum over filter-context children):
    // parents by matching-error-event count.
    "b59_has_child" -> ((s, d) => graft.ops.JoinFieldOps.hasChild(
        tbl(s, d, "documents"), "doc_id",
        tbl(s, d, "events").where(col("event_type") === "error"), "user_id",
        minChildren = 12L)
      .orderBy(desc("n_children"), asc("doc_id"))),
    // ES has_parent: events whose parent document matches the term filter
    // {vector AND stream} — the parent side is the ids-only index frame.
    "b60_has_parent" -> ((s, d) => graft.ops.JoinFieldOps.hasParent(
        tbl(s, d, "events"), "user_id",
        DocumentsIndex.matchingDocIds(s, d, Seq("vector", "stream")), "doc_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")),
    // ES weighted_avg metric agg: value weighted by the JSON doc value k,
    // per event_type bucket (zero-weight rows contribute nothing — ES's
    // skipped-null-weight shape).
    "a32_weighted_avg" -> ((s, d) => {
      val k = get_json_object(col("props"), "$.k").cast("double")
      tbl(s, d, "events").groupBy("event_type")
        .agg(round(sum(col("value") * k) / sum(k), 4).as("wavg"))
        .orderBy("event_type")
    }),
    // ES moving_fn unweightedAvg (trailing window 7 incl. current) over the
    // daily-count date_histogram; leading partial windows average what
    // exists, exactly like ES.
    "a33_moving_avg" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.movingAvg(buckets, "day", "n", 7, "mavg")
        .select(col("day"), col("n"), round(col("mavg"), 6).as("mavg"))
        .orderBy("day")
    }),
    // ES serial_diff at lag 7 (the de-seasonalized weekly delta) over the
    // same parent buckets; the first 7 buckets have no partner and drop.
    "a34_serial_diff" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.serialDiff(buckets, "day", "n", 7, "sdiff").orderBy("day")
    }),
    // ES sampler agg wrapping significant_terms (the canonical combo): the
    // sub-agg's foreground is the top-50 "hash join" hits, not the full
    // match set.
    "b61_sampler_sig" -> ((s, d) =>
      DocumentsIndex.samplerSigTerms(s, d, "hash join", 50, 10)),
    // ES percolate (reverse search over existing docs vs the stored-query
    // registry): three conjunction queries, one unsatisfiable.
    "b62_percolate" -> ((s, d) => DocumentsIndex.percolate(s, d, Seq(
      "hj" -> Seq("hash", "join"), "sv" -> Seq("sort", "vector"),
      "zz" -> Seq("hash", "qqqzzznotfound")))),
    // Lucene span_first: 'hash' within the first 8 token slots (0-based).
    "b63_span_first" -> ((s, d) => DocumentsIndex.spanFirstMatch(s, d, "hash", 8)),
    // ES _explain (batch): per-(doc, term) BM25 contribution leaves for the
    // top-10 'hash join' hits — the explanation tree as a frame.
    "b64_explain" -> ((s, d) => DocumentsIndex.explain(s, d, "hash join", 10)),
    // ES terms query with LOOKUP: docs sharing a tag (lang or source) with
    // document 42, matched-tag counts; the lookup is ES's own
    // coordinator-side document GET.
    "b65_terms_lookup" -> ((s, d) => DocumentsIndex.termsLookup(s, d, 42L)),
    // ES function_score random_score (seeded deterministic sampling) over
    // the 'vector' filter set: pinned MINSTD hash, top-20.
    "b66_random_score" -> ((s, d) =>
      DocumentsIndex.randomScore(s, d, Seq("vector"), 7L, 20)),
    // Lucene span_not: 'hash' occurrences with no 'join' within one token
    // either side (kills the "hash join" phrase contexts), count form.
    "b71_span_not" -> ((s, d) =>
      DocumentsIndex.spanNotMatch(s, d, "hash", "join", pre = 1, post = 1)),
    // ES _msearch: three queries through ONE batch WAND job (the scaling
    // headline path, surfaced as a contract row).
    "b70_msearch" -> ((s, d) => DocumentsIndex.msearch(s, d,
      Seq("spark join", "window merge batch vector", "hash table"), 10)),
    // ES top_metrics agg: per event_type bucket, the value at the latest
    // timestamp (sort: ts desc, size 1) — ts is unique in this table, so
    // the top row is well-defined in both engines.
    "a36_top_metrics" -> ((s, d) =>
      tbl(s, d, "events").groupBy("event_type")
        .agg(max(col("ts")).as("top_ts"), max_by(col("value"), col("ts")).as("top_value"))
        .orderBy("event_type")),
    // ES stats_bucket (whose projections are avg_bucket / min_bucket /
    // sum_bucket): sibling pipeline over the day-histogram bucket list —
    // one row of stats of the per-day event counts.
    "a37_stats_bucket" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.statsBucket(buckets, "n")
        .select(col("count").as("n_count"), col("min").as("n_min"),
          col("max").as("n_max"), round(col("avg"), 6).as("n_avg"),
          col("sum").as("n_sum"))
    }),
    // ES bucket_script: per-day error share = errors / total, computed
    // from SIBLING metrics of the same bucket (gap policy skip).
    "a38_bucket_script" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "error", 1)).as("err"))
      graft.ops.PipelineAggs.bucketScript(buckets,
          round(col("err").cast("double") / col("n"), 6), "err_share")
        .orderBy("day")
    }),
    // ES bucket_selector: keep only buckets passing a per-bucket metric
    // predicate (error share > 0.22 — a strict subset at both SFs).
    "a39_bucket_selector" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "error", 1)).as("err"))
      graft.ops.PipelineAggs.bucketSelector(buckets,
          col("err").cast("double") / col("n") > 0.22)
        .orderBy("day")
    }),
    // ES bucket_sort: re-rank the day buckets by revenue (tie-broken by
    // day) and serve the from=2 / size=5 slice of the bucket list.
    "a40_bucket_sort" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum("value"), 2).as("sum_value"))
      graft.ops.PipelineAggs.bucketSort(buckets,
        Seq(col("sum_value").desc, col("day").asc), from = 2, size = 5)
    }),
    // ES percentiles_bucket: exact interpolated percentiles of the per-day
    // count across the bucket list (ES is exact here — the list is already
    // reduced; contrast a24's document-grain percentiles).
    "a41_percentiles_bucket" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.percentilesBucket(buckets, "n", Seq(25, 50, 75, 99))
    }),
    // ES normalize (method percent_of_sum): each day bucket's share of the
    // total — 1-row stats frame broadcast into the bucket list.
    "a42_normalize" -> ((s, d) => {
      val buckets = tbl(s, d, "events").groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.PipelineAggs.normalize(buckets, "n", "percent_of_sum", "pct")
        .select(col("day"), col("n"), round(col("pct"), 6).as("pct"))
        .orderBy("day")
    }),
    // ES value_count + missing over a SPARSE field: the purchase amount
    // exists only on purchase events — exactly the sparse-doc shape those
    // two aggs exist for; one combinable pass serves both.
    "a43_value_count" -> ((s, d) =>
      graft.ops.MetricAggs.valueCountMissing(
        tbl(s, d, "events")
          .withColumn("day", to_date(col("ts")))
          .withColumn("purchase_value",
            when(col("event_type") === "purchase", col("value"))),
        "purchase_value", "day")),
    // ES string_stats: per-lang length stats + Shannon entropy of the
    // pooled character distribution of the source field.
    "a44_string_stats" -> ((s, d) =>
      graft.ops.MetricAggs.stringStats(tbl(s, d, "documents"), "source", "lang")),
    // ES median_absolute_deviation (exact two-pass; t-digest = 100 TB path)
    "a45_mad" -> ((s, d) =>
      graft.ops.MetricAggs.medianAbsoluteDeviation(
        tbl(s, d, "documents"), "n_chars", "lang")),
    // ES boxplot (exact interpolated quartiles, the a24 protocol)
    "a46_boxplot" -> ((s, d) =>
      graft.ops.MetricAggs.boxplot(tbl(s, d, "lineitem"), "l_quantity", "l_returnflag")),
    // ES matrix_stats between the event value and its JSON doc-value k —
    // one combinable central-moment pass.
    "a47_matrix_stats" -> ((s, d) =>
      graft.ops.MetricAggs.matrixStats(
        tbl(s, d, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("double")),
        "value", "k")),
    // ES auto_date_histogram: ladder pick (hour → day → month) at target
    // 40 — 30 daily buckets fit, ~720 hourly ones don't, so `day` is chosen
    // at every SF and the chosen interval is pinned as a column.
    "a48_auto_date_histogram" -> ((s, d) =>
      graft.ops.MetricAggs.autoDateHistogram(tbl(s, d, "events"), "ts", 40)),
    // ES rank_feature (saturation): static-relevance score dl/(dl+pivot)
    // off the registry doc value — one scan, one codegen'd projection.
    "b67_rank_feature" -> ((s, d) => DocumentsIndex.rankFeature(s, d, 64.0, 20)),
    // ES distance_feature (geo): proximity score pivot/(pivot + km) over
    // the 4-dp protocol haversine from (10N, 20E).
    "b68_distance_feature" -> ((s, d) =>
      DocumentsIndex.distanceFeature(s, d, 10.0, 20.0, 500.0, 20)),
    // ES pinned query: curated ids (one unknown, silently dropped) above
    // the organic 'hash join' ranking.
    "b69_pinned" -> ((s, d) =>
      DocumentsIndex.pinnedQuery(s, d, "hash join", Seq(42L, 7L, 99999L), 20)),
    // ES geo_distance aggregation: ring buckets from (10N, 20E) over the
    // 4-dp protocol distance, ES's "*-2000.0" key style, empty rings kept
    // at count 0 (ES returns every requested range).
    "a35_geo_distance_agg" -> ((s, d) => {
      import s.implicits._
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      val pts = tbl(s, d, "documents")
        .select(col("doc_id"), lat.as("lat"), lon.as("lon"))
        .select(round(graft.ops.GeoOps.haversineKm(col("lat"), col("lon"), 10.0, 20.0), 4).as("km"))
      val ring = when(col("km") < 2000.0, "*-2000.0")
        .when(col("km") < 6000.0, "2000.0-6000.0").otherwise("6000.0-*")
      val counts = pts.groupBy(ring.as("ring")).agg(count(lit(1)).as("doc_count"))
      Seq("*-2000.0", "2000.0-6000.0", "6000.0-*").toDF("ring")
        .join(counts, Seq("ring"), "left")
        .select(col("ring"), coalesce(col("doc_count"), lit(0L)).as("doc_count"))
        .orderBy("ring")
    }),
    // B19 composite aggregation (the PAGINATED facet): a keyset page of the
    // tags dictionary strictly after 'en' — 5 KEY-ordered buckets (composite
    // orders by key, not count).
    "a25_composite" -> ((s, d) => DocumentsIndex.termsComposite(s, d, 5, Some("en"))),
    // B19 filters aggregation: named term-conjunction buckets with doc
    // counts; the 'none' bucket's conjunct is absent from the index, so its
    // count is 0 (ES keeps the named bucket).
    "a26_filters_agg" -> ((s, d) => DocumentsIndex.filtersAgg(s, d, Seq(
      "both" -> Seq("hash join"), "none" -> Seq("hash qqqzzznotfound"),
      "sorted" -> Seq("sort order")))),
    // B16 terms_set query (ES CoveringQuery over term clauses): docs with
    // >= 2 of the three terms, scored as the matched clauses' BM25 sum —
    // the msm executor reused under a pinned constant floor (this schema
    // has no per-doc minimum_should_match_field; documented divergence).
    "b72_terms_set" -> ((s, d) =>
      DocumentsIndex.termsSetQuery(s, d, Seq("merge", "vector", "window"), 2)),
    // B17 match_bool_prefix (the positionless autocomplete bool form):
    // "hash" scored BM25, "jo*" a constant-score-1 prefix clause, either
    // alone matches (bool msm = 1).
    "b73_bool_prefix" -> ((s, d) => DocumentsIndex.matchBoolPrefix(s, d, "hash jo")),
    // B11 _count API: the matching-doc count of an OR match as ONE ids-only
    // aggregated row — no scoring, no payloads.
    "b74_count" -> ((s, d) => DocumentsIndex.countMatches(s, d, "spark stream")),
    // B31 _termvectors API (no-stored-vectors mode — ES re-analyzes the
    // live _source): doc 42's term vectors with tf, corpus df
    // (term_statistics=true) and comma-joined positions.
    "b75_termvectors" -> ((s, d) => DocumentsIndex.termVectors(s, d, 42L)),
    // B24 diversified_sampler: the top-30 'query sort' sample de-duplicated
    // to <= 2 docs per lang (max_docs_per_value on the diversity field).
    "b76_div_sample" -> ((s, d) =>
      DocumentsIndex.diversifiedSample(s, d, "query sort", 30, 2)),
    // TD ES-8 kNN search with filter (knn.filter pre-filters candidates;
    // exact when num_candidates covers the filtered set — the brute
    // baseline the ANN paths verify against): cosine top-10 among label=3.
    "b77_knn_filtered" -> ((s, d) => graft.ops.VectorOps.cosineTopKAmong(
      tbl(s, d, "embeddings").where(col("label") === 3),
      tbl(s, d, "embeddings"), 0L, 10)),
    // B29 children aggregation: per parent lang bucket, child-event count
    // and mean value across the doc_id<-user_id join field.
    "a49_children_agg" -> ((s, d) => graft.ops.JoinFieldOps.childrenAgg(
      tbl(s, d, "documents"), "doc_id", "lang",
      tbl(s, d, "events"), "user_id", "value")),
    // B21 geo_bounds aggregation (pinned wrap_longitude=false): the
    // tightest box around the derived points — integer-exact 2-dp decimals.
    "a50_geo_bounds" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.geoBounds(
        tbl(s, d, "documents").select(lat.as("lat"), lon.as("lon")), "lat", "lon")
    }),
    // B21 geo_centroid aggregation: planar mean point + count, 4 dp.
    "a51_geo_centroid" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.geoCentroid(
        tbl(s, d, "documents").select(lat.as("lat"), lon.as("lon")), "lat", "lon")
    }),
    // B19 date_range aggregation: three half-open ranges over the events
    // stream, unbounded edges in the ES '*' key style, empties kept.
    "a52_date_range" -> ((s, d) => graft.ops.MetricAggs.dateRangeAgg(
      tbl(s, d, "events"), "ts", "value", Seq("2024-01-10", "2024-01-20"))),
    // B19 cumulative_cardinality pipeline agg: exact running distinct-user
    // count per day via the first-seen-day identity (ES's HLL is
    // approximate — documented divergence in the exact direction).
    "a53_cum_cardinality" -> ((s, d) => graft.ops.PipelineAggs
      .cumulativeCardinality(tbl(s, d, "events"), "ts", "user_id")),
    // B19 t_test aggregation (Welch unpaired, the ES default): click vs
    // error event values, one conditional-moments pass.
    "a54_t_test" -> ((s, d) => graft.ops.MetricAggs.tTest(
      tbl(s, d, "events"), "value", "event_type", "click", "error")),
    // B19 rate aggregation: weekly buckets reported per day (unit=day
    // under a week calendar_interval — exact /7 rescale).
    "a55_rate" -> ((s, d) => graft.ops.MetricAggs.rateAgg(
      tbl(s, d, "events"), "ts", "value")),
    // B15 intervals query (ES any_of over ordered match rules with
    // max_gaps): "hash join" within 1 gap OR "sort merge" adjacent —
    // summed interval starts (distinct lead terms => exact merged count).
    "b78_intervals" -> ((s, d) => DocumentsIndex.intervalsAnyOf(s, d,
      Seq(("hash join", 1), ("sort merge", 0)))),
    // B31 _rank_eval: precision@10 / MRR / DCG@10 for two queries against
    // the deterministic gold rule (query terms + 'dup' — rarer than the
    // query's own conjunction, so the metrics discriminate).
    "b79_rank_eval" -> ((s, d) => DocumentsIndex.rankEval(s, d,
      Seq("merge sort", "query window"), 10, Seq("dup"))),
    // ES runtime fields (runtime_mappings): top-10 hits with the
    // query-time chars_per_token = n_chars / dl script field.
    "b80_runtime_fields" -> ((s, d) =>
      DocumentsIndex.runtimeFieldSearch(s, d, "spark join", 10)),
    // ES min_score: the rank-all frame cut at protocol score >= 0.2.
    "b81_min_score" -> ((s, d) =>
      DocumentsIndex.minScoreSearch(s, d, "spark join", 0.2)),
    // A1 sliced scroll (upstream es2json slices scrolls for parallel
    // export): slice 1 of 4, pinned doc_id % 4 (ES hashes _id — modulo
    // documented as the deterministic stand-in).
    "a56_sliced_scan" -> ((s, d) =>
      tbl(s, d, "documents").where(col("doc_id") % 4 === 1)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    // B19 percentile_ranks (inverse percentiles — EXACT; ES's TDigest is
    // approximate, divergence in the exact direction): % of event values
    // at or below each probe, in ES's (value, pct) response shape. Shares
    // MetricAggs.percentileRanks with a70 (lineitem probes).
    "a57_percentile_ranks" -> ((s, d) =>
      graft.ops.MetricAggs.percentileRanks(tbl(s, d, "events"),
        "value", Seq(25.0, 50.0, 75.0))),
    // B19 global aggregation: corpus-wide stats NEXT TO a filtered bucket
    // (ES `global` escapes the enclosing filter scope).
    "a58_global_agg" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      docs.agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .select(lit("global").as("bucket"), col("n"), col("avg_chars"))
        .unionByName(docs.where(col("lang") === "en")
          .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 4).as("avg_chars"))
          .select(lit("lang_en").as("bucket"), col("n"), col("avg_chars")))
        .orderBy("bucket")
    }),
    // B19 scripted_metric aggregation: user-scripted init/map/combine/
    // reduce as a typed Aggregator (the 1:1 Spark-native contract for the
    // four ES scripts) — pinned script = per-event_type RMS of value.
    "a59_scripted_metric" -> ((s, d) => graft.ops.MetricAggs.scriptedMetric(
      tbl(s, d, "events"), "value", "event_type")),
    // B19 histogram with extended_bounds + min_doc_count=0: width-25 value
    // buckets forced out to the [-50, 500] bounds — empty buckets emitted
    // at n = 0 (the axis shape chart clients depend on).
    "a60_histogram_bounds" -> ((s, d) => graft.ops.MetricAggs.histogramBounds(
      tbl(s, d, "events"), "value", 25L, -50L, 500L)),
    // B32 multi-index search (GET /documents,documents_tags/_search): one
    // query against both indexes, each under its OWN corpus stats (ES
    // never blends cross-index idf), merged globally with the _index
    // tie-break — 'en' hits the tags index, 'spark' the text index.
    "b82_multi_index" -> ((s, d) =>
      DocumentsIndex.multiIndexSearch(s, d, "en spark", 10)),
    // B27 simple_query_string (lenient surface grammar, shared BooleanQuery
    // composer with b49): optional phrase + optional prefix, prohibited
    // 'merge', required 'spark' (leading '+' = infix-AND chunk).
    "b83_simple_qs" -> ((s, d) =>
      DocumentsIndex.simpleQueryString(s, d, "\"hash join\" | quer* -merge +spark")),
    // B33 rrf retriever (ES 8 hybrid search): BM25('spark join') fused
    // with kNN(vec 0) via reciprocal rank fusion — 1/(60+rank) summed over
    // each retriever's top-100 window, top 10 fused hits.
    "b84_rrf" -> ((s, d) => DocumentsIndex.rrfSearch(s, d, "spark join", 0L)),
    // B22/B10 field collapse with inner_hits: top-3 hits per lang group,
    // ranked inside the group under the protocol order.
    "b85_collapse_inner" -> ((s, d) =>
      DocumentsIndex.collapseInnerHits(s, d, "hash table", 3)),
    // B29 has_child with inner_hits: qualifying parents (>= 12 error
    // events) each carrying their top-3 children by (value desc, event_id).
    "b86_has_child_inner" -> ((s, d) => {
      val errs = tbl(s, d, "events").where(col("event_type") === "error")
      graft.ops.JoinFieldOps.hasChildInnerHits(tbl(s, d, "documents"), "doc_id",
          errs, "user_id", "value", "event_id", 3, minChildren = 12L)
        .select(col("user_id").as("parent_id"), col("hit_rank"),
          col("event_id"), col("value"))
        .orderBy("parent_id", "hit_rank")
    }),
    // B16 minimum_should_match PERCENTAGE spec: '75%' of 4 should clauses
    // resolves to floor(3) — the parameter form every ES client sends.
    "b87_msm_pct" -> ((s, d) => DocumentsIndex.bm25BoolMsmSpec(s, d, Nil,
      Seq("join", "vector", "window", "stream"), "75%")),
    // B14 point-in-time search: the PIT manifest here = the delta index's
    // BASE segment only — deterministically the manifest openPit returned
    // before the delta commit landed (segments are immutable; the sbt gate
    // proves live open-commit-search bit-stability).
    "b88_pit" -> ((s, d) => DocumentsIndex.pitSearch(s, d, "spark join",
      Seq(DocumentsIndex.deltaIndexDir(s, d)))),
    // B18 fuzzy with prefix_length=1: edits only after the exact first
    // char — the expansion scans a dictionary RANGE slice, not every term.
    "b89_fuzzy_prefix" -> ((s, d) =>
      DocumentsIndex.fuzzyMatch(s, d, "bag", 2, prefixLength = 1)),
    // A3 _mget: k keyed GETs with per-id found/missing flags — the id list
    // pushes to the scan as an IN filter, the miss marker is a left join
    // over the (tiny) found set.
    "a61_mget" -> ((s, d) => {
      import s.implicits._
      val wanted = Seq(1L, 7L, 42L, 123456789L)
      val found = tbl(s, d, "documents").where(col("doc_id").isin(wanted: _*))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      wanted.toDF("doc_id").join(found, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang").isNotNull.as("found"),
          coalesce(col("lang"), lit("")).as("lang"),
          coalesce(col("n_chars"), lit(0L)).as("n_chars"))
        .orderBy("doc_id")
    }),
    // B31 _profile (deterministic structural core): per-leaf matched-doc
    // counts (dictionary df) incl. an absent leaf at 0, plus the composed
    // bool hit count.
    "b94_profile" -> ((s, d) => DocumentsIndex.profileBool(s, d,
      Seq("hash"), Seq("join", "vector", "zzmissing"), Seq("merge"))),
    // B21 geo_polygon (pinned planar-convex v1): CCW triangle containment
    // via per-edge cross-product signs — multiply/subtract only, exact
    // doubles in both engines.
    "b95_geo_polygon" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.withinConvexPolygon(
        tbl(s, d, "documents").select(col("doc_id"), lat.as("lat"), lon.as("lon")),
        "lat", "lon", Seq((-60.0, -120.0), (-10.0, 150.0), (70.0, -30.0)))
        .select("doc_id", "lat", "lon").orderBy("doc_id")
    }),
    // TD near-dup CLUSTERING: connected components over the simhash pair
    // graph, min-id canonical keeper — the survivor-selection step after
    // pair generation.
    "td_dedup_clusters" -> ((s, d) => DedupOps.nearDupClusters(
      DedupOps.simhashNearPairs(s, tbl(s, d, "documents"), 8))),
    // TD stratified sampling: deterministic per-stratum rates (50% en /
    // 20% rest) off a pinned LCG residue — the training-mix sampler.
    "td_stratified_sample" -> ((s, d) => {
      val h = ((col("doc_id") * 1103515245L + 12345L) % 100L + 100L) % 100L
      tbl(s, d, "documents").select(col("doc_id"), col("lang"), h.as("h"))
        .where(when(col("lang") === "en", col("h") < 50).otherwise(col("h") < 20))
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    // TD repetition quality (Gopher dup-n-gram rule): duplicate word-trigram
    // fraction per doc — a pure narrow map, nothing leaves the row.
    "td_repetition" -> ((s, d) =>
      graft.ops.TextOps.repetition(tbl(s, d, "documents")).orderBy("doc_id")),
    // TD decontamination: corpus docs sharing a word-5-gram shingle with the
    // benchmark stand-in (doc_id % 50 == 0) — broadcast benchmark shingles.
    "td_contamination" -> ((s, d) => DedupOps.contamination(
      tbl(s, d, "documents"), col("doc_id") % 50 === 0).orderBy("doc_id")),
    // A5 _delete_by_query: matched docs (lang = 'de') dropped THROUGH the
    // crash-safe staged swap, then the post-delete table state is served.
    "a65_delete_by_query" -> ((s, d) => {
      import graft.io.Tables
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("lang"), col("source"))
      val dir = s"/tmp/graft_dbq_${graft.fixtures.CorpusGen.sha256Hex(d).substring(0, 12)}"
      Tables.write(docs, dir, "docs") // fresh target each run => idempotent entry
      Tables.deleteByQuery(s, dir, "docs", col("lang") === "de")
      Tables.read(s, dir, "docs").select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // A5 _reindex: source query (lang = 'en') + script (fingerprint + token
    // count derived, both narrow built-ins) into a fresh dest table, served
    // back from storage — the ES reindex-with-script shape.
    "a66_reindex" -> ((s, d) => {
      import graft.io.Tables
      val dir = s"/tmp/graft_reix_${graft.fixtures.CorpusGen.sha256Hex(d).substring(0, 12)}"
      val transformed = tbl(s, d, "documents").where(col("lang") === "en")
        .select(col("doc_id"), md5(col("text")).as("fp"),
          expr("size(filter(split(lower(text), '[^a-z0-9_]+'), t -> t != ''))")
            .cast("long").as("n_tokens"))
      Tables.write(transformed, dir, "dest")
      Tables.read(s, dir, "dest").select("doc_id", "fp", "n_tokens").orderBy("doc_id")
    }),
    // B1 _analyze API: the pinned analyzer's token stream for a request
    // literal — (0-based position, token); request-sized, nothing scans.
    "b96_analyze" -> ((s, _) => DocumentsIndex.analyzeDf(s,
      "Hash-Join builds a HASH table; probe_side streams 42 rows & exits.")),
    // _field_caps API: pinned parquet->ES type mapping over the documents
    // schema; text is analyzed (not aggregatable), the rest keyword/long.
    "b97_field_caps" -> ((s, d) => DocumentsIndex.fieldCaps(s, d)),
    // B29 parent aggregation: child-side buckets (event_type) ask about
    // their PARENTS — distinct-parent count + parent-grain n_chars mean.
    "a67_parent_agg" -> ((s, d) => graft.ops.JoinFieldOps.parentAgg(
      tbl(s, d, "events"), "user_id", "event_type",
      tbl(s, d, "documents"), "doc_id", "n_chars")),
    // frequent_item_sets (pinned pairs): user-day sessions as transactions,
    // event types as items, support >= 0.14 on the 4-dp rounded ratio —
    // discriminative at every SF (supports cluster 0.13-0.16).
    "a68_frequent_pairs" -> ((s, d) => graft.ops.MetricAggs.frequentPairs(
      tbl(s, d, "events").select(
        concat_ws("#", col("user_id"), to_date(col("ts"))).as("txn"),
        col("event_type")),
      "txn", "event_type", 0.14)),
    // B33 sparse_vector (ELSER/text_expansion serving shape): sparse
    // term->weight dot product with the doc tf vector; binary-fraction
    // weights keep every sum exact; absent term contributes nothing.
    "b98_sparse_vector" -> ((s, d) => DocumentsIndex.sparseVector(s, d,
      Map("hash" -> 2.0, "join" -> 1.0, "vector" -> 0.5, "zzmissing" -> 4.0))),
    // B15 span_or: union of term span sets — occurrences of any clause.
    "b99_span_or" -> ((s, d) =>
      DocumentsIndex.spanOrMatch(s, d, Seq("hash", "vector", "stream"))),
    // B32 _mtermvectors: per-(doc, term) vectors for an id list in ONE
    // pushdown fetch; the absent id emits no rows.
    "b100_mtermvectors" -> ((s, d) =>
      DocumentsIndex.termVectorsMulti(s, d, Seq(7L, 42L, 99L, 999999L))),
    // B21 geohash_grid: standard geohash cells (precision 2), top-15 by
    // (count desc, key) — pure integer interleave after one IEEE div/mul.
    "a69_geohash_grid" -> ((s, d) => {
      val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
      graft.ops.GeoOps.geohashGrid(
        tbl(s, d, "documents").select(lat.as("lat"), lon.as("lon")),
        "lat", "lon", precision = 2, size = 15)
    }),
    // B18 fuzzy with ES `transpositions: true` (the default Lucene fuzziness
    // mode): one adjacent swap = ONE edit, so "ordre"@1 reaches 'order'
    // (classic levenshtein = 2 — the transpositions=false row b20 would
    // find NOTHING at maxEdits 1). Unrestricted Damerau–Levenshtein via the
    // native codegen'd expression; the oracle's damerau_levenshtein() is
    // the same unrestricted variant (see graft.functions.DamerauLevenshtein).
    "b101_fuzzy_transpositions" -> ((s, d) =>
      DocumentsIndex.fuzzyMatch(s, d, "ordre", maxEdits = 1, transpositions = true)),
    // B13 combined_fields (BM25F): term-centric multi-field scoring — the
    // fields merge into ONE synthetic field (weighted tf, weighted dl,
    // union df) BEFORE BM25. 'hash' lives only in text, 'de' only in tags,
    // so the row exercises the union df + weighted dl_c economics; the
    // overlapping-vocabulary tf_c merge is sbt-gated (Ring12Spec).
    "b102_combined_fields" -> ((s, d) =>
      DocumentsIndex.combinedFields(s, d, "hash de", Seq("text^2", "tags"))),
    // Training-data quality signal: per-doc unigram LM mean log-probability
    // (the corpus IS the model — Σ tf·ln(cf/C) / dl). Common-vocabulary
    // docs score high; rare-token noise scores low.
    "td_unigram_lm" -> ((s, d) => DocumentsIndex.unigramLogProb(s, d)),
    // B16 terms_set: per-doc dynamic minimum_should_match — the pinned
    // script form 1 + doc_id % 3 (no count column in this schema).
    "b103_terms_set" -> ((s, d) => DocumentsIndex.termsSetMatch(s, d,
      Seq("hash", "join", "vector", "stream"))),
    // B15 span_multi in span_near: occurrences of ANY 's'-prefixed term
    // within slop 2 (unordered) of 'join' — the expansion composed INTO
    // span position arithmetic.
    "b104_span_multi" -> ((s, d) =>
      DocumentsIndex.spanMultiNear(s, d, "s", "join", slop = 2)),
    // A15 percentile_ranks: the inverse percentiles lookup — exact
    // (100·|{v ≤ x}|/n, the a24 exact/approx split; t-digest = 100 TB path).
    "a70_percentile_ranks" -> ((s, d) =>
      graft.ops.MetricAggs.percentileRanks(tbl(s, d, "lineitem"),
        "l_quantity", Seq(10.0, 25.0, 49.0))),
    // B24 significant_text: sig terms RE-ANALYZED from the sample's SOURCE
    // text with filter_duplicate_text (exact-dup texts count once; this
    // corpus has none, so the knob is a documented no-op here — the row's
    // structure is the source-scan + re-analysis plan, vs b61's postings).
    "b105_significant_text" -> ((s, d) =>
      DocumentsIndex.significantText(s, d, "vector stream", 30, 8)),
    // B15 span_containing: unordered (hash, join) windows at gap <= 4 that
    // hold a 'table' occurrence — distinct containing windows per doc.
    "b92_span_containing" -> ((s, d) =>
      DocumentsIndex.spanContaining(s, d, "hash", "join", 4, "table")),
    // B15 span_within — the inverse: 'table' occurrences sitting inside a
    // (hash, join) window.
    "b93_span_within" -> ((s, d) =>
      DocumentsIndex.spanWithin(s, d, "hash", "join", 4, "table")),
    // B33 linear retriever (ES 8, rrf's weighted sibling): min-max
    // normalized BM25 and cosine windows fused at 0.75/0.25 (exact binary
    // weights), top 10.
    "b90_linear_retriever" -> ((s, d) =>
      DocumentsIndex.linearSearch(s, d, "spark join", 0L, 0.75, 0.25)),
    // B25 term suggester suggest_mode=popular: only corrections MORE
    // frequent than the input ('part' df sits between its neighbours', so
    // the gate bites).
    "b91_suggest_popular" -> ((s, d) =>
      DocumentsIndex.suggest(s, d, "part", 2, 5, mode = "popular")),
    // A6 _cat/segments: per-segment docs + token counts straight off the
    // delta-served index's registries (segment 0 = base, 1 = delta).
    "a63_cat_segments" -> ((s, d) => {
      val idx = DocumentsIndex.deltaIndexDir(s, d)
      graft.index.DeltaIndex.segmentDirs(s, idx).zipWithIndex.map { case (seg, i) =>
        graft.index.InvertedIndex.read(s, seg, graft.index.InvertedIndex.DocsTable)
          .agg(count(lit(1)).as("docs"), sum(col("dl")).as("tokens"))
          .select(lit(i).as("segment"), col("docs"), col("tokens"))
      }.reduce(_ unionByName _).orderBy("segment")
    }),
    // A5 versioned upsert (ES version_type=external optimistic
    // concurrency): v2 batch lands, v0 batch is stale and drops — including
    // on keys in BOTH batches (max-version winner per key).
    "a64_versioned_upsert" -> ((s, d) => {
      import graft.io.Tables
      val base = tbl(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"), lit(1L).as("version"))
      val dir = s"/tmp/graft_vup_${graft.fixtures.CorpusGen.sha256Hex(d).substring(0, 12)}"
      Tables.write(base, dir, "cust") // fresh target each run => idempotent entry
      val fresh = tbl(s, d, "customer").where(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 500.0).as("c_acctbal"),
          lit(2L).as("version"))
      val stale = tbl(s, d, "customer").where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit(-999.0).as("c_acctbal"), lit(0L).as("version"))
      Tables.upsertVersioned(s, dir, "cust", fresh.unionByName(stale),
        Seq("c_custkey"), "version")
      Tables.read(s, dir, "cust")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"), col("version"))
        .orderBy("c_custkey")
    }),
    // A5 _update_by_query: matched docs (lang = 'de') get the script
    // applied (n_chars += 1000) THROUGH the storage round-trip — the write
    // API semantics, then the post-update table state is served.
    "a62_update_by_query" -> ((s, d) => {
      import graft.io.Tables
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val dir = s"/tmp/graft_ubq_${graft.fixtures.CorpusGen.sha256Hex(d).substring(0, 12)}"
      Tables.write(docs, dir, "docs") // fresh target each run => idempotent entry
      val matched = Tables.read(s, dir, "docs").where(col("lang") === "de")
      Tables.upsert(s, dir, "docs",
        matched.withColumn("n_chars", col("n_chars") + 1000L), Seq("doc_id"))
      Tables.read(s, dir, "docs").select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    // -- Layer A: toolchain operators (SURVEY.md §2.1/2.2) -----------------
    "a01_scan_projection" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .where(col("l_quantity") >= 48)
        .orderBy("l_orderkey", "l_linenumber")),
    "a03_fetch_by_ids" -> ((s, d) =>
      tbl(s, d, "orders")
        .where(col("o_orderkey").isin(1L, 3L, 7L, 32L, 33L, 64L, 100L, 101L))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),
    "a08_predicate" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .where(expr("l_shipdate >= timestamp'1995-06-01' AND l_shipdate < timestamp'1995-09-01'") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")),
    "a11_multivalue_merge" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          array_join(array_sort(array_distinct(array(col("lang"), col("source"), lit("corpus")))), ",").as("merged"))
        .orderBy("doc_id")),
    "a12_entity_split" -> ((s, d) => {
      import s.implicits._
      // typed UDTF-shaped 1->n split (Dataset.flatMap), not SQL explode
      tbl(s, d, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val (m, _) = graft.tokenize.CodeTokenizer.tfMap(text)
          m.iterator.map { case (t, tf) => (id, t, tf.toLong) }
        }
        .toDF("doc_id", "term", "tf")
        .orderBy("doc_id", "term")
    }),
    "a13_dedup_by_key" -> ((s, d) =>
      tbl(s, d, "documents")
        .groupBy("lang", "source")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
        .orderBy("lang", "source")),
    "a14_enrichment_join" -> ((s, d) =>
      tbl(s, d, "orders").as("o")
        .join(broadcast(tbl(s, d, "customer").as("c")), col("o.o_custkey") === col("c.c_custkey"), "left")
        .where(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_totalprice"),
          coalesce(col("c_name"), lit("")).as("c_name"),
          coalesce(col("c_nationkey").cast("long"), lit(-1L)).as("c_nationkey"))
        .orderBy("o_orderkey")),
    "a15_stats_agg" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(sum("l_discount"), 4).as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
    "a16_events_json" -> ((s, d) =>
      tbl(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")),
    "a17_window_topn" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),
    "a18_set_intersect" -> ((s, d) =>
      tbl(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(tbl(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),
    // A15 family: cardinality aggregation (ES cardinality agg). The driver
    // row is the EXACT distinct count (oracle-comparable); the 100 TB form
    // is approx_count_distinct (HLL++, mergeable partial sketches, no
    // distinct exchange) — accuracy-gated in sbt (OpsSpec), documented as
    // the scale path.
    "a19_cardinality" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("distinct_parts"),
          countDistinct("l_suppkey").as("distinct_supps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),
    // A15 family: extended_stats aggregation (ES extended_stats — count/min/
    // max/sum/avg/variance/std in one pass). All moments come out of ONE
    // map-side-combinable aggregate (Spark's central-moment partials merge
    // associatively — the 100 TB shape); variance/std rounded at 4 dp to
    // absorb the engines' different (numerically stable vs naive) moment
    // algorithms' sub-1e-9 drift.
    "a22_extended_stats" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          round(min("l_quantity"), 2).as("min_qty"),
          round(max("l_quantity"), 2).as("max_qty"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(var_pop("l_quantity"), 4).as("var_qty"),
          round(stddev_pop("l_quantity"), 4).as("std_qty"))
        .orderBy("l_returnflag")),
    // A15/B19 family: range aggregation (ES range agg — explicit bucket
    // bounds, the non-uniform sibling of a20's fixed-width histogram): char
    // -count bands over documents with per-band counts + means. The CASE
    // bucket expression is spelled identically in the twin.
    "a23_range_agg" -> ((s, d) =>
      tbl(s, d, "documents")
        .withColumn("range_lo",
          when(col("n_chars") < 500, 0L).when(col("n_chars") < 1500, 500L).otherwise(1500L))
        .groupBy("range_lo")
        .agg(count(lit(1)).as("n"), round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("range_lo")),
    // A15 family: percentiles aggregation (ES `percentiles` agg). This row
    // serves the EXACT percentile (linear interpolation at rank p·(n−1) —
    // the same definition DuckDB's quantile_cont pins); ES defaults to
    // t-digest, and the mergeable 100 TB path here is approx_percentile
    // (accuracy-gated in sbt, same split as a19's cardinality row).
    "a24_percentiles" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.50)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"))
        .orderBy("l_returnflag")),
    // A4: LDJ (line-delimited JSON) source + sink — the es2json/esmarc I/O
    // format: write the documents table as gzip LDJ, read it back, and
    // return a content digest per row. The oracle is a plain SELECT over
    // the original table — round-trip identity IS the contract, so any
    // encode/decode corruption (escaping, unicode, compression) breaks the
    // hash compare.
    "a04_ldj_roundtrip" -> ((s, d) => {
      val src = tbl(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
      // unique dir per invocation: a fixed name would let a concurrent
      // re-invocation's overwrite delete files under this one's lazy read
      val dir = s"/tmp/graft_ldj_${java.util.UUID.randomUUID().toString.take(8)}"
      src.write.option("compression", "gzip").json(dir)
      // the read below is lazy (may re-scan on every action), so the dir
      // can't be deleted inline — register it for recursive deletion at
      // FileSystem close (JVM exit) instead: repeated bench/verify runs no
      // longer accumulate gzip corpus copies under /tmp
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(p)
      s.read.schema(src.schema).json(dir)
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("text_sha"))
        .orderBy("doc_id")
    }),
    // A2: page-batched scan — deterministic (group, page) batching of a
    // keyed export (the esfatgenerator shape), stats per page.
    "a02_page_scan" -> ((s, d) =>
      graft.ops.PageScan.pageStats(
        tbl(s, d, "lineitem")
          .select((col("l_orderkey") % 8).as("grp"), col("l_orderkey"), col("l_linenumber")),
        groupCol = "grp", orderCols = Seq("l_orderkey", "l_linenumber"),
        pageSize = 500, keyCol = "l_orderkey")
        .orderBy("grp", "page")),
    // A5/A14 write-back: keyed upsert (MERGE) into an existing table —
    // enrichment updates replace matching keys, new keys append; the query
    // returns the post-merge table so the oracle can rebuild it relationally.
    "a05_upsert" -> ((s, d) => {
      import graft.io.Tables
      val base = tbl(s, d, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val updates = tbl(s, d, "customer").where(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit(" (enriched)")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(tbl(s, d, "customer").where(col("c_custkey") <= 3)
          .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
            lit(0.0).as("c_acctbal")))
      val dir = s"/tmp/graft_upsert_${graft.fixtures.CorpusGen.sha256Hex(d).substring(0, 12)}"
      Tables.write(base, dir, "enriched") // fresh target each run => idempotent entry
      Tables.upsert(s, dir, "enriched", updates, Seq("c_custkey"))
      Tables.read(s, dir, "enriched")
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("c_custkey")
    }),
    // A6: index lifecycle — create a table generation over the parquet dir,
    // swap the serving alias to it, query THROUGH the alias.
    "a06_lifecycle" -> ((s, d) => {
      graft.io.Lifecycle.createOrReplaceTable(s, "graft_documents_v2", s"$d/documents.parquet")
      graft.io.Lifecycle.aliasSwap(s, "graft_documents", "graft_documents_v2")
      s.sql("""SELECT lang, count(*) AS n, cast(sum(n_chars) AS bigint) AS sum_chars
              |FROM graft_documents GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // -- Training-data pipeline operators ----------------------------------
    "td_exact_dedup" -> ((s, d) =>
      DedupOps.exactDupGroups(tbl(s, d, "documents")).orderBy("fp")),
    "td_fingerprint" -> ((s, d) =>
      TextOps.fingerprint(tbl(s, d, "documents")).orderBy("doc_id")),
    "td_token_counts" -> ((s, d) =>
      TextOps.tokenCounts(tbl(s, d, "documents"))
        .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
          col("n_terms"), col("n_distinct_terms"))
        .orderBy("doc_id")),
    "td_quality" -> ((s, d) =>
      TextOps.quality(tbl(s, d, "documents"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_alpha").cast("long").as("n_alpha"), col("n_digit").cast("long").as("n_digit"),
          col("n_space").cast("long").as("n_space"), col("n_terms"), col("stop_cnt"),
          col("alpha_ratio"), col("stop_ratio"))
        .orderBy("doc_id")),
    "td_langid" -> ((s, d) =>
      TextOps.langId(tbl(s, d, "documents")).orderBy("doc_id")),
    "td_minhash_bands" -> ((s, d) =>
      DedupOps.minhashBands(tbl(s, d, "documents")).orderBy("doc_id", "band")),
    "td_neardup_minhash" -> ((s, d) =>
      DedupOps.nearDupPairs(tbl(s, d, "documents"), 0.6).orderBy("a", "b")),
    "td_ngram_jaccard" -> ((s, d) =>
      DedupOps.ngramJaccardPairs(tbl(s, d, "documents"), 0.5, 20).orderBy("a", "b")),
    "td_simhash" -> ((s, d) =>
      DedupOps.simhash(s, tbl(s, d, "documents")).orderBy("doc_id")),
    "td_simhash_pairs" -> ((s, d) =>
      DedupOps.simhashNearPairs(s, tbl(s, d, "documents"), 8).orderBy("a", "b")),
    "td_cosine_topk" -> ((s, d) =>
      VectorOps.cosineTopK(tbl(s, d, "embeddings"), probeId = 0L, k = 10)),
    "td_ann_lsh" -> ((s, d) =>
      VectorOps.lshAnnTopK(tbl(s, d, "embeddings"), probeId = 0L, k = 10)),
    // IVF ANN with the iters=0 (pure-relational) quantizer so the DuckDB
    // twin reproduces cell assignment exactly; the trained (Lloyd) quantizer
    // is sbt-gated in OpsSpec.
    "td_ann_ivf" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      graft.ops.IvfOps.annTopK(emb, graft.ops.IvfOps.initQuantizer(emb, 8),
        probeId = 0L, k = 10, nprobe = 2)
    }),
    "td_cosine_neardup" -> ((s, d) =>
      // explicit bits so the DuckDB twin reproduces the bucketing; the
      // operator's default is corpus-adaptive bits (see VectorOps)
      VectorOps.cosineNearDupPairs(tbl(s, d, "embeddings"), 0.2, bitsPerBand = 6, bands = 4)
        .orderBy("a", "b")),
    "mm_features" -> ((s, d) =>
      MultimodalOps.extractFeatures(s, MultimodalOps.asMediaTable(tbl(s, d, "documents")))
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("content_sha256"), col("fake_frames").cast("long").as("fake_frames"))
        .orderBy("doc_id"))
  )

  // -------------------------------------------------------------- oracleSql

  /** Tokenization CTE over an arbitrary field expression — the exact DuckDB
    * twin of graft.tokenize.CodeTokenizer (lower -> split [^a-z0-9_]+ ->
    * drop empty -> truncate 64). `name` prefixes the CTE so several fields'
    * chains can coexist in one query (the multi-field twins).
    */
  private def tokCteOver(fieldExpr: String, name: String = "tok",
      extraPred: String = ""): String =
    s"""$name AS (
       |  SELECT doc_id, substr(t.term, 1, 64) AS term
       |  FROM documents, unnest(regexp_split_to_array(lower($fieldExpr), '[^a-z0-9_]+')) AS t(term)
       |  WHERE t.term <> ''$extraPred
       |)""".stripMargin

  private val TokCte = tokCteOver("text")

  /** The stop-analyzed twin token stream: the SAME Analyzer value the
    * engine's stop index is built with prints its own NOT IN fragment —
    * one source of truth for the stopword list (SURVEY.md §7.8). Filtering
    * INSIDE the CTE makes tf, dl, df and N all see the filtered stream,
    * which is exactly the engine's build-time semantics (Lucene norms
    * count emitted tokens only).
    */
  private val StopTokCte = tokCteOver("text", "tok",
    graft.tokenize.Analyzer(DocumentsIndex.StopwordSet).twinTokPredicate)

  /** Per-field BM25 scoring CTE chain (prefix `pf`): every doc with at least
    * one query term in the FIELD, scored under the field's OWN df/N/avgdl —
    * exactly what the engine's per-field sub-index computes. N counts ALL
    * documents (the per-field registry indexes every doc, empty field as
    * dl = 0), hence the LEFT JOIN in the stats CTE.
    */
  private def fieldBm25Ctes(fieldExpr: String, pf: String, terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""${tokCteOver(fieldExpr, s"${pf}tok")},
       |${pf}tf AS (SELECT doc_id, term, count(*) AS tf FROM ${pf}tok GROUP BY 1, 2),
       |${pf}dl AS (SELECT doc_id, count(*) AS dl FROM ${pf}tok GROUP BY 1),
       |${pf}st AS (
       |  SELECT count(*) AS n, avg(cast(coalesce(${pf}dl.dl, 0) AS double)) AS avgdl
       |  FROM documents d LEFT JOIN ${pf}dl ON d.doc_id = ${pf}dl.doc_id),
       |${pf}df AS (SELECT term, count(*) AS df FROM ${pf}tf GROUP BY 1),
       |${pf}sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
       |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
       |  FROM ${pf}tf tf JOIN ${pf}dl dl USING (doc_id) JOIN ${pf}df dfx USING (term) CROSS JOIN ${pf}st st
       |  WHERE tf.term IN ($inList)
       |  GROUP BY tf.doc_id)""".stripMargin
  }

  /** The raw (unrounded) BM25 scoring CTE chain over the text field — `sc`
    * holds (doc_id, score). Shared by [[bm25Sql]] and the twins that
    * post-process the raw score (collapse's per-group pick, function_score's
    * modifier product — both must transform BEFORE the 6-dp rounding,
    * exactly like the engine).
    */
  private def bm25Ctes(terms: Seq[String], tokCte: String = TokCte): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""$tokCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
       |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
       |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
       |  WHERE tf.term IN ($inList)
       |  GROUP BY tf.doc_id)""".stripMargin
  }

  /** Shared simhash near-pair CTE chain (64-bit signature from md5 term
    * hashes, 16-bit-quarter banding, hamming verify at `maxDist`) ending
    * in `pr(a, b, dist)` — used by the pair row and the clustering row's
    * edge set.
    */
  private def simhashPairsCtes(maxDist: Int): String =
    s"""$TokCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, r.b,
       |         CASE WHEN sum(CASE WHEN
       |           (cast(floor((strpos('0123456789abcdef', substr(md5(term), cast(16 - floor(r.b / 4) AS int), 1)) - 1)
       |                 / power(2, r.b % 4)) AS int) % 2) = 1
       |           THEN tf ELSE -tf END) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM tf, range(0, 64) AS r(b) GROUP BY 1, 2),
       |bin AS (
       |  SELECT doc_id, string_agg(bit, '' ORDER BY b DESC) AS bbits FROM bits GROUP BY doc_id),
       |pieces AS (
       |  SELECT doc_id, cast(r.q AS int) AS q, substr(bbits, cast(r.q*16 + 1 AS int), 16) AS piece
       |  FROM bin, range(0, 4) AS r(q)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM pieces x JOIN pieces y ON x.q = y.q AND x.piece = y.piece AND x.doc_id < y.doc_id),
       |pr AS (
       |  SELECT c.a, c.b, cast(hamming(ba.bbits, bb.bbits) AS int) AS dist
       |  FROM cand c JOIN bin ba ON ba.doc_id = c.a JOIN bin bb ON bb.doc_id = c.b
       |  WHERE hamming(ba.bbits, bb.bbits) <= $maxDist)""".stripMargin

  /** The geohash character expressions over (gx, gy) — the SQL mirror of
    * GeoOps.geohashGrid's interleave loop (MSB-first, lon-first, base32
    * via substr). Pure integer shifts/masks — exact in both engines.
    */
  private def geohashCharsSql(precision: Int): String = {
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    (0 until precision).map { c =>
      val v = (0 until 5).map { m =>
        val j = 5 * c + m
        val e = if (j % 2 == 0) s"((gx >> ${lonBits - 1 - j / 2}) & 1)"
                else s"((gy >> ${latBits - 1 - (j - 1) / 2}) & 1)"
        s"$e * ${1L << (4 - m)}"
      }.mkString(" + ")
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', cast(($v) + 1 AS int), 1)"
    }.mkString(" || ")
  }

  private def bm25Sql(terms: Seq[String], limit: Int,
      tokCte: String = TokCte): String = {
    val limitClause = if (limit > 0) s" LIMIT $limit" else ""
    s"""WITH ${bm25Ctes(terms, tokCte)}
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id$limitClause""".stripMargin
  }

  /** Shared shingle + minhash-band CTEs (word 5-grams; 16 md5 hash slots;
    * 4 bands of 4).
    */
  private val ShingleCtes =
    """arrs AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents
      |),
      |sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(arr) - 4, 1) + 1),
      |                               i -> array_to_string(arr[i:i+4], ' '))) AS shingle
      |  FROM arrs
      |),
      |mh AS (
      |  SELECT doc_id, j, min(md5(shingle || '#' || cast(j AS varchar))) AS mh
      |  FROM sh, range(0, 16) AS r(j) GROUP BY 1, 2
      |),
      |bands AS (
      |  SELECT doc_id, cast(floor(j / 4) AS int) AS band,
      |         md5(string_agg(mh, '' ORDER BY j)) AS bucket
      |  FROM mh GROUP BY 1, 2
      |)""".stripMargin

  private val JaccardTail =
    """sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY 1),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS inter
      |  FROM cand c
      |  JOIN sets sa ON sa.doc_id = c.a
      |  JOIN sets sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      |  GROUP BY 1, 2)
      |SELECT i.a, i.b,
      |       round(cast(i.inter AS double) / (za.sz + zb.sz - i.inter), 4) AS jaccard
      |FROM inter i JOIN sz za ON za.doc_id = i.a JOIN sz zb ON zb.doc_id = i.b""".stripMargin

  /** Fuzzy twin: the expansion set comes from the same definition the engine
    * pins — distinct corpus terms within levenshtein <= 2 (DuckDB's
    * levenshtein IS classic edit distance, like Spark's built-in — neither
    * counts transpositions as one edit, the pinned divergence from Lucene's
    * Damerau-OSA); scoring is the ordinary BM25 OR over that set, each term
    * under its own idf. Shared by the rank-all row (b20) and the bounded
    * top-k row (b32, + LIMIT).
    */
  private val FuzzySql =
    s"""WITH $TokCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |fz AS (SELECT term FROM dfx WHERE levenshtein(term, 'bag') <= 2),
       |sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
       |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
       |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
       |  WHERE tf.term IN (SELECT term FROM fz)
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, doc_id""".stripMargin

  def oracleSql: Map[String, String] = ListMap(
    "b02_corpus_stats" ->
      s"""WITH $TokCte, dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
         |SELECT count(*) AS num_docs, cast(sum(dl) AS bigint) AS sum_dl,
         |       round(avg(dl), 6) AS avg_dl FROM dl""".stripMargin,
    "b02_doc_registry" ->
      s"""WITH $TokCte, dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
         |SELECT d.doc_id, coalesce(dl.dl, 0) AS dl, sha256(d.text) AS sha256
         |FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "b03_dictionary" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT term, count(*) AS df, cast(sum(tf) AS bigint) AS cf
         |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    "b08_bm25_topk" -> bm25Sql(Seq("join", "spark"), 10),
    "b08_bm25_topk_multi" -> bm25Sql(Seq("batch", "merge", "vector", "window"), 10),
    "b09_bm25_rank_all" -> bm25Sql(Seq("a", "the", "value"), -1),
    // delta serving twin = the ORDINARY full-table BM25: base ∪ delta must
    // be indistinguishable from one index over everything
    "b15_delta_match" -> bm25Sql(Seq("batch", "vector"), 10),
    // bool twin: score over the present (must ∪ should) terms; must
    // presence enforced with a conditional distinct count; must_not via
    // NOT IN over the excluded doc set — all under the field's global stats
    "b17_bool" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score,
         |         count(DISTINCT CASE WHEN tf.term IN ('hash', 'vector') THEN tf.term END) AS mcnt
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'join', 'vector')
         |  GROUP BY tf.doc_id),
         |excl AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('window'))
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE mcnt = 2 AND doc_id NOT IN (SELECT doc_id FROM excl)
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // prefix twin: membership + distinct matched-term count over the
    // tokenized stream (starts_with, not LIKE — underscore is a LIKE
    // wildcard and a legal analyzer char)
    "b18_prefix" ->
      s"""WITH $TokCte
         |SELECT doc_id, count(DISTINCT term) AS n_terms FROM tok
         |WHERE starts_with(term, 's')
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // wildcard twin: contains() over the token stream — same membership
    // shape as prefix; the engine's glob "*or*" compiles to ^.*or.*$
    "b22_wildcard" ->
      s"""WITH $TokCte
         |SELECT doc_id, count(DISTINCT term) AS n_terms FROM tok
         |WHERE contains(term, 'or')
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "b20_fuzzy" -> FuzzySql,
    // bounded fuzzy serving twin: the SAME total order, cut at 10 — the
    // engine's WAND + stability over-fetch must be indistinguishable from
    // the rank-all cut
    "b32_fuzzy_topk" -> (FuzzySql + "\nLIMIT 10"),
    // collapse twin: round BEFORE the per-group pick (like the engine), pick
    // via a window row_number under the same (score desc, doc_id asc)
    // tie-break the engine's struct-max encodes
    "b35_collapse" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))},
         |j AS (SELECT d.lang, sc.doc_id, round(sc.score, 6) AS score
         |      FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
         |best AS (SELECT lang, doc_id, score,
         |                row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rn
         |         FROM j)
         |SELECT lang, doc_id, score FROM best WHERE rn = 1
         |ORDER BY score DESC, lang""".stripMargin,
    // significant_terms twin: fg = distinct-doc counts within the foreground
    // set, bg = corpus df, JLH spelled in the engine's EXACT expression
    // order so both round the same double
    "b36_sig_terms" ->
      s"""WITH $TokCte,
         |fg AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'stream'),
         |ft AS (SELECT cast(count(*) AS double) AS n FROM fg),
         |fgc AS (SELECT p.term, count(*) AS fg
         |        FROM (SELECT DISTINCT doc_id, term FROM tok) p JOIN fg USING (doc_id)
         |        GROUP BY 1),
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS bg FROM tok GROUP BY 1),
         |tot AS (SELECT cast(count(*) AS double) AS n FROM documents)
         |SELECT f.term, f.fg, d.bg,
         |       round((f.fg/ft.n - d.bg/t.n) * ((f.fg/ft.n) / (d.bg/t.n)), 6) AS score
         |FROM fgc f JOIN dfx d USING (term) CROSS JOIN ft CROSS JOIN tot t
         |WHERE f.term <> 'stream'
         |ORDER BY score DESC, f.term LIMIT 10""".stripMargin,
    // suggester twin: corrections from the tokenized dictionary under the
    // same classic-Levenshtein pin as b20's expansion
    "b37_suggest" ->
      s"""WITH $TokCte,
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
         |SELECT term, cast(levenshtein(term, 'vectr') AS bigint) AS dist, df FROM dfx
         |WHERE levenshtein(term, 'vectr') BETWEEN 1 AND 2
         |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin,
    // function_score twin: the raw sc score times the identically-spelled
    // ln(1 + dl/64.0) modifier, rounded once — dl recomputed from the text,
    // so a green row re-checks the engine registry's dl like a20 does
    "b38_function_score" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))}
         |SELECT sc.doc_id, round(sc.score * ln(1 + dl.dl/64.0), 6) AS score
         |FROM sc JOIN dl USING (doc_id)
         |ORDER BY round(sc.score * ln(1 + dl.dl/64.0), 6) DESC, sc.doc_id
         |LIMIT 20""".stripMargin,
    // geo-bbox twin: same derived points, same inclusive bounds, the wrap
    // spelled as the OR disjunction (left > right = date-line crossing)
    "b56_geo_bbox" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents)
        |SELECT doc_id, lat, lon FROM pts
        |WHERE lat BETWEEN -80.0 AND 80.0 AND (lon >= 120.0 OR lon <= -140.0)
        |ORDER BY doc_id""".stripMargin,
    // adjacency-matrix twin: the filters-agg conjunction shape over the
    // singles and every pair, zero buckets dropped
    "a27_adjacency_matrix" ->
      s"""WITH $TokCte,
         |m AS (SELECT doc_id, term FROM tok WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
         |b AS (
         |  SELECT cast('h' AS varchar) AS name, count(*) AS doc_count FROM m WHERE term = 'hash'
         |  UNION ALL SELECT 'j', count(*) FROM m WHERE term = 'join'
         |  UNION ALL SELECT 'v', count(*) FROM m WHERE term = 'vector'
         |  UNION ALL SELECT 'h&j', count(*) FROM (
         |    SELECT doc_id FROM m WHERE term IN ('hash', 'join') GROUP BY 1 HAVING count(*) = 2)
         |  UNION ALL SELECT 'h&v', count(*) FROM (
         |    SELECT doc_id FROM m WHERE term IN ('hash', 'vector') GROUP BY 1 HAVING count(*) = 2)
         |  UNION ALL SELECT 'j&v', count(*) FROM (
         |    SELECT doc_id FROM m WHERE term IN ('join', 'vector') GROUP BY 1 HAVING count(*) = 2))
         |SELECT name, doc_count FROM b WHERE doc_count > 0 ORDER BY name""".stripMargin,
    // pipeline-agg twins: the SAME parent date_histogram CTE, the pipeline
    // step as a window/scalar-subquery over the bucket frame
    "a28_derivative" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1),
        |d AS (SELECT day, n, n - lag(n) OVER (ORDER BY day) AS deriv FROM b)
        |SELECT day, n, deriv FROM d WHERE deriv IS NOT NULL ORDER BY day""".stripMargin,
    "a29_cumulative_sum" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, round(sum(value), 2) AS sum_value FROM events GROUP BY 1)
        |SELECT day, sum_value,
        |       round(sum(sum_value) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum
        |FROM b ORDER BY day""".stripMargin,
    "a30_max_bucket" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT day, n FROM b WHERE n = (SELECT max(n) FROM b) ORDER BY day""".stripMargin,
    // multi_terms twin: plain compound GROUP BY under the full pinned order
    "a31_multi_terms" ->
      """SELECT lang, source, count(*) AS doc_count FROM documents
        |GROUP BY 1, 2 ORDER BY doc_count DESC, lang, source LIMIT 10""".stripMargin,
    // rare_terms twin: the tags tokenization's long-tail dfs
    "b57_rare_terms" ->
      s"""WITH ${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM gtok GROUP BY 1)
         |SELECT term, df FROM dfs WHERE df <= 30 ORDER BY df, term""".stripMargin,
    // geotile twin: the identical tile formula — x pure arithmetic, y's
    // mercator fraction rounded to 6 dp BEFORE the floor (the libm
    // protocol), both indices clamped to [0, 2^z - 1]
    "b58_geotile_grid" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents),
        |t AS (
        |  SELECT concat('3/',
        |           cast(cast(greatest(0.0, least(floor(8.0 * (lon + 180.0) / 360.0), 7.0)) AS bigint) AS varchar),
        |           '/',
        |           cast(cast(greatest(0.0, least(floor(8.0 * round((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0, 6)), 7.0)) AS bigint) AS varchar)) AS tile
        |  FROM pts WHERE abs(lat) <= 85.05112878)
        |SELECT tile, count(*) AS doc_count FROM t
        |GROUP BY 1 ORDER BY doc_count DESC, tile LIMIT 15""".stripMargin,
    // has_child twin: HAVING-gated child counts joined to existing parents
    "b59_has_child" ->
      """WITH c AS (
        |  SELECT user_id AS doc_id, count(*) AS n_children FROM events
        |  WHERE event_type = 'error' GROUP BY 1 HAVING count(*) >= 12)
        |SELECT d.doc_id, c.n_children FROM documents d JOIN c USING (doc_id)
        |ORDER BY n_children DESC, doc_id""".stripMargin,
    // has_parent twin: children semi-joined to the term-conjunction parents
    "b60_has_parent" ->
      s"""WITH $TokCte,
         |p AS (SELECT doc_id FROM tok WHERE term IN ('vector', 'stream')
         |      GROUP BY 1 HAVING count(DISTINCT term) = 2)
         |SELECT event_id, user_id, event_type FROM events
         |WHERE user_id IN (SELECT doc_id FROM p) ORDER BY event_id""".stripMargin,
    // weighted_avg twin: identical sum(v*k)/sum(k), 4-dp protocol
    "a32_weighted_avg" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         cast(json_extract_string(props, '$.k') AS double) AS k
        |  FROM events)
        |SELECT event_type, round(sum(value * k) / sum(k), 4) AS wavg
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // moving-average twin: trailing 7-row window over the bucket frame
    "a33_moving_avg" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT day, n,
        |       round(avg(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS mavg
        |FROM b ORDER BY day""".stripMargin,
    // serial-diff twin: lag-7 difference, unmatched leading buckets dropped
    "a34_serial_diff" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1),
        |d AS (SELECT day, n, n - lag(n, 7) OVER (ORDER BY day) AS sdiff FROM b)
        |SELECT day, n, sdiff FROM d WHERE sdiff IS NOT NULL ORDER BY day""".stripMargin,
    // sampler twin: the protocol-ordered top-50 BM25 sample as the JLH
    // foreground (bm25Ctes' dfx doubles as the background dfs)
    "b61_sampler_sig" ->
      s"""WITH ${bm25Ctes(Seq("hash", "join"))},
         |smp AS (SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 50),
         |ft AS (SELECT cast(count(*) AS double) AS n FROM smp),
         |fgc AS (SELECT p.term, count(*) AS fg
         |        FROM (SELECT DISTINCT doc_id, term FROM tok) p JOIN smp USING (doc_id)
         |        GROUP BY 1),
         |tot AS (SELECT cast(count(*) AS double) AS n FROM documents)
         |SELECT f.term, f.fg, d.df AS bg,
         |       round((f.fg/ft.n - d.df/t.n) * ((f.fg/ft.n) / (d.df/t.n)), 6) AS score
         |FROM fgc f JOIN dfx d USING (term) CROSS JOIN ft CROSS JOIN tot t
         |WHERE f.term NOT IN ('hash', 'join')
         |ORDER BY score DESC, f.term LIMIT 10""".stripMargin,
    // percolate twin: the stored registry as VALUES, membership conjunction
    // counts per (doc, query), full-count = match
    "b62_percolate" ->
      s"""WITH $TokCte,
         |m AS (SELECT DISTINCT doc_id, term FROM tok),
         |q AS (SELECT * FROM (VALUES ('hj', 'hash'), ('hj', 'join'),
         |                            ('sv', 'sort'), ('sv', 'vector'),
         |                            ('zz', 'hash'), ('zz', 'qqqzzznotfound')) AS t(query, term)),
         |nt AS (SELECT query, count(*) AS n_terms FROM q GROUP BY 1),
         |hit AS (SELECT m.doc_id, q.query, count(*) AS present
         |        FROM m JOIN q USING (term) GROUP BY 1, 2)
         |SELECT h.doc_id, h.query FROM hit h JOIN nt USING (query)
         |WHERE h.present = nt.n_terms ORDER BY doc_id, query""".stripMargin,
    // span_first twin: 0-based positional tokenization, first occurrence
    // strictly inside the first 8 slots
    "b63_span_first" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(0, len(a))) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0)
        |SELECT doc_id, min(pos) AS first_pos FROM toks WHERE term = 'hash'
        |GROUP BY 1 HAVING min(pos) < 8 ORDER BY doc_id""".stripMargin,
    // explain twin: the per-(doc, term) contribution leaves restricted to
    // the protocol top-10 sample — bm25Ctes' tf/dl/dfx ARE the leaves' inputs
    "b64_explain" ->
      s"""WITH ${bm25Ctes(Seq("hash", "join"))},
         |smp AS (SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
         |x AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         |         round(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |           * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl)), 6) AS contrib
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'join'))
         |SELECT x.doc_id, x.term, x.tf, x.dl, x.contrib FROM x JOIN smp USING (doc_id)
         |ORDER BY doc_id, term""".stripMargin,
    // terms-lookup twin: document 42's tags as the term set, any-match
    // membership with distinct-matched counts
    "b65_terms_lookup" ->
      s"""WITH ${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |lk AS (SELECT DISTINCT term FROM gtok WHERE doc_id = 42),
         |m AS (SELECT DISTINCT doc_id, term FROM gtok)
         |SELECT m.doc_id, count(DISTINCT m.term) AS n_matched
         |FROM m JOIN lk USING (term) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // random-score twin: the identical MINSTD step over the filter
    // membership set, 6-dp protocol
    "b66_random_score" ->
      s"""WITH $TokCte,
         |m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
         |SELECT doc_id,
         |       round(cast((((doc_id + 7) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 AS double) / 2147483647.0, 6) AS score
         |FROM m ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // span_not twin: include positions clear of any exclude position in
    // the inclusive [p-1, p+1] window, 0-based positional tokenization
    "b71_span_not" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(0, len(a))) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |ip AS (SELECT doc_id, pos FROM toks WHERE term = 'hash'),
        |ep AS (SELECT doc_id, pos FROM toks WHERE term = 'join')
        |SELECT ip.doc_id, count(*) AS n_spans FROM ip
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ep WHERE ep.doc_id = ip.doc_id
        |    AND ep.pos BETWEEN ip.pos - 1 AND ip.pos + 1)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // msearch twin: shared tokenization/stat CTEs, one protocol-cut page
    // per query, pages unioned under (query_id, score desc, doc_id)
    "b70_msearch" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |s0 AS (SELECT 0 AS query_id, doc_id, round(score, 6) AS score FROM (
         |  SELECT tf.doc_id, sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |         * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('join', 'spark') GROUP BY tf.doc_id)
         |  ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
         |s1 AS (SELECT 1 AS query_id, doc_id, round(score, 6) AS score FROM (
         |  SELECT tf.doc_id, sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |         * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('batch', 'merge', 'vector', 'window') GROUP BY tf.doc_id)
         |  ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
         |s2 AS (SELECT 2 AS query_id, doc_id, round(score, 6) AS score FROM (
         |  SELECT tf.doc_id, sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |         * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'table') GROUP BY tf.doc_id)
         |  ORDER BY round(score, 6) DESC, doc_id LIMIT 10)
         |SELECT query_id, doc_id, score FROM (
         |  SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2)
         |ORDER BY query_id, score DESC, doc_id""".stripMargin,
    // top_metrics twin: latest-timestamp metric per bucket (ts unique)
    "a36_top_metrics" ->
      """SELECT event_type, max(ts) AS top_ts, max_by(value, ts) AS top_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // sibling-pipeline twins: the same day-histogram CTE reduced in SQL
    "a37_stats_bucket" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT count(n) AS n_count, min(n) AS n_min, max(n) AS n_max,
        |       round(avg(n), 6) AS n_avg, cast(sum(n) AS bigint) AS n_sum FROM b""".stripMargin,
    "a38_bucket_script" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n,
        |                  count(*) FILTER (WHERE event_type = 'error') AS err
        |           FROM events GROUP BY 1)
        |SELECT day, n, err, round(cast(err AS double) / n, 6) AS err_share
        |FROM b ORDER BY day""".stripMargin,
    "a39_bucket_selector" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n,
        |                  count(*) FILTER (WHERE event_type = 'error') AS err
        |           FROM events GROUP BY 1)
        |SELECT day, n, err FROM b
        |WHERE cast(err AS double) / n > 0.22 ORDER BY day""".stripMargin,
    "a40_bucket_sort" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, round(sum(value), 2) AS sum_value FROM events GROUP BY 1),
        |r AS (SELECT day, sum_value,
        |             row_number() OVER (ORDER BY sum_value DESC, day) AS rk FROM b)
        |SELECT day, sum_value FROM r WHERE rk > 2 AND rk <= 7 ORDER BY rk""".stripMargin,
    "a41_percentiles_bucket" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT round(quantile_cont(n, 0.25), 6) AS p25,
        |       round(quantile_cont(n, 0.50), 6) AS p50,
        |       round(quantile_cont(n, 0.75), 6) AS p75,
        |       round(quantile_cont(n, 0.99), 6) AS p99 FROM b""".stripMargin,
    "a42_normalize" ->
      """WITH b AS (SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT day, n,
        |       round(cast(n AS double) / (SELECT sum(n) FROM b), 6) AS pct
        |FROM b ORDER BY day""".stripMargin,
    "a43_value_count" ->
      """SELECT cast(ts AS date) AS day,
        |       count(CASE WHEN event_type = 'purchase' THEN value END) AS value_count,
        |       count(*) - count(CASE WHEN event_type = 'purchase' THEN value END) AS missing
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // string_stats twin: same two grains — value lengths + pooled chars;
    // entropy via the identical log2 identity
    "a44_string_stats" ->
      """WITH ls AS (
        |  SELECT lang, count(source) AS count, min(length(source)) AS min_length,
        |         max(length(source)) AS max_length, round(avg(length(source)), 6) AS avg_length
        |  FROM documents GROUP BY 1),
        |cc AS (
        |  SELECT lang, c.ch AS ch, count(*) AS n
        |  FROM documents, unnest(string_split(source, '')) AS c(ch) GROUP BY 1, 2),
        |ent AS (
        |  SELECT lang, round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4) AS entropy
        |  FROM cc GROUP BY 1)
        |SELECT ls.lang, count, min_length, max_length, avg_length, entropy
        |FROM ls JOIN ent USING (lang) ORDER BY lang""".stripMargin,
    "a45_mad" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY 1)
        |SELECT d.lang, round(quantile_cont(abs(n_chars - med), 0.5), 6) AS mad
        |FROM documents d JOIN m USING (lang) GROUP BY 1 ORDER BY 1""".stripMargin,
    "a46_boxplot" ->
      """SELECT l_returnflag, cast(min(l_quantity) AS double) AS min,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |       round(quantile_cont(l_quantity, 0.50), 6) AS q2,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS q3,
        |       cast(max(l_quantity) AS double) AS max
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a47_matrix_stats" ->
      """WITH t AS (SELECT value, cast(json_extract_string(props, '$.k') AS double) AS k FROM events)
        |SELECT count(*) AS doc_count,
        |       round(avg(value), 6) AS mean_x, round(avg(k), 6) AS mean_y,
        |       round(var_pop(value), 4) AS var_x, round(var_pop(k), 4) AS var_y,
        |       round(covar_pop(value, k), 4) AS covariance,
        |       round(corr(value, k), 6) AS correlation
        |FROM t""".stripMargin,
    // auto_date_histogram twin: the SAME finest-fitting-rung pick, in SQL
    "a48_auto_date_histogram" ->
      """WITH c AS (
        |  SELECT CASE WHEN count(DISTINCT date_trunc('hour', ts)) <= 40 THEN 'hour'
        |              WHEN count(DISTINCT date_trunc('day', ts)) <= 40 THEN 'day'
        |              ELSE 'month' END AS iv
        |  FROM events)
        |SELECT date_trunc((SELECT iv FROM c), ts) AS bucket, count(*) AS n,
        |       (SELECT iv FROM c) AS interval
        |FROM events GROUP BY 1, 3 ORDER BY 1""".stripMargin,
    // rank-feature twin: dl recomputed from raw text, identical saturation
    "b67_rank_feature" ->
      s"""WITH $TokCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
         |SELECT doc_id, round(dl / (dl + 64.0), 6) AS score FROM dl
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // distance-feature twin: b23's protocol distance inside the identical
    // pivot/(pivot + km) saturation
    "b68_distance_feature" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         round(2 * 6371.0 * asin(sqrt(
        |           pow(sin(radians(lat - 10.0) / 2), 2) +
        |           cos(radians(10.0)) * cos(radians(lat)) *
        |           pow(sin(radians(lon - 20.0) / 2), 2))), 4) AS km
        |  FROM pts)
        |SELECT doc_id, round(500.0 / (500.0 + km), 6) AS score FROM d
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // pinned twin: VALUES ids (unknown one dropped by the existence check)
    // above the anti-filtered organic protocol ranking
    "b69_pinned" ->
      s"""WITH ${bm25Ctes(Seq("hash", "join"))},
         |pin AS (
         |  SELECT cast(t.doc_id AS bigint) AS doc_id, t.score
         |  FROM (VALUES (42, 1000000000.0), (7, 999999999.0), (99999, 999999998.0)) t(doc_id, score)
         |  WHERE t.doc_id IN (SELECT doc_id FROM documents)),
         |org AS (
         |  SELECT doc_id, round(score, 6) AS score FROM sc
         |  WHERE doc_id NOT IN (42, 7, 99999))
         |SELECT doc_id, score FROM (SELECT * FROM pin UNION ALL SELECT * FROM org)
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // geo-distance-agg twin: identical haversine + 4-dp protocol, CASE
    // rings, zero-count rings kept through the VALUES frame
    "a35_geo_distance_agg" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents),
        |d AS (
        |  SELECT round(2 * 6371.0 * asin(sqrt(
        |           pow(sin(radians(lat - 10.0) / 2), 2) +
        |           cos(radians(10.0)) * cos(radians(lat)) *
        |           pow(sin(radians(lon - 20.0) / 2), 2))), 4) AS km
        |  FROM pts),
        |b AS (
        |  SELECT CASE WHEN km < 2000.0 THEN '*-2000.0'
        |              WHEN km < 6000.0 THEN '2000.0-6000.0'
        |              ELSE '6000.0-*' END AS ring
        |  FROM d),
        |c AS (SELECT ring, count(*) AS doc_count FROM b GROUP BY 1),
        |allr AS (SELECT * FROM (VALUES ('*-2000.0'), ('2000.0-6000.0'), ('6000.0-*')) t(ring))
        |SELECT allr.ring, coalesce(c.doc_count, 0) AS doc_count
        |FROM allr LEFT JOIN c USING (ring) ORDER BY ring""".stripMargin,
    // phrase-suggester twin: per-slot candidates = UNCAPPED dictionary
    // Levenshtein <= 1 (valid under the b20 cap contract: 31-term vocab <
    // the 32 cap), bigram adjacency df per candidate pair from the
    // positional self-join, (freq desc, suggestion) order, zero-df dropped
    "b55_phrase_suggest" ->
      s"""WITH $TokCte,
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |arr AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
         |  FROM documents),
         |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
         |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
         |c0 AS (SELECT term FROM dfx WHERE levenshtein(term, 'hash') <= 1),
         |c1 AS (SELECT term FROM dfx WHERE levenshtein(term, 'joyn') <= 1),
         |big AS (
         |  SELECT p0.term AS l, p1.term AS r, count(DISTINCT p0.doc_id) AS freq
         |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |  JOIN c0 ON c0.term = p0.term JOIN c1 ON c1.term = p1.term
         |  GROUP BY 1, 2)
         |SELECT l || ' ' || r AS suggestion, freq FROM big
         |ORDER BY freq DESC, suggestion LIMIT 5""".stripMargin,
    // gauss-decay twin: the multiplier spelled in the engine's exact form
    // exp(ln(decay)·(d/scale)·(d/scale)), d = max(0, |dl − origin| − offset)
    // — the dl recomputed from raw tokens re-checks the registry doc value
    "b54_gauss_decay" ->
      s"""WITH ${bm25Ctes(Seq("hash", "table"))},
         |dec AS (
         |  SELECT sc.doc_id,
         |         sc.score * exp(ln(cast(0.5 AS double))
         |           * (greatest(cast(0 AS double), abs(dl.dl - cast(60 AS double)) - cast(5 AS double)) / cast(20 AS double))
         |           * (greatest(cast(0 AS double), abs(dl.dl - cast(60 AS double)) - cast(5 AS double)) / cast(20 AS double))) AS score
         |  FROM sc JOIN dl USING (doc_id))
         |SELECT doc_id, round(score, 6) AS score FROM dec
         |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin,
    // terms-agg twin: per-term distinct-doc counts over the tokenized tags
    // field, top-10 by (df desc, term asc) — the deterministic tie-break
    // both engines share (source-term dfs tie by construction)
    "b21_terms_agg" ->
      s"""WITH ${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM gtok GROUP BY 1)
         |SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 10""".stripMargin,
    // phrase-prefix twin: the b16 positional CTE with starts_with on the
    // LAST slot; count(DISTINCT p0.pos) = matching starts (at slop 0 one
    // position holds one token, so starts cannot double-count)
    "b24_phrase_prefix" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0)
        |SELECT p0.doc_id, count(DISTINCT p0.pos) AS phrase_tf
        |FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        |WHERE p0.term = 'the' AND starts_with(p1.term, 's')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // more_like_this twin: identical term selection (tf-in-doc × the same
    // idf formula, rounded 6 dp, (score desc, term) tie-break, LIMIT 5)
    // feeding the ordinary BM25 OR, source doc excluded
    "b29_mlt" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |src AS (SELECT term, count(*) AS qtf FROM tok WHERE doc_id = 7 GROUP BY 1),
         |cand AS (
         |  SELECT s.term,
         |         round(s.qtf * ln(1 + cast(st.n - d.df + 0.5 AS double) / cast(d.df + 0.5 AS double)), 6) AS msc
         |  FROM src s JOIN dfx d USING (term) CROSS JOIN st),
         |sel AS (SELECT term FROM cand ORDER BY msc DESC, term LIMIT 5),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN (SELECT term FROM sel)
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE doc_id <> 7
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // highlight twin: the same top-10 (nested BM25 CTE) joined back to the
    // source text, identical padded-strpos + substr fragment expression
    "b28_highlight" ->
      (s"""WITH top10 AS (
          |  SELECT doc_id FROM (
          |${bm25Sql(Seq("vector"), 10).linesIterator.map("    " + _).mkString("\n")}
          |  )
          |),
          |h AS (
          |  SELECT d.doc_id, d.text,
          |         strpos(' ' || lower(d.text) || ' ', ' vector ') AS p
          |  FROM documents d JOIN top10 USING (doc_id))
          |SELECT doc_id,
          |       substr(text, greatest(1, p - 30), p - greatest(1, p - 30))
          |         || '<em>' || substr(text, p, 6) || '</em>'
          |         || substr(text, p + 6, 30) AS highlight
          |FROM h WHERE p > 0 ORDER BY doc_id""".stripMargin),
    // highlight-v2 twin: anchor = min positive padded-strpos over the query
    // terms (padded-strpos == 1-based token start in this space-separated
    // corpus — the engine's char-offset tokenizer needs no such assumption;
    // the punctuation-robust general form is sbt-gated in HighlightSpec);
    // wrapping = regexp_replace with \b boundaries, which over lowercase
    // text is EXACTLY the analyzer boundary (RE2 \w == [a-z0-9_])
    "b33_highlight_multi" ->
      (s"""WITH top10 AS (
          |  SELECT doc_id FROM (
          |${bm25Sql(Seq("hash", "join"), 10).linesIterator.map("    " + _).mkString("\n")}
          |  )
          |),
          |""".stripMargin +
        // PRECONDITION (sbt-gated in SigCollapseSpec): no corpus token has
        // 'hash'/'join' as a proper affix — otherwise a window cut slicing
        // such a token (e.g. 'joined' -> 'join' at the fragment edge) would
        // create a false \b boundary the engine's full-text tokenizer never
        // sees; the 'i' flag mirrors the analyzer's lowercasing for any
        // non-lowercase raw text (the gate also pins lowercase today)
        """h AS (
          |  SELECT d.doc_id, d.text,
          |         strpos(' ' || lower(d.text) || ' ', ' hash ') AS ph,
          |         strpos(' ' || lower(d.text) || ' ', ' join ') AS pj
          |  FROM documents d JOIN top10 USING (doc_id)),
          |a AS (
          |  SELECT doc_id, text,
          |         CASE WHEN ph > 0 AND (pj = 0 OR ph <= pj) THEN ph ELSE pj END AS p
          |  FROM h WHERE ph > 0 OR pj > 0),
          |f AS (
          |  SELECT doc_id,
          |         substr(text, greatest(1, p - 30), p + 4 + 30 - greatest(1, p - 30)) AS frag
          |  FROM a)
          |SELECT doc_id,
          |       regexp_replace(frag, '\b(hash|join)\b', '<em>\1</em>', 'gi') AS highlight
          |FROM f ORDER BY doc_id""".stripMargin),
    // span-near twin (2 terms, unordered): min over position pairs of
    // |p1 - p0| - 1 is exactly the minimal covering gap
    "b27_span_near" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |g AS (
        |  SELECT p0.doc_id, min(abs(p1.pos - p0.pos)) - 1 AS min_gap
        |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id
        |  WHERE p0.term = 'hash' AND p1.term = 'join'
        |  GROUP BY 1)
        |SELECT doc_id, min_gap FROM g WHERE min_gap <= 3 ORDER BY doc_id""".stripMargin,
    // search_after twin: page 2 == OFFSET/LIMIT of the SAME total order —
    // the keyset form must be indistinguishable from the offset form
    "b25_search_after" -> (bm25Sql(Seq("join", "spark"), -1) + " LIMIT 10 OFFSET 10"),
    // minimum_should_match twin: b17's aggregate with a second conditional
    // distinct count over the should set and the >= floor
    "b26_bool_msm" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score,
         |         count(DISTINCT CASE WHEN tf.term IN ('hash') THEN tf.term END) AS mcnt,
         |         count(DISTINCT CASE WHEN tf.term IN ('join', 'vector', 'window') THEN tf.term END) AS scnt
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'join', 'vector', 'window')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE mcnt = 1 AND scnt >= 2
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // filter-context twin: b17's scored aggregate over (must ∪ should) ONLY
    // — 'vector' is filter-context so it never enters the scoring sum — with
    // membership enforced by a separate all-filter-terms conjunction
    // (count(DISTINCT) = |filter|), mirroring the engine's ids-only
    // filter frame semi-joined to the scored frame
    "b39_bool_filter" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score,
         |         count(DISTINCT CASE WHEN tf.term IN ('hash') THEN tf.term END) AS mcnt
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'join')
         |  GROUP BY tf.doc_id),
         |fl AS (SELECT doc_id FROM tf WHERE term IN ('vector', 'join')
         |       GROUP BY 1 HAVING count(DISTINCT term) = 2)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE mcnt = 1 AND doc_id IN (SELECT doc_id FROM fl)
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // terms + avg sub-agg twin: distinct (term, doc) membership from the
    // tags tokenization joined to the doc value; df = member count (the
    // same distinct-doc invariant the dictionary df carries)
    "b40_terms_stats" ->
      s"""WITH ${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |m AS (SELECT DISTINCT term, doc_id FROM gtok)
         |SELECT term, count(*) AS df,
         |       round(avg(cast(n_chars AS double)), 6) AS avg_chars
         |FROM m JOIN documents USING (doc_id)
         |GROUP BY term ORDER BY df DESC, term LIMIT 10""".stripMargin,
    // constant_score twin: the filter membership conjunction at the literal
    // boost — no scoring CTE at all
    "b41_constant_score" ->
      s"""WITH $TokCte,
         |fl AS (SELECT doc_id FROM tok WHERE term IN ('order', 'vector')
         |       GROUP BY 1 HAVING count(DISTINCT term) = 2)
         |SELECT doc_id, cast(1.5 AS double) AS score FROM fl ORDER BY doc_id""".stripMargin,
    // completion twin: df ranking restricted to the prefix range
    "b42_completion" ->
      s"""WITH $TokCte,
         |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
         |        WHERE term LIKE 's%' GROUP BY 1)
         |SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 4""".stripMargin,
    // stopword twin: the ordinary BM25 SQL over the STOP-FILTERED token
    // stream ('the' excluded from the query terms too — the engine's
    // analyzer drops it at query compile)
    "b43_stopword_match" -> bm25Sql(Seq("join", "vector"), 10, StopTokCte),
    // scored-phrase twin: phrase_tf from the positional CTE, the idf SUM
    // spelled as two scalar subqueries added in TOKEN order (the engine's
    // driver-side left fold), tfNorm spelled exactly like the bm25 chains
    "b44_phrase_scored" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |ph AS (
        |  SELECT p0.doc_id, count(*) AS ptf
        |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        |  WHERE p0.term = 'hash' AND p1.term = 'join'
        |  GROUP BY 1),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |        WHERE term IN ('hash', 'join') GROUP BY 1),
        |isum AS (
        |  SELECT (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
        |          FROM dfx CROSS JOIN st WHERE dfx.term = 'hash')
        |       + (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
        |          FROM dfx CROSS JOIN st WHERE dfx.term = 'join') AS v),
        |sc AS (
        |  SELECT ph.doc_id,
        |         isum.v * (ph.ptf / (ph.ptf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
        |  FROM ph JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN isum)
        |SELECT doc_id, round(score, 6) AS score FROM sc
        |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // dis_max twin: two independent scoring chains, combine spelled exactly
    // like the engine's greatest + tb·(sum − max) fold (tb = 0.5, exact FP)
    "b45_dis_max" ->
      s"""WITH ${fieldBm25Ctes("text", "p", Seq("hash", "table"))},
         |${fieldBm25Ctes("text", "q", Seq("merge", "sort"))}
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(greatest(coalesce(a.score, 0), coalesce(b.score, 0))
         |             + 0.5 * ((coalesce(a.score, 0) + coalesce(b.score, 0))
         |                      - greatest(coalesce(a.score, 0), coalesce(b.score, 0))), 6) AS score
         |FROM psc a FULL OUTER JOIN qsc b ON a.doc_id = b.doc_id
         |ORDER BY round(greatest(coalesce(a.score, 0), coalesce(b.score, 0))
         |             + 0.5 * ((coalesce(a.score, 0) + coalesce(b.score, 0))
         |                      - greatest(coalesce(a.score, 0), coalesce(b.score, 0))), 6) DESC,
         |         coalesce(a.doc_id, b.doc_id)""".stripMargin,
    // top_hits twin: the twin MAY window (DuckDB's input is small — the
    // engine side must not, which the no-Window sbt gate pins); ranks on
    // the 6-dp ROUNDED score exactly like the engine's aggregate input
    "b46_top_hits" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))},
         |r AS (
         |  SELECT d.lang, s.doc_id, round(s.score, 6) AS score,
         |         row_number() OVER (PARTITION BY d.lang
         |                            ORDER BY round(s.score, 6) DESC, s.doc_id) AS hit_rank
         |  FROM sc s JOIN documents d USING (doc_id))
         |SELECT lang, hit_rank, doc_id, score FROM r WHERE hit_rank <= 3
         |ORDER BY lang, hit_rank""".stripMargin,
    // boosting twin: positive chain, negative as an ids-only EXISTS — the
    // ×0.5 demotion is exact (power of two), so no rounding drift
    "b48_boosting" ->
      s"""WITH ${bm25Ctes(Seq("hash", "table"))},
         |neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
         |SELECT s.doc_id,
         |       round(CASE WHEN n.doc_id IS NOT NULL THEN s.score * 0.5 ELSE s.score END, 6) AS score
         |FROM sc s LEFT JOIN neg n ON n.doc_id = s.doc_id
         |ORDER BY round(CASE WHEN n.doc_id IS NOT NULL THEN s.score * 0.5 ELSE s.score END, 6) DESC,
         |         s.doc_id""".stripMargin,
    // range-filter twin: the b17 must+should chain gated by a dl-range
    // membership (dl recomputed from the raw token stream — a green row
    // re-checks the registry's dl against tokenization, like a20's twin);
    // scores of surviving docs are IDENTICAL to the unfiltered bool's
    "b47_range_filter" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score,
         |         count(DISTINCT CASE WHEN tf.term IN ('hash') THEN tf.term END) AS mcnt
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('hash', 'join')
         |  GROUP BY tf.doc_id),
         |rng AS (SELECT doc_id FROM dl WHERE dl >= 40 AND dl < 90)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE mcnt = 1 AND doc_id IN (SELECT doc_id FROM rng)
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // sort-by-field twin: match set as a DISTINCT-term membership, page 1
    // under (n_chars DESC, doc_id ASC), cursor = page-1 tail (the inverted
    // ORDER LIMIT 1), page 2 via the same keyset predicate the engine
    // pushes into its scan
    "b51_sort_by_field" ->
      s"""WITH $TokCte,
         |m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'hash'),
         |p1 AS (SELECT d.doc_id, d.n_chars FROM documents d JOIN m USING (doc_id)
         |       ORDER BY d.n_chars DESC, d.doc_id LIMIT 10),
         |cur AS (SELECT n_chars AS cv, doc_id AS cd FROM p1
         |        ORDER BY n_chars ASC, doc_id DESC LIMIT 1)
         |SELECT d.doc_id, d.n_chars FROM documents d JOIN m USING (doc_id) CROSS JOIN cur
         |WHERE d.n_chars < cur.cv OR (d.n_chars = cur.cv AND d.doc_id > cur.cd)
         |ORDER BY d.n_chars DESC, d.doc_id LIMIT 10""".stripMargin,
    // cross_fields twin: term-centric — blended idf from the MAX df across
    // both fields (bidf; N and the per-field avgdl come from each field's
    // own stats exactly like the engine's sub-indexes), per-(doc, term)
    // dismax across fields at tie_breaker 0 (pure greatest), terms summed.
    // In THIS corpus the two vocabularies are disjoint, so each term's df
    // blend is degenerate (its one field's df) — the overlapping-df blend
    // is pinned by the sbt gate on a shared-vocabulary fixture
    // (MultiFieldSpec); the row pins serving + the composed formula.
    "b52_cross_fields" ->
      s"""WITH ${tokCteOver("text", "xtok")},
         |xtf AS (SELECT doc_id, term, count(*) AS tf FROM xtok GROUP BY 1, 2),
         |xdl AS (SELECT doc_id, count(*) AS dl FROM xtok GROUP BY 1),
         |xst AS (SELECT count(*) AS n, avg(cast(coalesce(xdl.dl, 0) AS double)) AS avgdl
         |        FROM documents d LEFT JOIN xdl ON d.doc_id = xdl.doc_id),
         |xdf AS (SELECT term, count(*) AS df FROM xtf GROUP BY 1),
         |${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |gtf AS (SELECT doc_id, term, count(*) AS tf FROM gtok GROUP BY 1, 2),
         |gdl AS (SELECT doc_id, count(*) AS dl FROM gtok GROUP BY 1),
         |gst AS (SELECT count(*) AS n, avg(cast(coalesce(gdl.dl, 0) AS double)) AS avgdl
         |        FROM documents d LEFT JOIN gdl ON d.doc_id = gdl.doc_id),
         |gdf AS (SELECT term, count(*) AS df FROM gtf GROUP BY 1),
         |q(term) AS (VALUES ('de'), ('spark'), ('src18')),
         |bidf AS (
         |  SELECT q.term,
         |         ln(1 + cast(st.n - greatest(coalesce(x.df, 0), coalesce(g.df, 0)) + 0.5 AS double)
         |            / cast(greatest(coalesce(x.df, 0), coalesce(g.df, 0)) + 0.5 AS double)) AS idf
         |  FROM q LEFT JOIN xdf x ON x.term = q.term LEFT JOIN gdf g ON g.term = q.term
         |       CROSS JOIN xst st
         |  WHERE greatest(coalesce(x.df, 0), coalesce(g.df, 0)) > 0),
         |cx AS (
         |  SELECT tf.doc_id, tf.term,
         |         bidf.idf * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl)) AS c
         |  FROM xtf tf JOIN xdl dl USING (doc_id) JOIN bidf USING (term) CROSS JOIN xst st),
         |cg AS (
         |  SELECT tf.doc_id, tf.term,
         |         bidf.idf * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl)) AS c
         |  FROM gtf tf JOIN gdl dl USING (doc_id) JOIN bidf USING (term) CROSS JOIN gst st),
         |pt AS (
         |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, coalesce(a.term, b.term) AS term,
         |         greatest(coalesce(a.c, 0), coalesce(b.c, 0)) AS combined
         |  FROM cx a FULL OUTER JOIN cg b ON a.doc_id = b.doc_id AND a.term = b.term)
         |SELECT doc_id, round(sum(combined), 6) AS score FROM pt
         |GROUP BY doc_id ORDER BY round(sum(combined), 6) DESC, doc_id LIMIT 20""".stripMargin,
    // synonyms twin: group tf = sum of member tfs per doc, group df = MAX
    // member df (SynonymQuery's docFreq), each group folded like one term
    "b53_synonyms" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |gtf AS (
         |  SELECT doc_id, CASE WHEN term = 'hash' THEN 0 ELSE 1 END AS gi, sum(tf) AS tfsum
         |  FROM tf WHERE term IN ('hash', 'order', 'sort') GROUP BY 1, 2),
         |gdf AS (
         |  SELECT 0 AS gi, (SELECT max(df) FROM dfx WHERE term = 'hash') AS df
         |  UNION ALL
         |  SELECT 1, (SELECT max(df) FROM dfx WHERE term IN ('order', 'sort'))),
         |sc AS (
         |  SELECT g.doc_id,
         |         sum(ln(1 + cast(st.n - gdf.df + 0.5 AS double) / cast(gdf.df + 0.5 AS double))
         |             * g.tfsum / (g.tfsum + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM gtf g JOIN dl ON dl.doc_id = g.doc_id JOIN gdf USING (gi) CROSS JOIN st
         |  GROUP BY 1)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // query_string twin ('+hash "hash join" tabl* -vector'): required-term
    // chain + scored-phrase contribution + constant-1.0 prefix membership,
    // added in clause APPEARANCE order (the engine's pinned fold), the
    // prohibited term an anti-membership
    "b49_query_string" ->
      s"""WITH ${bm25Ctes(Seq("hash"))},
         |arr AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
         |  FROM documents),
         |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
         |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
         |ph AS (
         |  SELECT p0.doc_id, count(*) AS ptf
         |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |  WHERE p0.term = 'hash' AND p1.term = 'join'
         |  GROUP BY 1),
         |isum AS (
         |  SELECT (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'hash')
         |       + (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'join') AS v),
         |phsc AS (
         |  SELECT ph.doc_id,
         |         isum.v * (ph.ptf / (ph.ptf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM ph JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN isum),
         |pfx AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'tabl%'),
         |neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
         |SELECT s.doc_id,
         |       round(s.score + coalesce(p.score, 0)
         |             + (CASE WHEN x.doc_id IS NOT NULL THEN cast(1.0 AS double) ELSE cast(0.0 AS double) END), 6) AS score
         |FROM sc s
         |LEFT JOIN phsc p ON p.doc_id = s.doc_id
         |LEFT JOIN pfx x ON x.doc_id = s.doc_id
         |WHERE s.doc_id NOT IN (SELECT doc_id FROM neg)
         |ORDER BY round(s.score + coalesce(p.score, 0)
         |             + (CASE WHEN x.doc_id IS NOT NULL THEN cast(1.0 AS double) ELSE cast(0.0 AS double) END), 6) DESC,
         |         s.doc_id""".stripMargin,
    // rescore twin: the bm25 window CTE (LIMIT 20 under the protocol order)
    // left-joined to the b44-style scored-phrase chain; both sides 6-dp
    // rounded BEFORE the 1.0/2.0 combine, re-rounded after — the engine's
    // exact composition of protocol scores
    "b50_rescore" ->
      s"""WITH ${bm25Ctes(Seq("hash", "table"))},
         |win AS (SELECT doc_id, round(score, 6) AS score FROM sc
         |        ORDER BY round(score, 6) DESC, doc_id LIMIT 20),
         |arr AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
         |  FROM documents),
         |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
         |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
         |ph AS (
         |  SELECT p0.doc_id, count(*) AS ptf
         |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |  WHERE p0.term = 'hash' AND p1.term = 'join'
         |  GROUP BY 1),
         |isum AS (
         |  SELECT (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'hash')
         |       + (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'join') AS v),
         |phsc AS (
         |  SELECT ph.doc_id,
         |         isum.v * (ph.ptf / (ph.ptf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM ph JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN isum)
         |SELECT w.doc_id,
         |       round(1.0 * w.score + 2.0 * coalesce(round(p.score, 6), 0), 6) AS score
         |FROM win w LEFT JOIN phsc p ON p.doc_id = w.doc_id
         |ORDER BY round(1.0 * w.score + 2.0 * coalesce(round(p.score, 6), 0), 6) DESC, w.doc_id""".stripMargin,
    // composite twin: keyset page of the tags-field term keys — key order,
    // strictly after 'en'
    "a25_composite" ->
      s"""WITH ${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM gtok GROUP BY 1)
         |SELECT term, df FROM dfs WHERE term > 'en' ORDER BY term LIMIT 5""".stripMargin,
    // filters-agg twin: each named bucket its own membership-conjunction
    // count (the 'none' bucket's conjunct is absent -> count 0, row kept)
    "a26_filters_agg" ->
      s"""WITH $TokCte,
         |b1 AS (SELECT cast('both' AS varchar) AS name, count(*) AS doc_count FROM (
         |  SELECT doc_id FROM tok WHERE term IN ('hash', 'join')
         |  GROUP BY 1 HAVING count(DISTINCT term) = 2)),
         |b2 AS (SELECT cast('none' AS varchar) AS name, count(*) AS doc_count FROM (
         |  SELECT doc_id FROM tok WHERE term IN ('hash', 'qqqzzznotfound')
         |  GROUP BY 1 HAVING count(DISTINCT term) = 2)),
         |b3 AS (SELECT cast('sorted' AS varchar) AS name, count(*) AS doc_count FROM (
         |  SELECT doc_id FROM tok WHERE term IN ('order', 'sort')
         |  GROUP BY 1 HAVING count(DISTINCT term) = 2))
         |SELECT * FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)
         |ORDER BY name""".stripMargin,
    "a19_cardinality" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        |       count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // geo twin: identical coordinate derivation (integer mod first, exact
    // division after) and a term-for-term identical haversine; the radius
    // predicate applies to the ROUNDED distance in both engines
    "b23_geo" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         round(2 * 6371.0 * asin(sqrt(
        |           pow(sin(radians(lat - 10.0) / 2), 2) +
        |           cos(radians(10.0)) * cos(radians(lat)) *
        |           pow(sin(radians(lon - 20.0) / 2), 2))), 4) AS dist_km
        |  FROM pts)
        |SELECT doc_id, dist_km FROM d WHERE dist_km <= 3000.0 ORDER BY doc_id""".stripMargin,
    // sloppy-phrase twin: a start counts when SOME second-token position
    // lands in (pos, pos + 1 + slop] — count(DISTINCT p0.pos) mirrors the
    // engine's per-start counting (several valid p1 picks = one start)
    "b19_phrase_slop" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0)
        |SELECT p0.doc_id, count(DISTINCT p0.pos) AS phrase_tf
        |FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id
        |  AND p1.pos > p0.pos AND p1.pos <= p0.pos + 2
        |WHERE p0.term = 'hash' AND p1.term = 'join'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // phrase twin: reconstruct the analyzer's token stream WITH positions
    // (zipped unnests keep list order; substr-to-64 applies after empty
    // filtering, exactly like the engine tokenizer) and join adjacency
    "b16_phrase" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0)
        |SELECT p0.doc_id, count(*) AS phrase_tf
        |FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        |WHERE p0.term = 'hash' AND p1.term = 'join'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // fielded match: BM25 over the tags field under the FIELD's own
    // df/N/avgdl — the twin of the tags sub-index. concat_ws (NOT ||):
    // the engine side builds the field with concat_ws(" ", lang, source),
    // which SKIPS nulls, while `||` would yield NULL (zero tokens) if
    // either column were null — a single null-lang doc would silently
    // break oracle parity for the whole query family.
    "b13_field_match" ->
      s"""WITH ${fieldBm25Ctes("concat_ws(' ', lang, source)", "g", Seq("de", "src18"))}
         |SELECT doc_id, round(score, 6) AS score FROM gsc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // multi_match OR across text + tags: Lucene BooleanQuery SHOULD = sum of
    // the per-field BM25 scores, each under its own field stats
    "b14_multi_match" ->
      s"""WITH ${fieldBm25Ctes("text", "x", Seq("de", "spark", "src18"))},
         |${fieldBm25Ctes("concat_ws(' ', lang, source)", "g", Seq("de", "spark", "src18"))}
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(coalesce(a.score, 0) + coalesce(b.score, 0), 6) AS score
         |FROM xsc a FULL OUTER JOIN gsc b ON a.doc_id = b.doc_id
         |ORDER BY round(coalesce(a.score, 0) + coalesce(b.score, 0), 6) DESC,
         |         coalesce(a.doc_id, b.doc_id)
         |LIMIT 20""".stripMargin,
    // boost twin: the b14 twin with the text field's score factored by 2
    // OUTSIDE the per-field sum — exact vs the engine's per-term idf scaling
    // because ×2 is a power of two (each product and the sum scale without
    // rounding), so both engines produce bit-identical doubles pre-round
    "b30_boost" ->
      s"""WITH ${fieldBm25Ctes("text", "x", Seq("de", "spark", "src18"))},
         |${fieldBm25Ctes("concat_ws(' ', lang, source)", "g", Seq("de", "spark", "src18"))}
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(2 * coalesce(a.score, 0) + coalesce(b.score, 0), 6) AS score
         |FROM xsc a FULL OUTER JOIN gsc b ON a.doc_id = b.doc_id
         |ORDER BY round(2 * coalesce(a.score, 0) + coalesce(b.score, 0), 6) DESC,
         |         coalesce(a.doc_id, b.doc_id)
         |LIMIT 20""".stripMargin,
    // best_fields twin: greatest over the per-field sums — tie_breaker 0
    // needs no float-order care beyond the per-field sums themselves
    "b34_best_fields" ->
      s"""WITH ${fieldBm25Ctes("text", "x", Seq("de", "spark", "src18"))},
         |${fieldBm25Ctes("concat_ws(' ', lang, source)", "g", Seq("de", "spark", "src18"))}
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(greatest(coalesce(a.score, 0), coalesce(b.score, 0)), 6) AS score
         |FROM xsc a FULL OUTER JOIN gsc b ON a.doc_id = b.doc_id
         |ORDER BY round(greatest(coalesce(a.score, 0), coalesce(b.score, 0)), 6) DESC,
         |         coalesce(a.doc_id, b.doc_id)
         |LIMIT 20""".stripMargin,
    // date_histogram twin: calendar-day truncation == date cast (both
    // engines run UTC sessions over tz-less timestamps)
    "a21_date_histogram" ->
      """SELECT cast(ts AS date) AS day, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // extended_stats twin: the same seven moments; var/std at 4 dp absorbs
    // the engines' stable-vs-naive moment-algorithm drift (sub-1e-9)
    "a22_extended_stats" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(min(l_quantity), 2) AS min_qty,
        |       round(max(l_quantity), 2) AS max_qty,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(var_pop(l_quantity), 4) AS var_qty,
        |       round(stddev_pop(l_quantity), 4) AS std_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // range-agg twin: the CASE bucket bounds spelled identically
    "a23_range_agg" ->
      """SELECT CASE WHEN n_chars < 500 THEN 0 WHEN n_chars < 1500 THEN 500 ELSE 1500 END AS range_lo,
        |       count(*) AS n, round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // percentiles twin: quantile_cont pins the same exact linear
    // interpolation (rank p·(n−1)) as Spark's percentile
    "a24_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |       round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |       round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // histogram twin: dl recomputed from raw text (LEFT JOIN keeps dl = 0
    // docs — the engine registry indexes every doc), fixed-width floor
    // buckets; integer-exact, no float protocol
    "a20_histogram" ->
      s"""WITH $TokCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |alld AS (
         |  SELECT d.doc_id, coalesce(dl.dl, 0) AS dl
         |  FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id)
         |SELECT cast(floor(dl / 8) * 8 AS bigint) AS bucket_lo, count(*) AS n
         |FROM alld GROUP BY 1 ORDER BY 1""".stripMargin,
    // regexp twin: anchored full-term match over the token stream — DuckDB's
    // regexp_full_match is ES's anchored regexp semantics; same membership
    // shape as prefix/wildcard
    "b31_regexp" ->
      s"""WITH $TokCte
         |SELECT doc_id, count(DISTINCT term) AS n_terms FROM tok
         |WHERE regexp_full_match(term, '(s|qu)[a-z]*r[a-z]*')
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // terms_set twin: the msm twin with no must clause — matched-term count
    // over the requested set gates, the BM25 sum scores
    "b72_terms_set" ->
      s"""WITH ${bm25Ctes(Seq("merge", "vector", "window"))},
         |cnt AS (
         |  SELECT doc_id, count(DISTINCT term) AS scnt FROM tf
         |  WHERE term IN ('merge', 'vector', 'window') GROUP BY doc_id)
         |SELECT sc.doc_id, round(sc.score, 6) AS score
         |FROM sc JOIN cnt ON sc.doc_id = cnt.doc_id
         |WHERE cnt.scnt >= 2
         |ORDER BY round(sc.score, 6) DESC, sc.doc_id""".stripMargin,
    // match_bool_prefix twin: BM25 over the init terms FULL JOINed with the
    // constant-1 prefix membership — either side alone matches
    "b73_bool_prefix" ->
      s"""WITH ${bm25Ctes(Seq("hash"))},
         |pm AS (SELECT DISTINCT doc_id FROM tok WHERE starts_with(term, 'jo')),
         |u AS (
         |  SELECT coalesce(sc.doc_id, pm.doc_id) AS doc_id,
         |         coalesce(sc.score, 0) +
         |         CASE WHEN pm.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS score
         |  FROM sc FULL JOIN pm ON sc.doc_id = pm.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM u
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    "b74_count" ->
      s"""WITH $TokCte
         |SELECT count(DISTINCT doc_id) AS total FROM tok
         |WHERE term IN ('spark', 'stream')""".stripMargin,
    // termvectors twin: the positional token stream (the b16-family
    // pattern) filtered to the doc, df from the full stream
    "b75_termvectors" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(0, len(a))) AS pos FROM arr),
        |tokp AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp GROUP BY 1)
        |SELECT t.term, count(*) AS tf, any_value(d.df) AS df,
        |       array_to_string(list_sort(list(t.pos)), ',') AS positions
        |FROM tokp t JOIN dfx d USING (term) WHERE t.doc_id = 42
        |GROUP BY t.term ORDER BY t.term""".stripMargin,
    // diversified_sampler twin: protocol top-30 cut, then the per-lang
    // row_number de-dup under the same (score desc, doc_id) order
    "b76_div_sample" ->
      s"""WITH ${bm25Ctes(Seq("query", "sort"))},
         |ranked AS (
         |  SELECT doc_id, round(score, 6) AS score FROM sc
         |  ORDER BY round(score, 6) DESC, doc_id LIMIT 30),
         |j AS (
         |  SELECT r.doc_id, d.lang, r.score,
         |         row_number() OVER (PARTITION BY d.lang ORDER BY r.score DESC, r.doc_id) AS rn
         |  FROM ranked r JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, score FROM j WHERE rn <= 2
         |ORDER BY score DESC, doc_id""".stripMargin,
    "b77_knn_filtered" ->
      """SELECT a.vec_id, round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE b.vec_id = 0 AND a.vec_id <> 0 AND a.label = 3
        |ORDER BY round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) DESC, a.vec_id
        |LIMIT 10""".stripMargin,
    "a49_children_agg" ->
      """SELECT d.lang, count(*) AS n_children, round(avg(e.value), 4) AS avg_value
        |FROM events e JOIN documents d ON e.user_id = d.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "a50_geo_bounds" ->
      """WITH pts AS (
        |  SELECT (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents)
        |SELECT max(lat) AS top, min(lon) AS "left", min(lat) AS bottom, max(lon) AS "right"
        |FROM pts""".stripMargin,
    "a51_geo_centroid" ->
      """WITH pts AS (
        |  SELECT (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents)
        |SELECT round(avg(lat), 4) AS lat, round(avg(lon), 4) AS lon, count(*) AS n
        |FROM pts""".stripMargin,
    "a52_date_range" ->
      """WITH c AS (
        |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-10' THEN '*-2024-01-10'
        |              WHEN ts < TIMESTAMP '2024-01-20' THEN '2024-01-10-2024-01-20'
        |              ELSE '2024-01-20-*' END AS range, value
        |  FROM events),
        |g AS (SELECT range, count(*) AS n, round(sum(value), 2) AS sum_value
        |      FROM c GROUP BY 1)
        |SELECT r.range, coalesce(g.n, 0) AS n, coalesce(g.sum_value, 0.0) AS sum_value
        |FROM (VALUES ('*-2024-01-10'), ('2024-01-10-2024-01-20'), ('2024-01-20-*')) r(range)
        |LEFT JOIN g USING (range)
        |ORDER BY r.range""".stripMargin,
    "a53_cum_cardinality" ->
      """WITH days AS (SELECT DISTINCT cast(ts AS date) AS day FROM events),
        |fd AS (SELECT user_id, min(cast(ts AS date)) AS day FROM events GROUP BY 1),
        |nb AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1)
        |SELECT d.day, coalesce(nb.n_new, 0) AS n_new,
        |       CAST(sum(coalesce(nb.n_new, 0)) OVER
        |         (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_keys
        |FROM days d LEFT JOIN nb USING (day) ORDER BY d.day""".stripMargin,
    "a54_t_test" ->
      """SELECT round(
        |  (avg(CASE WHEN event_type = 'click' THEN value END)
        |   - avg(CASE WHEN event_type = 'error' THEN value END))
        |  / sqrt(var_samp(CASE WHEN event_type = 'click' THEN value END)
        |           / count(CASE WHEN event_type = 'click' THEN value END)
        |       + var_samp(CASE WHEN event_type = 'error' THEN value END)
        |           / count(CASE WHEN event_type = 'error' THEN value END)), 4) AS t_value
        |FROM events""".stripMargin,
    "a55_rate" ->
      """SELECT cast(date_trunc('week', ts) AS date) AS week,
        |       count(*) / 7.0 AS docs_per_day,
        |       round(sum(value) / 7.0, 4) AS value_per_day
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // intervals any_of twin: two ordered-window positional rules over one
    // token stream, full-joined and summed (lead terms distinct => exact)
    "b78_intervals" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |r1 AS (
        |  SELECT p0.doc_id, count(DISTINCT p0.pos) AS tf
        |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id
        |    AND p1.pos > p0.pos AND p1.pos <= p0.pos + 2
        |  WHERE p0.term = 'hash' AND p1.term = 'join' GROUP BY 1),
        |r2 AS (
        |  SELECT p0.doc_id, count(DISTINCT p0.pos) AS tf
        |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id
        |    AND p1.pos > p0.pos AND p1.pos <= p0.pos + 1
        |  WHERE p0.term = 'sort' AND p1.term = 'merge' GROUP BY 1)
        |SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
        |       coalesce(r1.tf, 0) + coalesce(r2.tf, 0) AS interval_tf
        |FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
        |ORDER BY doc_id""".stripMargin,
    // rank_eval twin: per query a protocol top-10 rank frame left-joined to
    // the gold conjunction (query terms + 'dup'), metrics as one aggregate
    "b79_rank_eval" ->
      s"""WITH ${fieldBm25Ctes("text", "q1", Seq("merge", "sort"))},
         |${fieldBm25Ctes("text", "q2", Seq("query", "window"))},
         |r1 AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM q1sc QUALIFY rank <= 10),
         |rel1 AS (SELECT doc_id FROM q1tok WHERE term IN ('merge', 'sort', 'dup')
         |         GROUP BY 1 HAVING count(DISTINCT term) = 3),
         |m1 AS (
         |  SELECT 'merge sort' AS query,
         |         round(count(rel.doc_id) / cast(count(*) AS double), 6) AS precision_k,
         |         round(coalesce(max(CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 / r.rank END), 0), 6) AS mrr,
         |         round(coalesce(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 / log2(r.rank + 1) END), 0), 6) AS dcg
         |  FROM r1 r LEFT JOIN rel1 rel USING (doc_id)),
         |r2 AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM q2sc QUALIFY rank <= 10),
         |rel2 AS (SELECT doc_id FROM q2tok WHERE term IN ('query', 'window', 'dup')
         |         GROUP BY 1 HAVING count(DISTINCT term) = 3),
         |m2 AS (
         |  SELECT 'query window' AS query,
         |         round(count(rel.doc_id) / cast(count(*) AS double), 6) AS precision_k,
         |         round(coalesce(max(CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 / r.rank END), 0), 6) AS mrr,
         |         round(coalesce(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 / log2(r.rank + 1) END), 0), 6) AS dcg
         |  FROM r2 r LEFT JOIN rel2 rel USING (doc_id))
         |SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY query""".stripMargin,
    "b80_runtime_fields" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))},
         |ranked AS (
         |  SELECT doc_id, round(score, 6) AS score FROM sc
         |  ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
         |dlx AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
         |SELECT r.doc_id, r.score, round(d.n_chars / cast(dlx.dl AS double), 4) AS chars_per_token
         |FROM ranked r JOIN documents d USING (doc_id) JOIN dlx USING (doc_id)
         |ORDER BY r.score DESC, r.doc_id""".stripMargin,
    "b81_min_score" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))}
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE round(score, 6) >= 0.2
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    "a56_sliced_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 4 = 1 ORDER BY doc_id""".stripMargin,
    "a57_percentile_ranks" ->
      """WITH n AS (SELECT count(value) AS n FROM events)
        |SELECT v.value,
        |       round(cast(100.0 AS double) *
        |             (SELECT count(*) FROM events WHERE value <= v.value) / n.n, 4) AS pct
        |FROM (VALUES (25.0), (50.0), (75.0)) v(value) CROSS JOIN n
        |ORDER BY v.value""".stripMargin,
    "a58_global_agg" ->
      """SELECT 'global' AS bucket, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        |FROM documents
        |UNION ALL
        |SELECT 'lang_en' AS bucket, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        |FROM documents WHERE lang = 'en'
        |ORDER BY bucket""".stripMargin,
    "a59_scripted_metric" ->
      """SELECT event_type, round(sqrt(sum(value * value) / count(*)), 4) AS rms
        |FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "a60_histogram_bounds" ->
      """WITH c AS (
        |  SELECT cast(floor(value / 25) AS bigint) AS bucket, count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |span AS (
        |  SELECT least(cast(floor(min(value) / 25) AS bigint), -2) AS blo,
        |         greatest(cast(floor(max(value) / 25) AS bigint), 20) AS bhi
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT unnest(range(blo, bhi + 1)) AS bucket FROM span)
        |SELECT b.bucket * 25 AS bucket_lo, coalesce(c.n, 0) AS n
        |FROM b LEFT JOIN c USING (bucket)
        |ORDER BY bucket_lo""".stripMargin,
    // multi-index twin: the text chain and the tags field chain (each with
    // its OWN df/N/avgdl — exactly the engine's per-index readers), unioned
    // under the protocol order extended with the idx tie-break
    "b82_multi_index" ->
      s"""WITH ${bm25Ctes(Seq("en", "spark"))},
         |${fieldBm25Ctes("concat_ws(' ', lang, source)", "g", Seq("en", "spark"))},
         |u AS (
         |  SELECT 'documents' AS idx, doc_id, round(score, 6) AS score FROM sc
         |  UNION ALL
         |  SELECT 'documents_tags' AS idx, doc_id, round(score, 6) AS score FROM gsc)
         |SELECT idx, doc_id, score FROM u
         |ORDER BY score DESC, idx, doc_id LIMIT 10""".stripMargin,
    // simple_query_string twin: required 'spark' BM25 base + phrase score +
    // constant-score prefix, prohibited 'merge' — contributions added in
    // clause appearance order (phrase, prefix, required term), the
    // composer's pinned fold
    "b83_simple_qs" ->
      s"""WITH ${bm25Ctes(Seq("spark"))},
         |arr AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
         |  FROM documents),
         |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
         |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
         |ph AS (
         |  SELECT p0.doc_id, count(*) AS ptf
         |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |  WHERE p0.term = 'hash' AND p1.term = 'join'
         |  GROUP BY 1),
         |isum AS (
         |  SELECT (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'hash')
         |       + (SELECT ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |          FROM dfx CROSS JOIN st WHERE dfx.term = 'join') AS v),
         |phsc AS (
         |  SELECT ph.doc_id,
         |         isum.v * (ph.ptf / (ph.ptf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM ph JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN isum),
         |pfx AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'quer%'),
         |neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge')
         |SELECT s.doc_id,
         |       round(coalesce(p.score, 0)
         |             + (CASE WHEN x.doc_id IS NOT NULL THEN cast(1.0 AS double) ELSE cast(0.0 AS double) END)
         |             + s.score, 6) AS score
         |FROM sc s
         |LEFT JOIN phsc p ON p.doc_id = s.doc_id
         |LEFT JOIN pfx x ON x.doc_id = s.doc_id
         |WHERE s.doc_id NOT IN (SELECT doc_id FROM neg)
         |ORDER BY round(coalesce(p.score, 0)
         |             + (CASE WHEN x.doc_id IS NOT NULL THEN cast(1.0 AS double) ELSE cast(0.0 AS double) END)
         |             + s.score, 6) DESC,
         |         s.doc_id""".stripMargin,
    // rrf twin: each retriever's window is its own protocol-ordered LIMIT,
    // ranks via row_number over the ROUNDED keys (integer-stable), fused
    // reciprocals summed over the full-outer join
    "b84_rrf" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))},
         |tw AS (SELECT doc_id, round(score, 6) AS s FROM sc
         |       ORDER BY round(score, 6) DESC, doc_id LIMIT 100),
         |tr AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rt FROM tw),
         |vw AS (SELECT a.vec_id AS doc_id,
         |              round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) AS c
         |       FROM embeddings a, embeddings b
         |       WHERE b.vec_id = 0 AND a.vec_id <> 0
         |       ORDER BY 2 DESC, 1 LIMIT 100),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rv FROM vw)
         |SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         |       round(coalesce(1.0 / (60 + rt), 0) + coalesce(1.0 / (60 + rv), 0), 6) AS score
         |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
         |ORDER BY round(coalesce(1.0 / (60 + rt), 0) + coalesce(1.0 / (60 + rv), 0), 6) DESC,
         |         coalesce(tr.doc_id, vr.doc_id)
         |LIMIT 10""".stripMargin,
    "b85_collapse_inner" ->
      s"""WITH ${bm25Ctes(Seq("hash", "table"))},
         |scr AS (SELECT doc_id, round(score, 6) AS score FROM sc),
         |r AS (
         |  SELECT d.lang, s.doc_id, s.score,
         |         row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) AS hit_rank
         |  FROM scr s JOIN documents d USING (doc_id))
         |SELECT lang, hit_rank, doc_id, score FROM r
         |WHERE hit_rank <= 3 ORDER BY lang, hit_rank""".stripMargin,
    "b86_has_child_inner" ->
      """WITH q AS (
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |  GROUP BY 1 HAVING count(*) >= 12),
        |qp AS (SELECT q.user_id FROM q JOIN documents d ON d.doc_id = q.user_id),
        |r AS (
        |  SELECT e.user_id AS parent_id, e.event_id, e.value,
        |         row_number() OVER (PARTITION BY e.user_id ORDER BY e.value DESC, e.event_id) AS hit_rank
        |  FROM events e JOIN qp ON qp.user_id = e.user_id
        |  WHERE e.event_type = 'error')
        |SELECT parent_id, hit_rank, event_id, value FROM r
        |WHERE hit_rank <= 3 ORDER BY parent_id, hit_rank""".stripMargin,
    // msm percentage twin: b26's distinct-should counter at the resolved
    // floor — 75% of 4 rounds DOWN to 3
    "b87_msm_pct" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score,
         |         count(DISTINCT tf.term) AS scnt
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN ('join', 'vector', 'window', 'stream')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |WHERE scnt >= 3
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // PIT twin: the base segment indexed doc_id % 17 <> 0 (the delta split
    // rule) — every corpus stat (N, avgdl, df) derives from that subset,
    // exactly the pinned manifest's own registries
    "b88_pit" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"), tokCteOver("text", "tok", " AND doc_id % 17 <> 0"))}
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // fuzzy prefix_length twin: the b20 expansion constrained to the exact
    // first character — LIKE 'b%' is the dictionary range slice
    "b89_fuzzy_prefix" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |fz AS (SELECT term FROM dfx WHERE term LIKE 'b%' AND levenshtein(term, 'bag') <= 2),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN (SELECT term FROM fz)
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    "a61_mget" ->
      """WITH ids(doc_id) AS (VALUES (1), (7), (42), (123456789))
        |SELECT i.doc_id, d.doc_id IS NOT NULL AS found,
        |       coalesce(d.lang, '') AS lang, coalesce(d.n_chars, 0) AS n_chars
        |FROM ids i LEFT JOIN documents d USING (doc_id)
        |ORDER BY i.doc_id""".stripMargin,
    "a62_update_by_query" ->
      """SELECT doc_id, lang,
        |       CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // span_containing/within twins: big = distinct unordered (hash, join)
    // windows at gap <= 4 over 1-based positions (containment is relative,
    // so the engine's 0-based positions agree); little = 'table'
    "b92_span_containing" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |spans AS (
        |  SELECT DISTINCT p1.doc_id, least(p1.pos, p2.pos) AS s, greatest(p1.pos, p2.pos) AS e
        |  FROM toks p1 JOIN toks p2 ON p1.doc_id = p2.doc_id
        |  WHERE p1.term = 'hash' AND p2.term = 'join' AND abs(p1.pos - p2.pos) - 1 <= 4)
        |SELECT sp.doc_id, count(*) AS n_spans
        |FROM spans sp
        |WHERE EXISTS (SELECT 1 FROM toks c
        |              WHERE c.doc_id = sp.doc_id AND c.term = 'table'
        |                AND c.pos BETWEEN sp.s AND sp.e)
        |GROUP BY sp.doc_id
        |ORDER BY sp.doc_id""".stripMargin,
    "b93_span_within" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |spans AS (
        |  SELECT DISTINCT p1.doc_id, least(p1.pos, p2.pos) AS s, greatest(p1.pos, p2.pos) AS e
        |  FROM toks p1 JOIN toks p2 ON p1.doc_id = p2.doc_id
        |  WHERE p1.term = 'hash' AND p2.term = 'join' AND abs(p1.pos - p2.pos) - 1 <= 4)
        |SELECT c.doc_id, count(DISTINCT c.pos) AS n_spans
        |FROM toks c
        |WHERE c.term = 'table'
        |  AND EXISTS (SELECT 1 FROM spans sp
        |              WHERE sp.doc_id = c.doc_id AND c.pos BETWEEN sp.s AND sp.e)
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    // linear retriever twin: per-window min-max normalization over the same
    // protocol-rounded keys, weighted sum over the full-outer join
    "b90_linear_retriever" ->
      s"""WITH ${bm25Ctes(Seq("join", "spark"))},
         |tw AS (SELECT doc_id, round(score, 6) AS s FROM sc
         |       ORDER BY round(score, 6) DESC, doc_id LIMIT 100),
         |text AS (SELECT doc_id,
         |           CASE WHEN (SELECT max(s) FROM tw) = (SELECT min(s) FROM tw) THEN 0.0
         |                ELSE (s - (SELECT min(s) FROM tw)) / ((SELECT max(s) FROM tw) - (SELECT min(s) FROM tw)) END AS nt
         |         FROM tw),
         |vw AS (SELECT a.vec_id AS doc_id,
         |              round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) AS c
         |       FROM embeddings a, embeddings b
         |       WHERE b.vec_id = 0 AND a.vec_id <> 0
         |       ORDER BY 2 DESC, 1 LIMIT 100),
         |vec AS (SELECT doc_id,
         |          CASE WHEN (SELECT max(c) FROM vw) = (SELECT min(c) FROM vw) THEN 0.0
         |               ELSE (c - (SELECT min(c) FROM vw)) / ((SELECT max(c) FROM vw) - (SELECT min(c) FROM vw)) END AS nv
         |        FROM vw)
         |SELECT coalesce(text.doc_id, vec.doc_id) AS doc_id,
         |       round(0.75 * coalesce(nt, 0) + 0.25 * coalesce(nv, 0), 6) AS score
         |FROM text FULL OUTER JOIN vec ON text.doc_id = vec.doc_id
         |ORDER BY round(0.75 * coalesce(nt, 0) + 0.25 * coalesce(nv, 0), 6) DESC,
         |         coalesce(text.doc_id, vec.doc_id)
         |LIMIT 10""".stripMargin,
    "b91_suggest_popular" ->
      s"""WITH $TokCte,
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
         |SELECT term, cast(levenshtein(term, 'part') AS bigint) AS dist, df FROM dfx
         |WHERE levenshtein(term, 'part') BETWEEN 1 AND 2
         |  AND df > coalesce((SELECT df FROM dfx WHERE term = 'part'), 0)
         |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin,
    // _cat/segments twin: the delta split rule partitions the corpus into
    // the two segments' registries; tokens = emitted (analyzed) counts
    "a63_cat_segments" ->
      s"""WITH $TokCte,
         |dlx AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1)
         |SELECT 0 AS segment, count(*) AS docs, cast(sum(dl) AS bigint) AS tokens
         |FROM dlx WHERE doc_id % 17 <> 0
         |UNION ALL
         |SELECT 1 AS segment, count(*) AS docs, cast(sum(dl) AS bigint) AS tokens
         |FROM dlx WHERE doc_id % 17 = 0
         |ORDER BY segment""".stripMargin,
    "a64_versioned_upsert" ->
      """SELECT c_custkey,
        |       round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 500.0 ELSE c_acctbal END, 2) AS c_acctbal,
        |       CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS version
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "a01_scan_projection" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_quantity >= 48 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "a03_fetch_by_ids" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (1, 3, 7, 32, 33, 64, 100, 101) ORDER BY o_orderkey""".stripMargin,
    "a08_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-09-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "a11_multivalue_merge" ->
      """SELECT doc_id,
        |       array_to_string(list_sort(list_distinct([lang, source, 'corpus'])), ',') AS merged
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a12_entity_split" ->
      s"""WITH $TokCte
         |SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2 ORDER BY doc_id, term""".stripMargin,
    "a13_dedup_by_key" ->
      """SELECT lang, source, min(doc_id) AS keeper, count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a14_enrichment_join" ->
      """SELECT o.o_orderkey, o.o_totalprice, coalesce(c.c_name, '') AS c_name,
        |       coalesce(cast(c.c_nationkey AS bigint), -1) AS c_nationkey
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice > 300000 ORDER BY o.o_orderkey""".stripMargin,
    "a15_stats_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(sum(l_discount), 4) AS sum_disc, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a16_events_json" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |       cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a17_window_topn" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "a18_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "a04_ldj_roundtrip" ->
      """SELECT doc_id, lang, sha256(text) AS text_sha FROM documents
        |ORDER BY doc_id""".stripMargin,
    "a02_page_scan" ->
      """WITH pg AS (
        |  SELECT l_orderkey % 8 AS grp, l_orderkey,
        |         cast((row_number() OVER (PARTITION BY l_orderkey % 8 ORDER BY l_orderkey, l_linenumber) - 1) // 500 AS bigint) AS page
        |  FROM lineitem)
        |SELECT grp, page, count(*) AS n_rows, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM pg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a05_upsert" ->
      """WITH upd AS (
        |  SELECT c_custkey, c_name || ' (enriched)' AS c_name, c_acctbal + 100.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, 0.0 FROM customer WHERE c_custkey <= 3),
        |merged AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal FROM merged
        |ORDER BY c_custkey""".stripMargin,
    "a06_lifecycle" ->
      """SELECT lang, count(*) AS n, cast(sum(n_chars) AS bigint) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "td_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "td_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "td_token_counts" ->
      s"""WITH $TokCte,
         |per AS (SELECT doc_id, count(*) AS n_terms, count(DISTINCT term) AS n_distinct_terms
         |        FROM tok GROUP BY 1)
         |SELECT d.doc_id,
         |       len(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS n_ws_tokens,
         |       len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
         |       coalesce(per.n_terms, 0) AS n_terms,
         |       coalesce(per.n_distinct_terms, 0) AS n_distinct_terms
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "td_quality" ->
      s"""WITH $TokCte,
         |per AS (SELECT doc_id, count(*) AS n_terms,
         |               sum(CASE WHEN term IN ('the','a','and','is','to','of','in') THEN 1 ELSE 0 END) AS stop_cnt
         |        FROM tok GROUP BY 1)
         |SELECT d.doc_id, length(d.text) AS n_chars,
         |       length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         |       length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS n_digit,
         |       length(regexp_replace(d.text, '[^ ]', '', 'g')) AS n_space,
         |       coalesce(per.n_terms, 0) AS n_terms,
         |       cast(coalesce(per.stop_cnt, 0) AS bigint) AS stop_cnt,
         |       round(cast(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS double) / length(d.text), 4) AS alpha_ratio,
         |       round(cast(coalesce(per.stop_cnt, 0) AS double) / greatest(coalesce(per.n_terms, 0), 1), 4) AS stop_ratio
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "td_langid" ->
      s"""WITH $TokCte,
         |cnts AS (
         |  SELECT doc_id, count(*) AS n_tok,
         |         sum(CASE WHEN term IN ('the','a','and','is','of','to') THEN 1 ELSE 0 END) AS cnt_en,
         |         sum(CASE WHEN term IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS cnt_de,
         |         sum(CASE WHEN term IN ('el','los','una','y','que','por') THEN 1 ELSE 0 END) AS cnt_es,
         |         sum(CASE WHEN term IN ('le','les','et','est','une','dans') THEN 1 ELSE 0 END) AS cnt_fr
         |  FROM tok GROUP BY 1)
         |SELECT d.doc_id,
         |       CASE WHEN (length(d.text) - length(regexp_replace(d.text, '[^ -~]', '', 'g'))) * 10 > length(d.text) * 3 THEN 'zh'
         |            WHEN coalesce(cnt_en, 0) >= coalesce(cnt_de, 0) AND coalesce(cnt_en, 0) >= coalesce(cnt_es, 0) AND coalesce(cnt_en, 0) >= coalesce(cnt_fr, 0) THEN 'en'
         |            WHEN coalesce(cnt_de, 0) >= coalesce(cnt_es, 0) AND coalesce(cnt_de, 0) >= coalesce(cnt_fr, 0) THEN 'de'
         |            WHEN coalesce(cnt_es, 0) >= coalesce(cnt_fr, 0) THEN 'es'
         |            ELSE 'fr' END AS lang_pred
         |FROM documents d LEFT JOIN cnts ON d.doc_id = cnts.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "td_minhash_bands" ->
      s"""WITH $ShingleCtes
         |SELECT doc_id, band, bucket FROM bands ORDER BY doc_id, band""".stripMargin,
    "td_neardup_minhash" ->
      s"""WITH $ShingleCtes,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |$JaccardTail
         |WHERE round(cast(i.inter AS double) / (za.sz + zb.sz - i.inter), 4) >= 0.6
         |ORDER BY a, b""".stripMargin,
    "td_ngram_jaccard" ->
      s"""WITH $ShingleCtes,
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |rare AS (SELECT shingle FROM dsh GROUP BY shingle HAVING count(*) > 1 AND count(*) <= 20),
         |shr AS (SELECT dsh.doc_id, dsh.shingle FROM dsh JOIN rare USING (shingle)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM shr x JOIN shr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |$JaccardTail
         |WHERE round(cast(i.inter AS double) / (za.sz + zb.sz - i.inter), 4) >= 0.5
         |ORDER BY a, b""".stripMargin,
    // SimHash twin: bit b of the 64-bit signature comes from hex digit
    // 16 - b/4 of md5(term) (big-endian parse of the first 16 hex chars —
    // exactly Long.parseUnsignedLong(md5Hex(term).take(16), 16) on the Spark
    // side), extracted with integer nibble math so nothing overflows; the
    // tf-weighted vote and the acc > 0 threshold mirror DedupOps.simhash.
    "td_simhash" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, r.b,
         |         CASE WHEN sum(CASE WHEN
         |           (cast(floor((strpos('0123456789abcdef', substr(md5(term), cast(16 - floor(r.b / 4) AS int), 1)) - 1)
         |                 / power(2, r.b % 4)) AS int) % 2) = 1
         |           THEN tf ELSE -tf END) > 0 THEN 1 ELSE 0 END AS bit
         |  FROM tf, range(0, 64) AS r(b) GROUP BY 1, 2),
         |nibs AS (
         |  SELECT doc_id, cast(floor(b / 4) AS int) AS nib,
         |         cast(sum(bit * power(2, b % 4)) AS int) AS v
         |  FROM bits GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id, string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY nib DESC) AS simhash
         |  FROM nibs GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(s.simhash, '0000000000000000') AS simhash
         |FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Pairs twin: the binary signature string ordered bit63..bit0 makes a
    // 16-char substring at q*16+1 cover exactly the same bit set as the
    // Spark side's 4-hex-char piece at q*4+1, so banding candidates are
    // identical, and hamming() over the binary strings IS the bit Hamming
    // distance.
    "td_simhash_pairs" ->
      s"""WITH ${simhashPairsCtes(8)}
         |SELECT a, b, dist FROM pr
         |ORDER BY a, b""".stripMargin,
    // clustering twin: recursive min-label reachability over the SAME pair
    // chain — min over all reachable labels IS the component minimum
    "td_dedup_clusters" ->
      s"""WITH RECURSIVE ${simhashPairsCtes(8)},
         |edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
         |reach(id, label) AS (
         |  SELECT x, x FROM edges
         |  UNION
         |  SELECT e.x, r.label FROM edges e JOIN reach r ON r.id = e.y)
         |SELECT id AS doc_id, min(label) AS cluster, (id = min(label)) AS canonical
         |FROM reach GROUP BY id
         |ORDER BY cluster, doc_id""".stripMargin,
    // repetition twin: the SAME whitespace-token trigram list as a DuckDB
    // list comprehension; 1 - distinct/total spelled identically (IEEE
    // division is bit-identical; round 4 dp is the float protocol)
    "td_repetition" ->
      """WITH arrs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(arr) - 2 + 1),
        |                                i -> array_to_string(arr[i:i+2], ' ')) AS grams
        |  FROM arrs WHERE len(arr) >= 3)
        |SELECT doc_id, len(grams) AS n_grams,
        |       round(1.0 - cast(len(list_distinct(grams)) AS double) / len(grams), 4) AS dup_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    // contamination twin: distinct (doc, shingle) pairs split into the
    // benchmark residue class and the rest; the inner join + count(*) over
    // deduped pairs IS the distinct-shared-shingle count
    "td_contamination" ->
      s"""WITH $ShingleCtes,
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |bench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 50 = 0)
         |SELECT d.doc_id, count(*) AS n_shared
         |FROM dsh d JOIN bench USING (shingle)
         |WHERE d.doc_id % 50 <> 0
         |GROUP BY 1
         |ORDER BY doc_id""".stripMargin,
    // NULL lang must SURVIVE a delete_by_query(lang = 'de') — the engine
    // keeps rows whose predicate is not TRUE (Ring9Spec pins it); a bare
    // `lang <> 'de'` would drop NULLs, diverging the twin
    "a65_delete_by_query" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE lang IS DISTINCT FROM 'de'
        |ORDER BY doc_id""".stripMargin,
    "a66_reindex" ->
      """SELECT doc_id, md5(text) AS fp,
        |       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        |                       t -> t <> '')) AS n_tokens
        |FROM documents WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    // _analyze twin: the same pinned tokenization as a DuckDB list pipeline;
    // zipped unnests pair each token with its 0-based position
    "b96_analyze" ->
      """WITH toks AS (SELECT list_transform(
        |    list_filter(regexp_split_to_array(lower('Hash-Join builds a HASH table; probe_side streams 42 rows & exits.'), '[^a-z0-9_]+'),
        |                t -> t <> ''),
        |    t -> substr(t, 1, 64)) AS l)
        |SELECT unnest(range(len(l))) AS position, unnest(l) AS token
        |FROM toks ORDER BY position""".stripMargin,
    // field_caps twin: the SAME pinned type mapping over DESCRIBE output
    "b97_field_caps" ->
      """SELECT field, es_type, searchable, (es_type <> 'text') AS aggregatable
        |FROM (
        |  SELECT column_name AS field,
        |         CASE WHEN column_type = 'BIGINT' THEN 'long'
        |              WHEN column_type = 'INTEGER' THEN 'integer'
        |              WHEN column_type = 'DOUBLE' THEN 'double'
        |              WHEN column_type = 'FLOAT' THEN 'float'
        |              WHEN column_type = 'TIMESTAMP' THEN 'date'
        |              WHEN column_type = 'BOOLEAN' THEN 'boolean'
        |              WHEN column_name = 'text' THEN 'text'
        |              ELSE 'keyword' END AS es_type,
        |         true AS searchable
        |  FROM (DESCRIBE documents))
        |ORDER BY field""".stripMargin,
    // parent-agg twin: dedupe (bucket, key) BEFORE the parent join so each
    // parent weighs once per bucket — exactly the engine's two-level fold
    "a67_parent_agg" ->
      """WITH cp AS (SELECT DISTINCT event_type, user_id FROM events),
        |j AS (SELECT cp.event_type, d.n_chars
        |      FROM cp JOIN documents d ON d.doc_id = cp.user_id)
        |SELECT event_type, count(*) AS n_parents,
        |       round(avg(n_chars), 4) AS avg_parent_value
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,
    "a68_frequent_pairs" ->
      """WITH ki AS (
        |  SELECT DISTINCT cast(user_id AS varchar) || '#' || cast(cast(ts AS date) AS varchar) AS k,
        |         event_type AS item
        |  FROM events),
        |tot AS (SELECT count(DISTINCT k) AS n_keys FROM ki),
        |p AS (SELECT x.item AS a, y.item AS b, count(*) AS n
        |      FROM ki x JOIN ki y ON x.k = y.k AND x.item < y.item
        |      GROUP BY 1, 2)
        |SELECT a, b, n, round(cast(n AS double) / t.n_keys, 4) AS support
        |FROM p CROSS JOIN tot t
        |WHERE round(cast(n AS double) / t.n_keys, 4) >= 0.14
        |ORDER BY support DESC, a, b""".stripMargin,
    // sparse_vector twin: the same dot product off the tf frame; doubles
    // forced (2.0 * cast(tf AS double)) so DuckDB never folds in DECIMAL
    "b98_sparse_vector" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT doc_id,
         |       round(sum(CASE term WHEN 'hash' THEN 2.0 * cast(tf AS double)
         |                           WHEN 'join' THEN 1.0 * cast(tf AS double)
         |                           WHEN 'vector' THEN 0.5 * cast(tf AS double)
         |                           WHEN 'zzmissing' THEN 4.0 * cast(tf AS double) END), 6) AS score
         |FROM tf WHERE term IN ('hash', 'join', 'vector', 'zzmissing')
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id""".stripMargin,
    // span_or twin: the union span count IS the occurrence count of any
    // clause term (width-1 spans, distinct terms never share a position)
    "b99_span_or" ->
      s"""WITH $TokCte
         |SELECT doc_id, count(*) AS n_spans
         |FROM tok WHERE term IN ('hash', 'vector', 'stream')
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "b100_mtermvectors" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(0, len(a))) AS pos FROM arr),
        |tokp AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp GROUP BY 1)
        |SELECT t.doc_id, t.term, count(*) AS tf, any_value(d.df) AS df,
        |       array_to_string(list_sort(list(t.pos)), ',') AS positions
        |FROM tokp t JOIN dfx d USING (term)
        |WHERE t.doc_id IN (7, 42, 99, 999999)
        |GROUP BY t.doc_id, t.term ORDER BY t.doc_id, t.term""".stripMargin,
    "a69_geohash_grid" ->
      s"""WITH pts AS (
         |  SELECT (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
         |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
         |  FROM documents),
         |xy AS (
         |  SELECT cast(greatest(least(floor((lon + 180.0) / 360.0 * 32.0), 31.0), 0.0) AS bigint) AS gx,
         |         cast(greatest(least(floor((lat + 90.0) / 180.0 * 32.0), 31.0), 0.0) AS bigint) AS gy
         |  FROM pts),
         |g AS (SELECT ${geohashCharsSql(2)} AS geohash FROM xy)
         |SELECT geohash, count(*) AS doc_count FROM g GROUP BY 1
         |ORDER BY doc_count DESC, geohash
         |LIMIT 15""".stripMargin,
    // fuzzy-transpositions twin: the expansion set under DuckDB's
    // damerau_levenshtein (the SAME unrestricted variant the engine's
    // native expression computes), then the ordinary BM25 OR — the exact
    // b20 twin with the distance swapped
    "b101_fuzzy_transpositions" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |fz AS (SELECT term FROM dfx WHERE damerau_levenshtein(term, 'ordre') <= 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + cast(st.n - dfx.df + 0.5 AS double) / cast(dfx.df + 0.5 AS double))
         |             * tf.tf / (tf.tf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * dl.dl / st.avgdl))) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN st
         |  WHERE tf.term IN (SELECT term FROM fz)
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // combined_fields twin: BM25F spelled term for term — weighted tf union
    // (text^2 + tags), union df off that merged frame, weighted dl and
    // weighted per-field avgdl (each avg = sum/N over ALL docs, missing
    // field = 0, exactly the engine's registry economics)
    "b102_combined_fields" ->
      s"""WITH ${tokCteOver("text", "ttok")},
         |${tokCteOver("concat_ws(' ', lang, source)", "gtok")},
         |ttf AS (SELECT doc_id, term, count(*) AS tf FROM ttok GROUP BY 1, 2),
         |gtf AS (SELECT doc_id, term, count(*) AS tf FROM gtok GROUP BY 1, 2),
         |tdl AS (SELECT doc_id, count(*) AS dl FROM ttok GROUP BY 1),
         |gdl AS (SELECT doc_id, count(*) AS dl FROM gtok GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |u AS (
         |  SELECT doc_id, term, 2.0 * cast(tf AS double) AS wtf FROM ttf WHERE term IN ('hash', 'de')
         |  UNION ALL
         |  SELECT doc_id, term, 1.0 * cast(tf AS double) AS wtf FROM gtf WHERE term IN ('hash', 'de')),
         |ctf AS (SELECT doc_id, term, sum(wtf) AS ctf FROM u GROUP BY 1, 2),
         |dfu AS (SELECT term, count(*) AS dfu FROM ctf GROUP BY 1),
         |cdl AS (
         |  SELECT d.doc_id,
         |         2.0 * cast(coalesce(tdl.dl, 0) AS double) + 1.0 * cast(coalesce(gdl.dl, 0) AS double) AS cdl
         |  FROM documents d LEFT JOIN tdl ON d.doc_id = tdl.doc_id
         |                   LEFT JOIN gdl ON d.doc_id = gdl.doc_id),
         |st AS (
         |  SELECT n.n,
         |         2.0 * (cast((SELECT sum(dl) FROM tdl) AS double) / n.n)
         |           + 1.0 * (cast((SELECT sum(dl) FROM gdl) AS double) / n.n) AS cavg
         |  FROM nd n),
         |sc AS (
         |  SELECT c.doc_id,
         |         sum(ln(1 + cast(st.n - f.dfu + 0.5 AS double) / cast(f.dfu + 0.5 AS double))
         |             * (c.ctf / (c.ctf + cast(1.2 AS double) * (cast(0.25 AS double) + cast(0.75 AS double) * l.cdl / st.cavg)))) AS score
         |  FROM ctf c JOIN dfu f USING (term) JOIN cdl l USING (doc_id) CROSS JOIN st
         |  GROUP BY c.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id""".stripMargin,
    // unigram LM twin: cf from the same token stream, C = total tokens,
    // mean log-prob = Σ tf·ln(cf/C) / dl — division AFTER the sum, 6 dp
    "td_unigram_lm" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT count(*) AS c FROM tok)
         |SELECT tf.doc_id,
         |       round(sum(tf.tf * ln(cast(cf.cf AS double) / cast(t.c AS double))) / dl.dl, 6) AS logprob
         |FROM tf JOIN cf USING (term) JOIN dl USING (doc_id) CROSS JOIN tot t
         |GROUP BY tf.doc_id, dl.dl
         |ORDER BY tf.doc_id""".stripMargin,
    // terms_set twin: distinct-match count vs the same per-doc script floor
    "b103_terms_set" ->
      s"""WITH $TokCte,
         |m AS (
         |  SELECT doc_id, count(DISTINCT term) AS n_matched FROM tok
         |  WHERE term IN ('hash', 'join', 'vector', 'stream')
         |  GROUP BY 1)
         |SELECT doc_id, n_matched, 1 + doc_id % 3 AS required
         |FROM m WHERE n_matched >= 1 + doc_id % 3
         |ORDER BY doc_id""".stripMargin,
    // span_multi twin: the multi side is every 's%'-prefixed occurrence;
    // two-clause unordered cover = min |delta pos| - 1 (the b27 shape)
    "b104_span_multi" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS a
        |  FROM documents),
        |t0 AS (SELECT doc_id, unnest(a) AS term0, unnest(range(1, len(a)+1)) AS pos FROM arr),
        |toks AS (SELECT doc_id, substr(term0, 1, 64) AS term, pos FROM t0),
        |g AS (
        |  SELECT p0.doc_id, min(abs(p1.pos - p0.pos)) - 1 AS min_gap
        |  FROM toks p0 JOIN toks p1 ON p1.doc_id = p0.doc_id
        |  WHERE p0.term LIKE 's%' AND p1.term = 'join'
        |  GROUP BY 1)
        |SELECT doc_id, min_gap FROM g WHERE min_gap <= 2 ORDER BY doc_id""".stripMargin,
    // significant_text twin: the same protocol top-30, DISTINCT text dedup,
    // re-tokenized per-text distinct terms, JLH over corpus df
    "b105_significant_text" ->
      s"""WITH ${bm25Ctes(Seq("stream", "vector"))},
         |smp AS (SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 30),
         |fgtext AS (SELECT DISTINCT d.text FROM smp JOIN documents d USING (doc_id)),
         |ft AS (SELECT cast(count(*) AS double) AS n FROM fgtext),
         |fgtok AS (
         |  SELECT DISTINCT text, substr(t.term, 1, 64) AS term
         |  FROM fgtext, unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS t(term)
         |  WHERE t.term <> ''),
         |fgc AS (SELECT term, count(*) AS fg FROM fgtok GROUP BY 1),
         |tot AS (SELECT cast(count(*) AS double) AS n FROM documents)
         |SELECT f.term, f.fg, d.df AS bg,
         |       round((f.fg/ft.n - d.df/t.n) * ((f.fg/ft.n) / (d.df/t.n)), 6) AS score
         |FROM fgc f JOIN dfx d USING (term) CROSS JOIN ft CROSS JOIN tot t
         |WHERE f.term NOT IN ('vector', 'stream')
         |ORDER BY score DESC, f.term LIMIT 8""".stripMargin,
    // percentile_ranks twin: the same exact <= fraction per requested value
    "a70_percentile_ranks" ->
      """WITH n AS (SELECT count(l_quantity) AS n FROM lineitem)
        |SELECT v.value,
        |       round(cast(100.0 AS double) *
        |             (SELECT count(*) FROM lineitem WHERE l_quantity <= v.value) / n.n, 4) AS pct
        |FROM (VALUES (10.0), (25.0), (49.0)) v(value) CROSS JOIN n
        |ORDER BY v.value""".stripMargin,
    // CASE (not an OR of conjunctions): a NULL lang routes to the ELSE
    // branch exactly like the engine's when/otherwise — the disjunction
    // form would drop NULL-lang rows the engine keeps
    "td_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ((doc_id * 1103515245 + 12345) % 100 + 100) % 100 AS h
        |  FROM documents) t
        |WHERE CASE WHEN lang = 'en' THEN h < 50 ELSE h < 20 END
        |ORDER BY doc_id""".stripMargin,
    "b94_profile" ->
      s"""WITH $TokCte,
         |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |leaves(clause, term) AS (VALUES
         |  ('must:hash', 'hash'), ('should:join', 'join'),
         |  ('should:vector', 'vector'), ('should:zzmissing', 'zzmissing'),
         |  ('must_not:merge', 'merge')),
         |leaf AS (SELECT l.clause, coalesce(d.df, 0) AS docs
         |         FROM leaves l LEFT JOIN dfx d ON d.term = l.term),
         |tot AS (
         |  SELECT 'total:bool' AS clause, count(*) AS docs FROM (
         |    SELECT DISTINCT doc_id FROM tok WHERE term = 'hash') h
         |  WHERE h.doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'merge'))
         |SELECT clause, docs FROM leaf
         |UNION ALL SELECT clause, docs FROM tot
         |ORDER BY clause""".stripMargin,
    "b95_geo_polygon" ->
      """WITH pts AS (
        |  SELECT doc_id,
        |         (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |         (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM documents)
        |SELECT doc_id, lat, lon FROM pts
        |WHERE (150.0 - (-120.0)) * (lat - (-60.0)) - ((-10.0) - (-60.0)) * (lon - (-120.0)) >= 0
        |  AND ((-30.0) - 150.0) * (lat - (-10.0)) - (70.0 - (-10.0)) * (lon - 150.0) >= 0
        |  AND ((-120.0) - (-30.0)) * (lat - 70.0) - ((-60.0) - 70.0) * (lon - (-30.0)) >= 0
        |ORDER BY doc_id""".stripMargin,
    "td_cosine_topk" ->
      """SELECT a.vec_id, round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE b.vec_id = 0 AND a.vec_id <> 0
        |ORDER BY round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) DESC, a.vec_id
        |LIMIT 10""".stripMargin,
    "td_ann_lsh" ->
      """WITH bk AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:8],
        |           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM embeddings)
        |SELECT a.vec_id, round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) AS cosine
        |FROM bk a JOIN bk b ON a.bucket = b.bucket
        |WHERE b.vec_id = 0 AND a.vec_id <> 0
        |ORDER BY round(list_cosine_similarity(cast(a.embedding AS double[]), cast(b.embedding AS double[])), 4) DESC, a.vec_id
        |LIMIT 10""".stripMargin,
    "td_ann_ivf" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8),
        |sims AS (
        |  SELECT e.vec_id, c.cid,
        |         round(list_cosine_similarity(cast(e.embedding AS double[]), cast(c.cvec AS double[])), 6) AS sim
        |  FROM embeddings e, cent c),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sims)
        |  WHERE rn = 1),
        |pc AS (SELECT cid FROM sims WHERE vec_id = 0 ORDER BY sim DESC, cid LIMIT 2),
        |cand AS (SELECT a.vec_id FROM assign a JOIN pc USING (cid) WHERE a.vec_id <> 0)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(cast(e.embedding AS double[]), cast(b.embedding AS double[])), 4) AS cosine
        |FROM cand JOIN embeddings e USING (vec_id), (SELECT embedding FROM embeddings WHERE vec_id = 0) b
        |ORDER BY cosine DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "td_cosine_neardup" ->
      """WITH bk AS (
        |  SELECT vec_id, cast(r.q AS int) AS q,
        |         array_to_string(list_transform(embedding[(r.q*6 + 1):(r.q*6 + 6)],
        |           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS piece
        |  FROM embeddings, range(0, 4) AS r(q)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM bk x JOIN bk y ON x.q = y.q AND x.piece = y.piece AND x.vec_id < y.vec_id)
        |SELECT c.a, c.b,
        |       round(list_cosine_similarity(cast(ea.embedding AS double[]), cast(eb.embedding AS double[])), 4) AS cosine
        |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a JOIN embeddings eb ON eb.vec_id = c.b
        |WHERE round(list_cosine_similarity(cast(ea.embedding AS double[]), cast(eb.embedding AS double[])), 4) >= 0.2
        |ORDER BY a, b""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS content_sha256,
        |       octet_length(encode(text)) % 16 + 1 AS fake_frames
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
