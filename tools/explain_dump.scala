// Dumps .explain("formatted") for the load-bearing physical plans into
// EXPLAINS.md — evidence that pushdown/pruning/broadcast/codegen engage.
// Run: /opt/spark/bin/spark-shell --master local[8] --jars <graft jar> -I tools/explain_dump.scala
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
val sf = "/root/testdata/sf0.001"
val out = new StringBuilder
def section(title: String, why: String, df: org.apache.spark.sql.DataFrame): Unit = {
  out ++= s"\n## $title\n\n$why\n\n```\n"
  out ++= df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  out ++= "\n```\n"
}
out ++= "# EXPLAINS — physical-plan evidence (generated by tools/explain_dump.scala at sf0.001)\n"
out ++= "\nWhat to look for: `PushedFilters` / `ReadSchema` on every scan (pushdown +\n"
out ++= "column pruning reached parquet), `BroadcastHashJoin` on small sides,\n"
out ++= "map-side partial `HashAggregate`, wide `WholeStageCodegen` spans, and the\n"
out ++= "ABSENCE of single-partition exchanges anywhere in the build or query paths.\n"

// 1. engine: query-term postings scan — CATALOG-level partition pruning on
// tbucket (v4 layout) plus the In(term) row-group pruning, exactly the
// reader's compiled predicate
val idx = graft.driver.DocumentsIndex.indexDir(spark, sf)
val qterms = Seq("spark", "join")
val tbk = { val b = graft.index.InvertedIndex.readTermBuckets(spark, idx); qterms.map(t => graft.index.InvertedIndex.termBucket(t, b)).distinct }
section("B8/B9: postings scan for a match query (partition + row-group pruning)",
  "PartitionFilters must carry tbucket IN (...) — directory-level elimination before any file opens — and PushedFilters the In(term, ...) predicate; ReadSchema must be the postings columns only.",
  graft.io.Tables.read(spark, idx, graft.index.InvertedIndex.PostingsTable)
    .where(col("tbucket").isin(tbk: _*) && col("term").isin(qterms: _*)))
// 2. rank-all: distributed scoring plan (no driver-side materialization)
section("B9 rank-all: distributed scoring (scoreAllDf)",
  "One shuffle (groupBy docId); the per-doc pinned-order fold is an in-row expression; no collect anywhere.",
  graft.driver.DocumentsIndex.reader(spark, sf).scoreAllDf("the a value"))
// 3. A1/A7: scan with projection + predicate
section("A1/A7: scan + projection + predicate pushdown",
  "PushedFilters carries the quantity predicate; ReadSchema has exactly the 4 projected columns.",
  spark.read.parquet(s"$sf/lineitem.parquet")
    .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    .where(col("l_quantity") >= 48))
// 4. A14: broadcast enrichment join
section("A14: enrichment join is a BroadcastHashJoin",
  "The dimension side is broadcast — no shuffle of the fact side.",
  spark.read.parquet(s"$sf/orders.parquet").as("o")
    .join(broadcast(spark.read.parquet(s"$sf/customer.parquet").as("c")),
      col("o.o_custkey") === col("c.c_custkey"), "left"))
// 5. TD: exact dedup (map-side partial agg)
section("TD exact dedup: partial HashAggregate before the exchange",
  "Two HashAggregate nodes around one Exchange = map-side combine engaged.",
  graft.ops.DedupOps.exactDupGroups(spark.read.parquet(s"$sf/documents.parquet")))
// 6. IVF ANN: assignment must be NARROW (broadcast centroids, no NxK exchange)
{
  val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  section("TD IVF ANN: narrow broadcast-centroid assignment (no NxK exchange)",
    "The whole plan must be scan -> (deserialize) filter/map -> TakeOrderedAndProject: cell assignment is a Scala argmax over broadcast centroids inside one narrow pass. No Window, no crossJoin row amplification, no Exchange except none at all (TakeOrdered merges partial heaps on the driver).",
    graft.ops.IvfOps.annTopK(emb, graft.ops.IvfOps.initQuantizer(emb, 8), probeId = 0L, k = 10, nprobe = 2))
}
// 7. B14 multi_match rank-all FALLBACK: per-field rank-all + full-outer combine
// (k <= 0 forces the rank-all branch; the k > 0 geometry-aligned serving
// path is the single WAND job in the round-5 section below)
section("B13/B14 multi-field: fielded rank-all + cross-field OR (the k<=0 / misaligned fallback)",
  "Two per-field scoring subplans (each: pruned postings scan -> narrow decode flatMap -> one groupBy(docId) exchange) joined full-outer on the doc key; no collect anywhere.",
  graft.driver.DocumentsIndex.multiMatch(spark, sf, "spark src18 de", -1))
// 8. B15 phrase: the ONE path that reads the v5 `pos` column
section("B15 phrase: positional match (pos read HERE, and only here)",
  "This scan's ReadSchema must INCLUDE `pos`, while the rank-all scan in the section above must NOT (its pos is an empty literal) — the Lucene .doc/.pos file separation, done by parquet column pruning instead of separate files. Same tbucket PartitionFilters + In(term) pushdown as every query scan; one groupBy(bucket) exchange; intersection and lazy position decode are bucket-local.",
  graft.driver.DocumentsIndex.reader(spark, sf).matchPhraseDf("hash join"))
// 9. B14 delta serving: composite (base ∪ delta) rank-all
section("B14 delta serving: union of pruned base + delta segment scans",
  "Two per-segment pruned postings scans union; composite block bounds are recomputed in a narrow map over block rows (no exchange added); the rest of the plan is identical to single-segment rank-all.",
  graft.driver.DocumentsIndex.deltaReader(spark, sf).scoreAllDf("batch vector"))
// 10. B16 bool rank-all: one scoring aggregate + ids-only anti-join
section("B16 bool query rank-all: scoring agg with in-agg must-count + anti-join exclusion",
  "One pruned scan of the scoring terms' blocks -> narrow decode flatMap -> ONE groupBy(docId) exchange computing the pinned score fold AND the conditional distinct must-count together; must_not is a second tiny pruned scan decoding ONLY docIds (no tf/dl/pos) into a left-anti join. No collect; no per-clause extra shuffles.",
  graft.driver.DocumentsIndex.reader(spark, sf).searchBoolDf(Seq("hash", "vector"), Seq("join"), Seq("window")))
// 10b. B16 filter context (round 6): ids-only membership conjunction
// semi-joined to the scored frame — filter never decodes payloads
section("B16 bool filter context: ids-only filter conjunction LEFT SEMI-joined to the scored frame",
  "The filter branch scans ONLY docIds (ReadSchema has no tf/dl/pos — filter never scores, so it never needs payloads), aggregates a distinct-term membership count, and reaches the scored frame as a LeftSemi join. The scoring branch is the unchanged b17 aggregate over (must ∪ should) — 'vector' appears ONLY in the filter branch's In(term), never in the scoring scan. At 100 TB the semi-join is the cheap side: ES caches filter contexts for the same reason (no scores to invalidate).",
  graft.driver.DocumentsIndex.reader(spark, sf).searchBoolDf(Seq("hash"), Seq("join"), Nil, filter = Seq("vector", "join")))
// 11. B17 prefix: term-RANGE predicate pushed into the postings scan,
// PLUS (round 5) tbucket catalog pruning when the expansion is capped
section("B17 prefix query: range predicate + expansion-capped tbucket pruning",
  "PushedFilters must carry GreaterThanOrEqual/LessThan on term — the range itself, never an In(...) of expanded terms (thousands at corpus scale) — and, because the dictionary expansion fits the cap, PartitionFilters must ALSO carry tbucket IN (...) derived from the expanded terms' buckets: a selective prefix reads a handful of bucket directories instead of paying O(buckets) footer reads. Above the cap the pure range scan stands (row-group stats only). One ids-only decode flatMap + one groupBy(docId) exchange. The cap probe (prefixProbe) is a distributed dictionary range scan only above the resident bound (IndexReader.ResidentDictMaxBytes, 6 MiB of dictionary files): under it the probe is a binary-searched range of the reader's resident dictionary on the driver and submits no job, and only the postings scan below runs.",
  graft.driver.DocumentsIndex.reader(spark, sf).matchPrefixDf("s"))
// 12. B14 multi_match TOP-K serving (round 5): ONE cross-field WAND job
{
  val rs = Seq(graft.driver.DocumentsIndex.reader(spark, sf),
    graft.driver.DocumentsIndex.tagsReader(spark, sf))
  section("B14 multi_match top-k: ONE cross-field WAND job (geometry-aligned serving path)",
    "The bounded serving path DocumentsIndex.multiMatch routes to when PLAN_GEOMETRY sidecars match (they do here — same session, same key set): union of BOTH fields' pruned postings scans -> one docId re-bucket exchange -> per-bucket cross-field WAND -> TakeOrderedAndProject. Compare with the B13/B14 rank-all section above, which is now the FALLBACK (k <= 0 or geometry mismatch): that plan scores the full match union of every field; this one theta-prunes it in one job.",
    graft.index.MultiFieldIndex.multiMatchTopKDs(spark, rs, "spark src18 de", 20).toDF)
}
// 13. B18 fuzzy (round 5): dictionary expansion + scored-OR rank-all
{
  val r = graft.driver.DocumentsIndex.reader(spark, sf)
  val idxDir = graft.driver.DocumentsIndex.indexDir(spark, sf)
  section("B18 fuzzy: length-banded Levenshtein dictionary expansion (executor-side verify)",
    "The expansion scan: PushedFilters carries the length band (edit distance >= length difference, so the band is a correct prefilter); the levenshtein(term, q) <= e verify is Spark's codegen'd BUILT-IN evaluated on the executors — only matching terms reach the driver. The dictionary is postings-scale smaller than the corpus, same economics as prefix expansion. This distributed scan is the plan used above the resident bound (IndexReader.ResidentDictMaxBytes, 6 MiB of dictionary files); under it expandFuzzy applies the same band and the same distance kernel (UTF8String.levenshteinDistance, DamerauLevenshtein.distance) on the driver over the reader's resident dictionary and submits no job.",
    graft.io.Tables.read(spark, idxDir, graft.index.InvertedIndex.DictTable)
      .where(length(col("term")).between(1, 5) && levenshtein(col("term"), lit("bag")) <= 2)
      .select(col("term"), col("df")))
  section("B18 fuzzy serving: scored OR over the expansion (rank-all shape)",
    "Identical to the rank-all plan family: pruned postings scan of the expanded terms -> narrow decode flatMap -> ONE groupBy(docId) exchange with the pinned-order fold. The expansion list is driver-side tiny (capped at maxExpansions).",
    r.matchFuzzyDf("bag", 2))
}
// 14. B19 terms agg (round 5): the dictionary IS the facet
section("B19 terms aggregation: dictionary scan -> TakeOrderedAndProject (no postings touched)",
  "A terms agg over an indexed field never scans postings or documents: the per-field dictionary already holds (term, df), so the whole plan is a two-column scan into TakeOrderedAndProject. ReadSchema must be term+df only.",
  graft.driver.DocumentsIndex.tagsReader(spark, sf).termsAggDf(10))
// 15. B20 wildcard (round 5): capped expansion feeding the membership scan
section("B20 wildcard: expansion-capped membership scan (tbucket IN + In(term))",
  "Non-anchored pattern *or* expands through the dictionary (rlike: distributed above the resident bound, IndexReader.ResidentDictMaxBytes; under it the same java.util.regex find runs on the driver over the reader's resident dictionary and submits no job), then the membership scan carries BOTH tbucket IN (...) catalog pruning and In(term, ...) row-group pruning — ids-only ReadSchema (no tf/dl/pos bytes).",
  graft.driver.DocumentsIndex.reader(spark, sf).matchWildcardDf("*or*"))
// 17. B15 match_phrase_prefix (round 5): expansion-widened positional scan
section("B15 match_phrase_prefix: fixed terms + capped prefix expansion in ONE positional scan",
  "Same phrase plan shape (pos column read, tbucket + In(term) pruning, one re-bucket exchange) with the last slot's expansion terms joining the scan's In-list — the alternatives union at match time, not as separate jobs per expansion term.",
  graft.driver.DocumentsIndex.reader(spark, sf).matchPhrasePrefixDf("the s"))
// 18. B10 search_after (round 6): BOUNDED cursor page
{
  val p1 = graft.driver.DocumentsIndex.bm25(spark, sf, "spark join", 10).collect()
  section("B10 search_after: BOUNDED cursor page (round 6 serving path)",
    "The page a cursor client gets is cut from the BMW over-fetch: a tiny broadcast local relation (the fetched hits) joined to the registry, filtered by the (rounded score, doc_id) keyset predicate, TakeOrderedAndProject to k. It must contain NO postings scan and NO contribution aggregate — those are the rank-all signature, now only the beyond-window fallback (the ES index.max_result_window mirror). Round 5's plan scored the FULL match union per page. The plan below executes exactly ONCE, during the page-stability check; the caller is then served the already-collected <= k rows as a LocalRelation (LocalTableScan — no second execution of the join), so a paging client pays one job per page.",
    graft.driver.DocumentsIndex.bm25SearchAfter(spark, sf, "spark join",
      p1.last.getDouble(1), p1.last.getLong(0), 10))
}
// 19. B15 span_near: same positional plan family as phrase
section("B15 span_near (unordered): positional scan + bucket-local min-cover sweep",
  "Identical plan shape to phrase (pos column read for exactly the query terms, tbucket + In(term) pruning, one re-bucket exchange); the k-pointer minimal-cover sweep is bucket-local.",
  graft.driver.DocumentsIndex.reader(spark, sf).matchSpanNearDf("hash join", 3))
// 20. B22 highlighting: broadcast top-k joins the source, builtin fragment
section("B22 highlight: broadcast top-k join + builtin string fragment (no UDFs)",
  "The tiny top-k side must broadcast (BroadcastHashJoin); the fragment expression (locate/substr/concat) runs codegen'd in the projection — no UDFs anywhere; source scan reads only (doc_id, text).",
  graft.driver.DocumentsIndex.highlight(spark, sf, "vector", 10))
// 21. B19 histogram (round 6): registry IS the agg input
section("B19 histogram agg: registry dl scan -> map-side-combined groupBy (no postings, no documents)",
  "ReadSchema must be the dl column only; two HashAggregate nodes around one Exchange = partial agg engaged; bucket count is corpus-bounded-tiny so the exchange moves bucket partials, never rows.",
  graft.driver.DocumentsIndex.reader(spark, sf).histogramAggDf(8))
// 22. B20 regexp (round 6): validated-safe expansion + shared membership tail
section("B20 regexp: anchored safe-subset expansion feeding the tbucket-pruned membership scan",
  "Same plan family as wildcard: above the resident bound (IndexReader.ResidentDictMaxBytes) the dictionary rlike expansion is distributed and df-capped as a plan, and under it the same filter and (df desc, term asc) cap run on the driver over the reader's resident dictionary with no job; the membership scan then carries tbucket IN (...) + In(term, ...) with ids-only ReadSchema.",
  graft.driver.DocumentsIndex.reader(spark, sf).matchRegexpDf("(s|qu)[a-z]*r[a-z]*"))
// 23. B22 highlight v2 (round 6): broadcast top-k + typed char-offset fragment
section("B22 highlight v2 (multi-term): broadcast top-k join + typed char-offset fragment map",
  "The tiny top-k side must broadcast; the fragment is a typed flatMap (DeserializeToObject/MapPartitions over the k joined rows — re-tokenizing k documents, never the corpus); source scan reads only (doc_id, text).",
  graft.driver.DocumentsIndex.highlightMulti(spark, sf, "hash join", 10))
// 24. B13 boosted multi_match (round 6): boosts leave the ONE-job WAND shape intact
{
  val rs = Seq(graft.driver.DocumentsIndex.reader(spark, sf),
    graft.driver.DocumentsIndex.tagsReader(spark, sf))
  section("B13 multi_match with field boosts: the SAME one-job cross-field WAND",
    "Boosts scale (idf, maxImpact) at the term-meta level before the job is planned, so the boosted plan is IDENTICAL in shape to the unboosted b14 section — union of pruned per-field scans, one docId re-bucket exchange, per-bucket WAND, TakeOrderedAndProject. No extra stages, no post-scaling projection.",
    graft.index.MultiFieldIndex.multiMatchTopKDs(spark, rs, "spark src18 de", 20, Seq(2.0, 1.0)).toDF)
}
// 25. B24 significant_terms (round 6): fg semi-join + dictionary join + ordered cut
section("B24 significant_terms: foreground semi-join over ids-only postings + dictionary bg join",
  "The foreground set joins an ids-only postings decode (no tf/dl/pos in ReadSchema); per-term fg counts come from ONE map-side-combined aggregate after the join; bg df is the dictionary scan; the JLH score is an in-row codegen'd expression and the cut is TakeOrderedAndProject — no window, no driver sort, no documents touched.",
  graft.driver.DocumentsIndex.significantTerms(spark, sf, "stream", 10))
// 26. B25 term suggester: banded dictionary scan, distance on executors
section("B25 term suggester: length-banded dictionary scan + executor-side levenshtein, ordered cut",
  "PushedFilters must carry the length band (edit distance >= length difference makes it a correct prefilter); levenshtein runs codegen'd on the executors; TakeOrderedAndProject under (dist, df desc, term) — the same expansion plan family as B18 fuzzy.",
  graft.driver.DocumentsIndex.suggest(spark, sf, "vectr", 2, 5))
// 27. B26 field collapse: struct-max agg, never a window
section("B26 field collapse: map-side-combinable max(struct) per group — no Window node",
  "Two HashAggregate/ObjectHashAggregate nodes around one Exchange = the per-group best-hit pick combines partially on every input partition. A Window over PARTITION BY lang would funnel the corpus-sized match set through |groups| tasks at 100 TB — the plan must contain NO Window.",
  graft.driver.DocumentsIndex.collapseByLang(spark, sf, "spark join"))
// 28. B27 function_score: rank-all x registry modifier
section("B27 function_score: rank-all scores joined to the registry dl (the doc-values read)",
  "The modifier input (dl) comes from the registry scan with ReadSchema (docId, dl) only; the ln(1 + dl/64) product is an in-row codegen'd expression; ordering is the usual TakeOrderedAndProject. The join adds no new exchange class beyond the rank-all shape.",
  graft.driver.DocumentsIndex.functionScore(spark, sf, "spark join", 20))
// 29. A15 extended_stats: one aggregate, all moments
section("A15 extended_stats: all moments in ONE map-side-combined aggregate",
  "count/min/max/sum/avg/var_pop/stddev_pop compute in a single pair of HashAggregate nodes around one Exchange — Spark's central-moment buffers merge associatively, so partials combine on every input partition (the 100 TB shape); ReadSchema is exactly (l_returnflag, l_quantity).",
  graft.SparkEntry.queries("a22_extended_stats")(spark, sf))
// 30. A15 range agg: CASE bucketing, partial agg
section("A15 range agg: CASE bucket expression + map-side-combined groupBy",
  "The bucket bound CASE is an in-row codegen'd expression; two HashAggregate nodes around one Exchange move 3 bucket partials, never rows; ReadSchema is n_chars only.",
  graft.SparkEntry.queries("a23_range_agg")(spark, sf))
// 31. B19 terms agg + avg sub-agg: ids-only postings scan, one combined groupBy
section("B19 terms agg + avg sub-agg: ids-only postings scan joined to doc values, ONE combined groupBy",
  "The postings scan's ReadSchema carries term + docId columns only (no tf/dl/pos — bucket membership needs no payloads); doc_count and the mean compute in the SAME pair of HashAggregate nodes around one Exchange (count(*) per term IS df by the postings distinct-doc invariant); the cut is TakeOrderedAndProject. This is ES's bucket-collection cost model: doc values read once per (term, doc) pair.",
  graft.driver.DocumentsIndex.termsStats(spark, sf, 10))
// 32. B16 constant_score: pure-filter frame at a literal score
section("B16 constant_score: the pure-filter ids-only frame with boost as a literal",
  "No BM25 anywhere: the ids-only membership conjunction (ReadSchema without payloads) feeds a projection that attaches the boost as a literal — the whole 'scoring' is one constant column. The cheapest possible serving plan, and why ES caches filter contexts.",
  graft.driver.DocumentsIndex.constantScore(spark, sf, Seq("vector", "order"), 1.5))
// 33. B25 completion suggester: dictionary range scan + ordered cut
section("B25 completion suggester: dictionary prefix range scan -> TakeOrderedAndProject",
  "PushedFilters must carry the [prefix, bump) term range (row-group min/max pruning over the term-sorted dictionary — the FST-walk analog); the cut under (df desc, term asc) runs as TakeOrderedAndProject. No postings, no documents.",
  graft.driver.DocumentsIndex.completionSuggest(spark, sf, "s", 4))
// 34. A15 percentiles: one exact-percentile aggregate
section("A15 percentiles: per-group exact percentile in one aggregate pair",
  "All four percentiles compute in ONE ObjectHashAggregate pair around one Exchange; ReadSchema is exactly (l_returnflag, l_quantity). The documented 100 TB swap is approx_percentile — mergeable quantile sketches, same plan shape without the per-group sort buffer.",
  graft.SparkEntry.queries("a24_percentiles")(spark, sf))
// 35. B15 scored phrase (round 6): positional match + registry doc-values join
section("B15 scored phrase: positional match + registry dl join (the doc-values read)",
  "The phrase branch is the unchanged b16 positional plan (pos column read for exactly the phrase terms, tbucket + In(term) pruning, one re-bucket exchange); the BM25 factors arrive as a registry scan with ReadSchema (docId, dl) only, joined on docId; idf-sum and tfNorm are in-row codegen'd expressions — no second postings pass, no collect.",
  graft.driver.DocumentsIndex.reader(spark, sf).phraseScoreDf("hash join"))
// 36. B27 query_string (round 6): per-clause frames composed by docId joins
section("B27 query_string: per-clause pruned frames composed by docId equi-joins",
  "'+hash \"hash join\" tabl* -vector' — four clause kinds, one plan: the required term's scoring aggregate (inner side), the scored-phrase frame and the prefix membership frame (left outer), the prohibited term's ids-only decode (left anti). Each clause scans ONLY its own terms' blocks (every scan shows tbucket + term pruning); the appearance-order score fold is one in-row expression. Clause-count-many joins over already-aggregated frames — never a corpus scan, no collect.",
  graft.driver.DocumentsIndex.reader(spark, sf).queryStringDf("+hash \"hash join\" tabl* -vector"))
// 37. B13 dis_max (round 6): per-subquery rank-all + greatest/sum combine
section("B13 dis_max: per-subquery rank-all frames + in-row greatest/tie-breaker combine",
  "Two scoring subplans (each the rank-all shape: pruned scan -> decode flatMap -> one groupBy(docId) exchange) full-outer joined on docId; max + tb*(sum-max) is a single codegen'd projection — no extra exchange beyond the per-subquery aggregates.",
  graft.driver.DocumentsIndex.reader(spark, sf).disMaxDf(Seq("hash table", "sort merge"), 0.5))
// 38. B16 boosting (round 6): ids-only negative side
section("B16 boosting: positive rank-all + ids-only negative membership (outer join, in-row demotion)",
  "The negative branch decodes ONLY docIds (ReadSchema without payloads — the negative query never scores); the demotion is a when(neg, score*nb) projection after a left outer join. Same economics as must_not, with demote instead of drop.",
  graft.driver.DocumentsIndex.reader(spark, sf).boostingDf("hash table", "vector", 0.5))
// 39. B10 top_hits (round 6): bounded aggregate, NO window
section("B10 top_hits agg: bounded per-group aggregate (ObjectHashAggregate pair) — no Window",
  "The per-group top-n pick runs as TWO aggregate nodes around ONE exchange: TopHitsAgg's buffer never exceeds n rows, so every input partition reduces to <= n rows per group BEFORE the shuffle. The plan must contain NO Window node — a row_number window partitioned by a 5-value lang column would funnel the corpus-sized match set through 5 tasks at 100 TB.",
  graft.driver.DocumentsIndex.topHitsByLang(spark, sf, "spark join", 3))
// 40. B19 composite agg (round 6): keyset page of the dictionary
section("B19 composite agg: keyset-paginated dictionary range scan -> key-ordered cut",
  "PushedFilters must carry GreaterThan(term, after) — the keyset predicate prunes row groups below the cursor in the term-sorted dictionary, so deep pages never rescan earlier buckets; the page cut is TakeOrderedAndProject under term asc. No postings, no documents.",
  graft.driver.DocumentsIndex.tagsReader(spark, sf).termsCompositeDf(5, Some("en")))
// 41. B19 filters agg (round 6): union of tiny membership aggregates
section("B19 filters agg: ONE shared ids-only scan, postings fanned to buckets via a broadcast map",
  "The round-6 rewrite: the distinct term union scans ONCE (term-set-sized read regardless of bucket count); each posting fans out to its buckets through the broadcast term->buckets map (the percolate core), one map-side-combined (docId, bucket) count, a broadcast n_terms check, and the coalesce-0 names join that keeps absent/empty buckets at count 0. Exchanges move (docId, bucket) partials, never documents.",
  graft.driver.DocumentsIndex.reader(spark, sf).filtersAggDf(Seq(
    "both" -> Seq("hash join"), "none" -> Seq("hash qqqzzznotfound"), "sorted" -> Seq("sort order"))))
// 42. B16 numeric range filter (round 6): registry doc-values read, dl pushdown
section("B16 range filter: dl predicate PUSHED into the registry scan, ids-only semi-join",
  "The range branch is a registry scan whose PushedFilters must carry GreaterThanOrEqual/LessThan on dl (the doc-values read prunes row groups at the source) with ReadSchema (docId, dl) only; it reaches the scored frame as a LeftSemi join — the range never scores, so the scoring side is the unchanged b17 aggregate. The bucketed path needs NO extra read at all: dl rides in every posting's payload, so the range is a per-candidate comparison there.",
  graft.driver.DocumentsIndex.reader(spark, sf).searchBoolDf(Seq("hash"), Seq("join"), Nil, dlRange = Some((40L, 90L))))
// 43. B9/B15 rescore (round 6): broadcast window x bounded phrase frame
section("B9/B15 rescore: broadcast top-k window joined to the scored-phrase frame",
  "The window side is the bounded BMW top-k (<= window_size rows — must BROADCAST); the rescore side is the b44 scored-phrase plan (positional scan of the phrase terms only + registry dl join). The combine (qw*main + rw*phrase) is one codegen'd projection; docs outside the window never appear — the join's left side IS the window.",
  graft.driver.DocumentsIndex.rescorePhrase(spark, sf, "hash table", "hash join", 20, 1.0, 2.0))
// 44. B10 sort-by-field (round 6): keyset cursor pushed into the doc-value scan
section("B10 sort-by-field page: keyset predicate in PushedFilters, ids-only semi join, TakeOrderedAndProject",
  "Field-sorted serving must show: (a) the cursor predicate (n_chars </=, doc_id >) in the documents scan's PushedFilters — deep pages prune row groups AT THE SOURCE; (b) the match set arriving as a LeftSemi join of the ids-only postings scan (no text column, no score anywhere); (c) the sort+limit as TakeOrderedAndProject, never a global Sort. Scoring is absent by design — ES skips it when sort omits _score.",
  graft.driver.DocumentsIndex.sortByField(spark, sf, "hash", 120L, 5L, 10))
// 45. B13 cross_fields (round 6): term-centric blended WAND + relational twin
section("B13 multi_match cross_fields: blended-idf rank-all — tagged per-field contribs, per-term dismax fold",
  "The rank-all side of the bit-exact pair (the bounded side is the cross-field WAND transpose — one job, LocalTableScan when stable): per-field contribution frames union with a field tag, ONE aggregate per (docId, term) computes the fi-sorted sum AND max partials (the dismax inputs), a second per-docId aggregate folds terms in sorted order. Both exchanges move (docId, term)-grain partials, never documents.",
  graft.index.MultiFieldIndex.crossFieldsScoreAllReaders(spark,
    Seq(graft.driver.DocumentsIndex.reader(spark, sf), graft.driver.DocumentsIndex.tagsReader(spark, sf)),
    "spark src18 de", tieBreaker = 0.0))
// 46. B1 synonyms (round 6): group-merged payload scan, broadcast group meta
section("B1 query-time synonyms: ONE payload scan of all member terms, (docId, group) map-side combine, broadcast group-meta join",
  "Lucene SynonymQuery as a plan: every group member's postings come out of ONE pruned payload scan; the per-(docId, group) tf sum is a map-side-combinable aggregate (dl rides as first() — all postings of a doc agree); the blended idf (MAX member df per group) attaches through a BROADCAST join of the tiny group-meta frame. The only exchange moves (docId, group) partials — never documents, never per-term rows past the combine.",
  graft.driver.DocumentsIndex.reader(spark, sf)
    .synonymScoreAllDf(Seq(Seq("hash"), Seq("sort", "order"))))
// 47. B27 gauss decay (round 6): registry doc-values join + codegen'd decay
section("B27 function_score gauss decay: rank-all scores x registry dl join, decay as ONE codegen'd projection",
  "Same plan skeleton as the ln-modifier function_score section: the registry scan attaches the dl doc value (ReadSchema (docId, dl) only), the gauss multiplier exp(ln(decay)*(d/scale)^2) is a single whole-stage-codegen projection over the joined frame — no UDFs, no extra exchange beyond the join.",
  graft.driver.DocumentsIndex.functionScoreGauss(spark, sf, "hash table", 60.0, 20.0, 5.0, 0.5, 20))
// 48. B24 phrase suggester (round 6): one positional scan, bucket-local pair counts
section("B24 phrase suggester: ONE positional scan of ALL candidate terms, bucket-local bigram-df pass",
  "Did-you-mean costs one phrase-shaped job: both slots' fuzzy expansions land in a single tbucket-pruned positional scan (ReadSchema includes pos), each bucket counts every candidate pair in one pass over shared posting views, and the only exchange moves ((l, r), partial-df) rows — pairs x buckets, never documents. The final (freq desc, suggestion) cut is a TakeOrderedAndProject.",
  graft.driver.DocumentsIndex.suggestPhrase(spark, sf, "hash joyn", 5))
// 49. B19 adjacency_matrix (round 6): filters-agg shape over singles + pairs
section("B19 adjacency_matrix: the SHARED-scan filters-agg plan over n singles + n(n-1)/2 conjunctions, empty buckets dropped",
  "Singles and pairwise intersections all ride the one shared term scan from the filters-agg section — before the round-6 rewrite each of the n + C(n,2) buckets re-scanned its own terms (every term read n times); now the read is term-set-sized and only the (docId, bucket) fanout is quadratic in BUCKETS (query-sized, ES caps at 100 filters), never in data.",
  graft.driver.DocumentsIndex.adjacencyMatrix(spark, sf, Seq(
    "h" -> Seq("hash"), "j" -> Seq("join"), "v" -> Seq("vector"))))
// 16. B21 geo (round 5): bbox prefilter pushed to the scan
section("B21 geo_distance: bbox prefilter pushed to the scan, haversine on survivors",
  "PushedFilters must carry the lat/lon range comparisons (the bbox — at 100 TB this prunes row groups/partitions at the source); the haversine + rounded-radius predicate runs codegen'd on the survivors only. No UDFs, no exchange.",
  {
    val (la, lo) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
    // materialize the derived coords so the section shows lat/lon PUSHED
    // into a scan (derived columns can't be pushed past their projection)
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), la.as("lat"), lo.as("lon"))
      .write.mode("overwrite").parquet("/tmp/graft_explain_geo")
    graft.ops.GeoOps.withinRadius(spark.read.parquet("/tmp/graft_explain_geo"),
      "lat", "lon", 10.0, 20.0, 3000.0)
  })
// 51. pipeline aggs (round 6): window over the BUCKET frame, not the data
section("A-pipeline derivative/cumulative_sum: ordered window over the parent agg's bucket frame",
  "The parent date_histogram keeps its distributed map-side-combined plan; the pipeline step is ONE unpartitioned window over its OUTPUT — bucket grain, thousands of rows at any data scale (ES runs the same step coordinator-side over the reduced bucket list). The WindowExec single-partition warning is expected and bounded by bucket count, never by document count.",
  graft.ops.PipelineAggs.cumulativeSum(
    spark.read.parquet(s"$sf/events.parquet")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n")),
    "day", "n", "cum"))
// 52. max_bucket (round 6): broadcast 1-row max, no window at all
section("A-pipeline max_bucket: 1-row global max BROADCAST into an equi-filter join",
  "Tied maxima come back as rows without any window: the buckets aggregate once more into a single max row, which must broadcast back onto the bucket frame as a BroadcastHashJoin — two passes over bucket-grain data, zero passes over documents.",
  graft.ops.PipelineAggs.maxBucket(
    spark.read.parquet(s"$sf/events.parquet")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n")),
    "day", "n"))
// 53. has_child (round 6): child counts shuffle, documents never do
section("B-join has_child: child-filter pushdown -> map-side-combined count per key -> join to parents",
  "The child query's predicate (event_type = 'error') must reach the child scan's PushedFilters; the per-parent-key count is a partial HashAggregate BEFORE its exchange (only (key, count) partials move); min_children applies at the aggregate so out-of-range parents never reach the join. This is ES's global-ordinals parent bitset cost model as a relational plan.",
  graft.ops.JoinFieldOps.hasChild(
    spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
    spark.read.parquet(s"$sf/events.parquet").where(col("event_type") === "error"),
    "user_id", minChildren = 12L))
// 54. has_parent (round 6): ids-only parent frame, LeftSemi children cut
section("B-join has_parent: term-filter parent ids semi-joined into the child table",
  "The parent side is the filter-context ids-only frame (postings membership + registry docId->doc_id, never scores, never reads documents); children keep their own scan and survive through a LeftSemi join — no duplication possible, no parent columns materialize.",
  graft.ops.JoinFieldOps.hasParent(
    spark.read.parquet(s"$sf/events.parquet"), "user_id",
    graft.driver.DocumentsIndex.matchingDocIds(spark, sf, Seq("vector", "stream")),
    "doc_id"))
// 55. rare_terms (round 6): dictionary long tail, df predicate at the scan
section("B19 rare_terms: dictionary scan with the df cut pushed down — no postings, no documents",
  "The long-tail inverse of the terms agg reads ONLY the (term, df) dictionary; single-segment serving pushes df <= max_doc_count into the scan's PushedFilters (composite indexes must filter after the cross-segment df sum instead). Output order (df asc, term asc) is a sort over result-sized data.",
  graft.driver.DocumentsIndex.rareTerms(spark, sf, 30L))
// 56. geotile_grid (round 6): codegen'd tile key + one map-side-combined agg
section("B21 geotile_grid: mercator-band filter + tile-key projection in the scan stage, ONE combined groupBy",
  "The slippy-tile key (floor arithmetic + the 6-dp-rounded mercator fraction) is a codegen'd projection — no UDFs; the band filter |lat| <= 85.05112878 sits with the scan; the agg is map-side combined so the exchange moves (tile, partial-count) rows. At 100 TB the grid costs one full-scan aggregate, ES's own model.",
  {
    val (la, lo) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
    graft.ops.GeoOps.geotileGrid(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), la.as("lat"), lo.as("lon")),
      "lat", "lon", z = 3, size = 15)
  })
// 57. sampler sig_terms (round 6): bounded sample replaces the full fg set
section("B24 sampler significant_terms: protocol top-k sample as the foreground of the sig_terms plan",
  "The sample is ONE TakeOrderedAndProject over the rank-all scoring frame (bounded rows); it then plays the foreground role of the plain sig_terms plan — the expensive per-term fg semi-join now joins against a BOUNDED id set (broadcastable), which is exactly why ES mitigates sig_terms cost with this agg. Background stays the dictionary df scan.",
  graft.driver.DocumentsIndex.samplerSigTerms(spark, sf, "hash join", 50, 10))
// 58. percolate (round 6): reverse search, registry broadcast
section("B30 percolate: ONE ids-only scan of the union of stored-query terms, broadcast registry, (docId, query) partials",
  "The reverse search costs one membership-shaped job: the union of every stored query's terms comes out of a single tbucket-pruned ids-only scan; each posting fans out to its queries through the broadcast term->queries map; the (docId, query) count aggregate is map-side combined and the n_terms check joins a broadcast registry frame. Documents never move; an unsatisfiable query's missing term simply never arrives.",
  graft.driver.DocumentsIndex.percolate(spark, sf, Seq(
    "hj" -> Seq("hash", "join"), "sv" -> Seq("sort", "vector"),
    "zz" -> Seq("hash", "qqqzzznotfound"))))
// 59. span_first (round 6): single positional scan, block-local check
section("B15 span_first: one positional scan of ONE term, position check block-local, no exchange",
  "A single-term span needs no conjunction and no bucket re-grouping: the term's blocks scan (tbucket PartitionFilters + In(term), ReadSchema INCLUDING pos), the first-position check runs in the decode flatMap, and only the matching (docId, first_pos) rows leave the executors. The registry join attaches doc_id as in every driver row.",
  graft.driver.DocumentsIndex.spanFirstMatch(spark, sf, "hash", 8))
// 60. explain (round 6): bounded breakdown join, no second corpus pass
section("B9 _explain: top-k cut feeds a BOUNDED per-term breakdown join",
  "The explanation leaves re-read ONLY the query terms' postings; the top-k id frame (one TakeOrderedAndProject over the rank-all plan) joins them bounded — k rows broadcast — and the idf attaches from a broadcast term-meta frame. Explain must never cost a second corpus pass; this plan shows it costs one bounded join.",
  graft.driver.DocumentsIndex.explain(spark, sf, "hash join", 10))
// 61. terms lookup (round 6): coordinator GET + ids-only membership
section("B16 terms lookup: ONE driver-side lookup GET, then the ids-only membership frame",
  "ES's terms-lookup fetches the lookup document coordinator-side — mirrored by the 1-row driver collect — and the serving plan is the B17/B20 membership shape over the looked-up terms: tbucket-pruned ids-only tags-postings scan, one groupBy(docId) exchange, registry join for doc_id. No documents read anywhere.",
  graft.driver.DocumentsIndex.termsLookup(spark, sf, 42L))
// 62. random_score (round 6): codegen'd seeded hash over the filter set
section("B27 random_score: filter-context ids + ONE codegen'd LCG projection",
  "Deterministic random sampling costs the filter membership scan plus a two-step integer LCG spelled as in-row arithmetic (codegen'd, engine-identical IEEE ops) — no UDF, no extra exchange; the cut is TakeOrderedAndProject under (score desc, doc_id).",
  graft.driver.DocumentsIndex.randomScore(spark, sf, Seq("vector"), 7L, 20))
// 63. geo_distance agg (round 6): protocol distance + CASE rings
section("B21 geo_distance agg: haversine + 4-dp protocol round + CASE rings, zero rings kept via a VALUES join",
  "The ring bucketing is the range-agg CASE shape over the ROUNDED distance (the b23 float protocol reused as a bucketing cut); one map-side-combined groupBy, and the requested-ranges VALUES frame LEFT-joins the counts so empty rings stay at 0 exactly like ES. Trig runs codegen'd in the scan stage.",
  graft.SparkEntry.queries("a35_geo_distance_agg")(spark, sf))
// 64. rank_feature (round 6): one registry scan + saturation projection
section("B27 rank_feature: ONE doc-values scan (docId, dl) + a codegen'd saturation",
  "The static-relevance query costs exactly the doc-values read: ReadSchema must be (docId, dl) only, the saturation x/(x+pivot) is one whole-stage-codegen projection, and the cut is TakeOrderedAndProject. No postings, no documents, no exchange beyond the top-k.",
  graft.driver.DocumentsIndex.rankFeature(spark, sf, 64.0, 20))
// 65. pinned (round 6): broadcast curated ids over the organic rank-all
section("B9 pinned query: BROADCAST curated-id frame + anti-filtered organic rank-all, one union",
  "The pinned side is a tiny literal frame broadcast against the registry (the existence check that silently drops unknown ids, as ES does); the organic side is the unchanged rank-all plan with a NOT IN literal filter. The union sorts once — curated docs lead by construction of their scores.",
  graft.driver.DocumentsIndex.pinnedQuery(spark, sf, "hash join", Seq(42L, 7L, 99999L), 20))
// 67. span_not (round 6): two-term positional scan, exclusion bucket-local
section("B15 span_not: ONE positional scan of include + exclude, windowed exclusion bucket-local",
  "Both terms' blocks come out of one tbucket-pruned positional scan (ReadSchema includes pos); each bucket walks the INCLUDE postings and probes the exclude view per candidate doc only — exclude positions decode at candidates, never list-wide (the SpanNotQuery economics). One groupBy(bucket) exchange, integer rows out.",
  graft.driver.DocumentsIndex.spanNotMatch(spark, sf, "hash", "join", 1, 1))
// 66. msearch (round 6): N queries, ONE postings scan, LocalRelation serving
section("B10 _msearch: N-query page served from the ONE-job batch WAND result",
  "The contract row's plan is the serving join only — a LocalTableScan of the N x k hit rows (the coordinator page searchBmwBatch produced in ONE distributed job over the union of all queries' terms) broadcast against the registry for doc_id. The expensive part ran as one job; deep plans here would mean the batch path leaked per-query jobs.",
  graft.driver.DocumentsIndex.msearch(spark, sf,
    Seq("spark join", "window merge batch vector", "hash table"), 10))
// 50. B21 geo_bounding_box (round 6): pure pushdown incl. the antimeridian OR
section("B21 geo_bounding_box: the WHOLE predicate (wrap OR included) in PushedFilters",
  "The cheapest geo query must be pure source pruning: lat between + the date-line wrap disjunction (lon >= left OR lon <= right) all land in the parquet scan's PushedFilters — Or(GtEq, LtEq) pushes fine — with no Filter work beyond the scan and no trig anywhere. At 100 TB over coordinate-clustered data this is row-group/partition pruning, zero compute.",
  graft.ops.GeoOps.withinBox(spark.read.parquet("/tmp/graft_explain_geo"),
    "lat", "lon", top = 80.0, left = 120.0, bottom = -80.0, right = -140.0))
// 68. match_bool_prefix (round 6 final): scored fold FULL-OUTER ids-only membership
section("B17 match_bool_prefix: rank-all fold FULL-OUTER-joined with the capped ids-only prefix membership",
  "Two bounded sides, one join: the init terms ride the ordinary scored fold (one groupBy exchange), the prefix clause is the ids-only membership scan over the capped expansion (no payload columns in its ReadSchema — constant score decodes no tf). Docs from either side survive (the bool msm=1 semantics) via the full outer join; the constant-1 add is a codegen'd coalesce projection.",
  graft.driver.DocumentsIndex.matchBoolPrefix(spark, sf, "hash jo"))
// 69. filtered kNN (round 6 final): filter pushdown + broadcast probe, zero wide exchanges
section("B33 kNN with filter: label pushdown to the embeddings scan, 1-row probe broadcast, TakeOrderedAndProject",
  "ES 8 kNN's filter PRE-filters candidates: the label predicate must land in PushedFilters of the embeddings scan; the probe vector is a broadcast 1-row side (BroadcastNestedLoopJoin over one row — not a cartesian risk); cosine is one codegen'd projection and the top-k is TakeOrderedAndProject. No shuffle of the corpus anywhere.",
  graft.ops.VectorOps.cosineTopKAmong(
    spark.read.parquet(s"$sf/embeddings.parquet").where(col("label") === 3),
    spark.read.parquet(s"$sf/embeddings.parquet"), 0L, 10))
// 70. children agg (round 6 final): key join + map-side-combined groupBy
section("B29 children aggregation: child->parent key join, partial HashAggregate before the exchange",
  "The parent side projects to (key, bucket) and broadcasts; the child metrics fold map-side (two HashAggregate nodes around the exchange), so the shuffle moves (bucket, partials) — never joined child rows. This is ES's global-ordinals children agg as a relational plan.",
  graft.SparkEntry.queries("a49_children_agg")(spark, sf))
// 71. termvectors (round 6 final): one pushed doc fetch + broadcast dictionary
section("B32 _termvectors: doc_id pushdown fetch, vector-sized groupBy, BROADCAST dictionary df join",
  "The doc_id predicate must appear in the documents scan's PushedFilters (ONE row leaves the source); the (term, position) fold is vector-sized; term statistics attach via a BroadcastHashJoin against the dictionary frame — postings are never read.",
  graft.driver.DocumentsIndex.termVectors(spark, sf, 42L))
// 72. rrf (ring 4): two bounded windows, window-sized fusion
section("B33 rrf retriever: window-sized row_number frames over DISTRIBUTED top-k cuts, window-sized fusion join",
  "Each retriever cuts to its rank window FIRST (the text side arrives as the bounded WAND's LocalTableScan of k rows; the vector side is a TakeOrderedAndProject over the broadcast-probe cosine scan); the single-partition row_number windows run over those window_size-row frames only — ES fuses coordinator-side at exactly this grain — and the full-outer fusion join has window-sized inputs on both sides. The corpus is never globally sorted or windowed.",
  graft.driver.DocumentsIndex.rrfSearch(spark, sf, "spark join", 0L))
// 73. multi-index search (ring 3): two pruned scans, one TakeOrderedAndProject
section("B36 multi-index search: per-index pruned scans unioned, ONE TakeOrderedAndProject across",
  "Each index's rank-all rides its own term/tbucket-pruned scan and registry join (per-index stats stay per-index — no cross-index exchange of stats or postings); the only operator spanning both is the final TakeOrderedAndProject over the union with the (score, idx, doc_id) key.",
  graft.driver.DocumentsIndex.multiIndexSearch(spark, sf, "en spark", 10))
// 74. PIT (ring 5): pinned-manifest serving
section("B14 point-in-time search: the pinned manifest's segments are the ONLY scans in the plan",
  "A PIT reader's plan must read exactly the pinned segment dirs — the delta segment committed after the PIT open appears NOWHERE in this scan list (compare the b15 composite plan, which unions both). Stats and the docId map derive from the same pinned list, so the plan shape equals a single-segment query.",
  graft.driver.DocumentsIndex.pitSearch(spark, sf, "spark join",
    Seq(graft.driver.DocumentsIndex.deltaIndexDir(spark, sf))))
// 75. span_containing (ring 7): one positional scan of three terms
section("B15 span_containing: ONE positional scan of the three terms' blocks, containment walk bucket-local",
  "big(a,b) windows and the little containment both resolve inside the per-bucket walk (PhraseMatcher.spanContainBucket) — the plan shows the pruned positional postings scan and one exchange for the docId re-group; positions decode only at candidate docs, nothing corpus-sized moves.",
  graft.driver.DocumentsIndex.spanContaining(spark, sf, "hash", "join", 4, "table"))
// 76. collapse inner_hits (ring 4): window PARTITIONED on the collapse key
section("B26 collapse inner_hits: the ranking window partitions on the collapse key — never a global sort",
  "Window [partitionBy lang] means the per-group ranking distributes across the group-key shuffle (contrast the deliberate single-partition windows of the bucket-grain pipeline aggs); at 100 TB the match set ranks inside |groups|-way parallelism.",
  graft.driver.DocumentsIndex.collapseInnerHits(spark, sf, "hash table", 3))
// 77. histogram extended_bounds (ring 3): sequence-explode axis, no collect
section("B19 histogram extended_bounds: the bucket axis is a 1-row min/max aggregate EXPLODED through sequence()",
  "min_doc_count=0 zero-fill without a driver collect: the axis side is Generate(explode(sequence(...))) over the 1-row aggregate, joined to the combinable count agg — both HashAggregate nodes show map-side partials, and the axis side stays bucket-count-sized at any data scale.",
  graft.ops.MetricAggs.histogramBounds(spark.read.parquet(s"$sf/events.parquet"), "value", 25L, -50L, 500L))
// 78. scripted_metric (ring 3): typed Aggregator = partial-aggregate plan
section("B19 scripted_metric: the typed Aggregator compiles to map-side partial aggregation",
  "ES's init/map/combine/reduce scripts land as ObjectHashAggregate/SortAggregate with partial_ and final merge around ONE exchange — the map script runs per input partition, the combine script merges the tiny (Σv², n) states; the exchange moves one state row per (partition, key).",
  graft.ops.MetricAggs.scriptedMetric(spark.read.parquet(s"$sf/events.parquet"), "value", "event_type"))
// 79. sparse_vector (ring 11): term-pruned payload scan, one exchange
section("B33 sparse_vector: term-pruned payload scan, map-side-combined per-doc dot-product sum",
  "The ELSER serving shape must cost like a scored OR without the BM25 meta: PartitionFilters prune tbucket, PushedFilters carry In(term), the weight map rides the closure (no join for query-sized state), and the ONLY exchange is the groupBy(docId) with partial HashAggregate on both sides.",
  graft.driver.DocumentsIndex.reader(spark, sf)
    .sparseVectorDf(Map("hash" -> 2.0, "join" -> 1.0, "vector" -> 0.5)))
// 80. span_or (ring 11): union span count decodes NO positions
section("B15 span_or: ids+tf payload scan only — ReadSchema must NOT contain the pos column",
  "The union of width-1 term spans has size SUM(tf), so the plan is the frequency-query shape: the positional column is PRUNED from ReadSchema (a span_near consumer is what would decode positions), one map-side-combined per-doc sum.",
  graft.driver.DocumentsIndex.reader(spark, sf)
    .matchSpanOrDf(Seq("hash", "vector", "stream")))
// 81. mtermvectors (ring 11): the id LIST pushes as one In predicate
section("B32 _mtermvectors: the id list is ONE pushed In predicate — one fetch for N docs",
  "Unlike N _termvectors calls, the batch form's documents scan shows In(doc_id, [...]) in PushedFilters — row-group pruning fetches all requested docs in one pass; the per-(doc, term) fold stays vector-sized and df attaches via the same BROADCAST dictionary join.",
  graft.driver.DocumentsIndex.termVectorsMulti(spark, sf, Seq(7L, 42L, 99L)))
// 82. geohash_grid (ring 11): pure integer projection, no libm
section("B21 geohash_grid: codegen'd integer interleave projection + map-side-combined groupBy + TakeOrderedAndProject",
  "Unlike geotile (mercator via libm, rounded before floor), geohash is one IEEE divide+multiply per axis then pure integer shifts/masks through the base32 alphabet — the whole key is a single codegen'd projection; the agg shows partial HashAggregate and the size cut is TakeOrderedAndProject, never a global sort.",
  graft.SparkEntry.queries("a69_geohash_grid")(spark, sf))
// 83. fuzzy transpositions (ring 12): the NATIVE expression stays in codegen
section("B18 fuzzy transpositions: native damerau_levenshtein expression inside the dictionary scan's WholeStageCodegen",
  "The transpositions=true verify must not break the codegen span the classic-levenshtein path has: this is the expansion frame exactly as expandFuzzy executes it above the resident bound (fuzzyExpansionScans; under the bound the same kernel runs on the driver over the resident dictionary) — the dictionary scan with Filter((length(term) band) AND damerau_levenshtein(term, ordre) <= 1) inside ONE WholeStageCodegen span, the native expression generating a static call like the levenshtein built-in it extends; expandFuzzy then caps it by df (TakeOrderedAndProject) like every dictionary expansion.",
  graft.driver.DocumentsIndex.reader(spark, sf)
    .fuzzyExpansionScans("ordre", 1, transpositions = true).head)
// 84. combined_fields (ring 12): per-field pruned scans, broadcast union-df, one final agg
section("B13 combined_fields (BM25F): two term-pruned payload scans, BROADCAST query-sized union df, map-side-combined final sum",
  "The merged-field model needs no new physical shape: each field contributes its ordinary pruned postings scan, the union df is a term-grain aggregate of the merged tf frame broadcast back (query-sized), dl_c comes from the registries' (docId, dl) join — the doc-values read every scorer pays — and the final groupBy(docId) folds map-side. Nothing driver-side, nothing corpus-wide beyond the pruned scans.",
  graft.index.MultiFieldIndex.combinedFieldsScoreAll(spark,
    Seq(graft.driver.DocumentsIndex.reader(spark, sf),
      graft.driver.DocumentsIndex.tagsReader(spark, sf)), Seq(2.0, 1.0), "hash de"))
// 85. unigram LM (ring 12): full postings pass + broadcast cf, the termsStats economics
section("TD unigram LM: ONE full postings decode + BROADCAST (term, cf) dictionary join + map-side-combined per-doc mean",
  "The corpus-as-LM quality signal is a single pass over postings (the termsStatsDf economics — at 100 TB this is the one legitimately corpus-sized read, embarrassingly parallel); cf attaches via a BroadcastHashJoin against the vocabulary-sized dictionary frame (an ordinary shuffle join keyed on term past the broadcast threshold, nothing else changes), and the per-doc sum folds map-side around ONE exchange.",
  graft.driver.DocumentsIndex.reader(spark, sf).unigramLogProbDf())

// 86. terms_set (ring 13): ids-only membership + codegen'd per-doc floor
section("B16 terms_set: ids-only membership counts + the per-doc floor as ONE codegen'd comparison",
  "The dynamic-minimum_should_match query adds NOTHING physical to the B17/B20 membership tail: the terms' postings scan reads no payload columns, the distinct-match count folds map-side around one exchange, and the per-doc floor (1 + doc_id % 3, the pinned script form) is a row-local filter after the docId-map join — never a second pass.",
  graft.driver.DocumentsIndex.termsSetMatch(spark, sf,
    Seq("hash", "join", "vector", "stream")))
// 87. span_multi near (ring 13): one positional scan of expansion + other
section("B15 span_multi in span_near: ONE positional scan of expansion UNION other, cover walk bucket-local",
  "The prefix expansion (df-capped dictionary scan, a tiny driver list) plus the other term prune ONE positional postings scan; the union-of-spans cover sweep runs inside the per-bucket walk with the OTHER term anchoring, so a broad expansion never decodes positions list-wide. One exchange for the docId re-group — the b27 span_near economics with an expansion slot.",
  graft.driver.DocumentsIndex.spanMultiNear(spark, sf, "s", "join", 2))
// 88. percentile_ranks (ring 13): one combinable pass, literal-array unpivot
section("A15 percentile_ranks: ONE map-side-combined aggregate for every requested rank, literal-array unpivot",
  "All requested ranks are conditional sums inside a single combinable aggregate (partials merge associatively — the 100 TB shape); the (value, pct) response rows come from exploding a literal array over the 1-row result — no second pass over data, no window, no driver loop.",
  graft.ops.MetricAggs.percentileRanks(
    spark.read.parquet(s"$sf/lineitem.parquet"), "l_quantity", Seq(10.0, 25.0, 49.0)))

// 89. significant_text (ring 13): bounded sample -> source join -> sample-sized re-analysis
section("B24 significant_text: bounded WAND sample joined to source text, sample-sized re-tokenize, BROADCAST dictionary bg",
  "Unlike b61's postings-decode foreground, significant_text re-analyzes SOURCE text: the top-k sample (one bounded WAND job, a LocalRelation here) joins the documents scan by pushed doc_id, dedup + flatMap re-tokenization are sample-sized narrow ops, fg counts fold map-side, and the background df attaches via a BroadcastHashJoin against the dictionary — the corpus is touched only by the search and the dictionary scan, ES's sampler-wrapped cost model.",
  graft.driver.DocumentsIndex.significantText(spark, sf, "vector stream", 30, 8))

Files.writeString(Paths.get("/root/repo/EXPLAINS.md"), out.toString)
println("MARKER_EXPLAINS_WRITTEN " + out.length)
sys.exit(0)
