package graft.index

import graft.fixtures.CodeFile
import graft.query.IndexReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-field documents (SURVEY.md §2.1 A9 / the LOD API's fielded
  * queries): the reference's schema.org entities are indexed under an ES
  * mapping with MANY analyzed fields, and queries target specific fields or
  * boolean-combine several. Re-expressed Spark-first as PER-FIELD SUB-
  * INDEXES under `<dir>/fields/<field>` — each a full engine index, so every
  * per-field statistic the Lucene model requires (df, cf, avgdl per field)
  * falls out of the existing build with zero new code paths, and each field
  * independently gets salting, block-max, delta segments, and resume.
  *
  * docId ALIGNMENT across fields is free: the assignment is a pure function
  * of (key set, partitions, docIdBase) — all fields of one build share all
  * three, so a document has the SAME docId in every field's sub-index and
  * cross-field score combination is a docId equi-join with no key mapping.
  *
  * Scoring semantics (Lucene BooleanQuery SHOULD across fielded clauses —
  * ES multi_match, the LOD API's default): score(doc) = Σ over fields of
  * that field's BM25 score under ITS OWN df/avgdl. [[matchField]] is the
  * single-field `match`; [[multiMatchScoreAll]] is the cross-field OR with
  * the hit set kept distributed (rank-all shape: fielded queries are short,
  * and the sum needs every field's matching docs anyway; a top-k WAND
  * ACROSS fields would need per-clause (bound, avgdl) cursor state — a
  * documented non-goal while the exact relational form is this simple).
  */
object MultiFieldIndex {
  def fieldDir(dir: String, field: String): String = s"$dir/fields/$field"

  /** ES field^boost syntax (`multi_match` `fields: ["title^2", "text"]`):
    * parse a field spec into (field, boost); no `^` means boost 1.0.
    * Boosts must be positive — a zero boost silently dropping a field is a
    * caller bug, ES rejects it too.
    */
  def parseFieldBoost(spec: String): (String, Double) = {
    // NOT split('^'): scala's split drops trailing empties, so the typo
    // "text^" would silently parse as boost 1.0 instead of failing loudly
    val i = spec.indexOf('^')
    if (i < 0) (spec, 1.0)
    else {
      val f = spec.substring(0, i)
      require(f.nonEmpty && spec.indexOf('^', i + 1) < 0, s"bad field spec '$spec'")
      val boost =
        try spec.substring(i + 1).toDouble
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"bad field spec '$spec'")
        }
      require(boost > 0.0, s"field boost must be positive: '$spec'")
      (f, boost)
    }
  }

  /** Build one sub-index per (field name -> string column) over a source
    * carrying the (repo, path, commit, lang) key columns. Null field values
    * index as empty documents (dl = 0 — they match nothing, score nothing,
    * but keep docIds dense and aligned).
    */
  def build(spark: SparkSession, src: DataFrame, fields: Seq[String], dir: String,
      cfg: IndexConfig, runId: String = "mf"): Unit = {
    import spark.implicits._
    for (f <- fields) {
      val cf = src.select(col("repo"), col("path"), col("commit"), col("lang"),
        coalesce(col(f).cast("string"), lit("")).as("content")).as[CodeFile]
      InvertedIndex.build(spark, cf, fieldDir(dir, f), cfg, s"$runId-$f")
      ()
    }
  }

  def reader(spark: SparkSession, dir: String, field: String): IndexReader =
    new IndexReader(spark, fieldDir(dir, field))

  /** `match(field, query)` — BMW top-k against that field's sub-index. */
  def matchField(spark: SparkSession, dir: String, field: String, query: String,
      k: Int): Array[graft.query.SearchHit] =
    reader(spark, dir, field).searchBmw(query, k)

  /** Cross-field OR (`multi_match`): per-field rank-all scored under each
    * field's own stats, combined by a full-outer docId equi-join (docIds are
    * aligned across fields by construction) with missing fields contributing
    * 0 — distributed end-to-end.
    */
  def multiMatchScoreAll(spark: SparkSession, dir: String, fields: Seq[String],
      query: String, tieBreaker: Double = 1.0): DataFrame = {
    require(fields.nonEmpty, "multiMatch needs at least one field")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    val parsed = fields.map(parseFieldBoost)
    val perField = parsed.map { case (f, boost) =>
      reader(spark, dir, f).scoreAllDf(query, boost).withColumnRenamed("score", s"score_$f")
    }
    val joined = perField.reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
    val perCol = parsed.map { case (f, _) => coalesce(col(s"score_$f"), lit(0.0)) }
    // field-order left fold == the WAND path's gsSum addition order;
    // best_fields combine mirrors scoreCursors' max + tb·(sum − max)
    val sum = perCol.reduce(_ + _)
    val total =
      if (tieBreaker == 1.0) sum
      else {
        val mx = if (perCol.size == 1) perCol.head else greatest(perCol: _*)
        mx + lit(tieBreaker) * (sum - mx)
      }
    joined.select(col("docId"), total.as("score"))
  }

  /** Cross-field `multi_match` TOP-K without rank-all (SURVEY.md §2.3 B13,
    * the bounded form): ONE Block-Max WAND runs per docId bucket over
    * cursors from EVERY field — each (field, term) cursor scores and bounds
    * under its own field's idf/avgdl, and the WAND pivot bound is the sum
    * of per-cursor upper bounds across fields, so a doc is skipped only
    * when even the cross-field SUM of its best-case contributions cannot
    * reach the local threshold. This is exact (a per-field top-k' + merge
    * is NOT: a doc can lose every per-field top-k' yet win the sum) and
    * bounded: a text×text multi_match at corpus scale prunes instead of
    * scoring the full match union the way [[multiMatchScoreAll]] must.
    * docId alignment across fields makes the cross-field cursor walk sound
    * with no key mapping.
    *
    * Result-identical (bit-exact, sbt-gated) to
    * `multiMatchScoreAll.orderBy(score desc, docId).limit(k)`: cursors
    * order and per-FIELD partial summation reproduce the relational form's
    * float association (BlockMaxWand.scoreCursors groupOf).
    */
  def multiMatchTopK(spark: SparkSession, dir: String, fields: Seq[String],
      query: String, k: Int, tieBreaker: Double = 1.0): Array[graft.query.SearchHit] = {
    val parsed = fields.map(parseFieldBoost)
    multiMatchTopKReaders(spark, parsed.map { case (f, _) => reader(spark, dir, f) },
      query, k, parsed.map(_._2), tieBreaker)
  }

  /** The same exact cross-field WAND over ALREADY-CONSTRUCTED per-field
    * readers — lets a caller whose sub-indexes live outside the
    * `<dir>/fields/<f>` layout (e.g. the driver's text + tags pair) serve
    * through the bounded path. Callers must guarantee docId alignment
    * across the readers' indexes (same key set, partitions, docIdBase —
    * check PLAN_GEOMETRY sidecar equality); the doc-count require below is
    * a cheap necessary condition, not a proof.
    */
  def multiMatchTopKReaders(spark: SparkSession, readers: Seq[IndexReader],
      query: String, k: Int, boosts: Seq[Double] = Nil,
      tieBreaker: Double = 1.0): Array[graft.query.SearchHit] =
    multiMatchTopKDs(spark, readers, query, k, boosts, tieBreaker).collect()

  /** The cross-field WAND as an UNCOLLECTED Dataset — the whole top-k is
    * one Spark job (union of per-field pruned scans -> docId re-bucket ->
    * per-bucket cross-field WAND -> TakeOrderedAndProject), and exposing
    * the plan lets callers and the explain evidence see exactly that.
    */
  def multiMatchTopKDs(spark: SparkSession, readers: Seq[IndexReader],
      query: String, k: Int, boosts: Seq[Double] = Nil, tieBreaker: Double = 1.0)
      : org.apache.spark.sql.Dataset[graft.query.SearchHit] = {
    import spark.implicits._
    require(readers.nonEmpty, "multiMatch needs at least one field")
    require(boosts.isEmpty || boosts.size == readers.size,
      s"boosts must be empty or match readers: ${boosts.size} vs ${readers.size}")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    val fieldBoosts = if (boosts.isEmpty) Seq.fill(readers.size)(1.0) else boosts
    val qterms = readers.head.analyze(query)
    val metas = readers.zip(fieldBoosts).map { case (r, b) =>
      graft.query.BlockMaxWand.boostMeta(r.termMeta(qterms), b)
    }
    if (metas.forall(_.isEmpty)) return spark.emptyDataset[graft.query.SearchHit]
    val perDocCounts = readers.map(_.stats.numDocs)
    require(perDocCounts.distinct.size == 1,
      s"fields must index the same aligned doc set, got counts $perDocCounts")
    val numDocs = perDocCounts.head
    val buckets = spark.sessionState.conf.numShufflePartitions
    val w = math.max(1L, (numDocs + buckets - 1) / buckets)
    val fieldAvgDlB = spark.sparkContext.broadcast(readers.map(_.stats.avgDl).toArray)
    val metaByFieldB = spark.sparkContext.broadcast(metas.toArray)
    val pp = graft.query.Bm25.Default
    val kk = k
    val tb = tieBreaker

    val tagged = readers.zipWithIndex.map { case (r, i) =>
      val terms = metas(i).keys.toSeq.sorted
      if (terms.isEmpty) spark.emptyDataset[(Int, PostingBlock)]
      else r.postingsFor(terms).map(b => (i, b))
    }.reduce(_ union _)

    tagged
      .flatMap { case (i, b) =>
        ((b.firstDocId / w) to (b.lastDocId / w)).iterator.map(g => (g, i, b))
      }
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val lo = g * w
        val hi = lo + w
        // (field, term) ascending = the pinned cursor/summation order
        val byFieldTerm = it.map(t => ((t._2, t._3.term), t._3)).toArray
          .groupBy(_._1)
          .map { case (key, arr) => (key, arr.map(_._2).sortBy(_.firstDocId)) }
          .toArray.sortBy(_._1)
        val cursors = byFieldTerm.map { case ((fi, t), bs) =>
          val m = metaByFieldB.value(fi)(t)
          new graft.query.TermCursor(t, m.idf, m.maxImpact, bs, lo, hi,
            fieldAvgDlB.value(fi), pp)
        }
        val groupOf = byFieldTerm.map(_._1._1)
        graft.query.BlockMaxWand.scoreCursors(cursors, kk, groupOf = groupOf,
          tieBreaker = tb).iterator
      }
      .orderBy(desc("score"), asc("docId")).limit(k)
      .as[graft.query.SearchHit]
  }

  /** ES `multi_match` `type: cross_fields` term statistics (SURVEY.md §2.3
    * B13): terms are grouped, not fields — each term scores as ONE blended
    * clause across fields,
    * `score(doc) = Σ_t dismax_f( idf_blend(t)·boost_f · tfNorm_f )` with
    * `idf_blend(t) = idf(N, max_f df_f(t))` — Lucene's BlendedTermQuery
    * substitutes the group's maximum df, fixing the IDF mismatch
    * best_fields suffers when a term is rare in one field and common in
    * another (the classic `first_name:smith` vs `last_name:smith` trap).
    * dismax = `max + tieBreaker·(sum − max)`; ES's cross_fields default
    * tie_breaker is 0.0.
    *
    * PINNED v1 semantics: blend = max df only (Lucene additionally nudges
    * by total-term-frequency ordering); fields must share the analyzer —
    * ES silently splits mixed-analyzer field lists into separate
    * cross_fields groups, this engine instead rejects the shape loudly
    * (readers built with different analyzers fail the IndexReader analyzer
    * agreement check when queried together through [[crossFieldsTopKDs]]).
    *
    * Returns per-field metas whose idf AND maxImpact are rescaled to the
    * blended idf (and the field boost) — computed ONCE here and shared by
    * the bounded WAND and the relational rank-all, so the two paths fold
    * the same doubles and stay bit-identical.
    */
  def blendedMetas(readers: Seq[IndexReader], qterms: Array[String],
      boosts: Seq[Double]): Seq[Map[String, graft.query.BlockMaxWand.TermMeta]] = {
    require(readers.nonEmpty, "cross_fields needs at least one field")
    require(boosts.size == readers.size,
      // zip would silently TRUNCATE — dropping trailing fields from scoring
      s"cross_fields needs one boost per field: ${readers.size} vs ${boosts.size}")
    val perDocCounts = readers.map(_.stats.numDocs)
    require(perDocCounts.distinct.size == 1,
      s"fields must index the same aligned doc set, got counts $perDocCounts")
    val n = perDocCounts.head
    // one dictionary job per field for metas AND dfs (r07 — was two)
    val metaDfs = readers.map(_.termMetaWithDfs(qterms))
    val metas = metaDfs.map(_._1)
    val dfs = metaDfs.map(_._2)
    val blendIdf: Map[String, Double] = qterms.iterator.flatMap { t =>
      val mx = dfs.iterator.map(_.getOrElse(t, 0L)).max
      if (mx == 0L) None else Some(t -> graft.query.Bm25.idf(n, mx))
    }.toMap
    metas.zip(boosts).map { case (m, b) =>
      m.map { case (t, tm) =>
        // rescale BOTH idf and maxImpact by the same factor (boostMeta's
        // argument): bounds stay exact under the substituted statistic
        val f = blendIdf(t) / tm.idf * b
        t -> tm.copy(idf = tm.idf * f, maxImpact = tm.maxImpact * f)
      }
    }
  }

  /** cross_fields rank-all, fully relational: per-field (docId, term,
    * contrib) frames under the BLENDED metas union with a field tag; per
    * (docId, term) the pinned fold (field-ascending sort_array) yields the
    * group sum AND max in cursor order; dismax combines them; per docId the
    * term-ascending fold sums — float-for-float the bounded path's
    * association. Distributed end-to-end, no driver materialization.
    */
  def crossFieldsScoreAllReaders(spark: SparkSession, readers: Seq[IndexReader],
      query: String, boosts: Seq[Double] = Nil,
      tieBreaker: Double = 0.0): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    val fieldBoosts = if (boosts.isEmpty) Seq.fill(readers.size)(1.0) else boosts
    val qterms = readers.head.analyze(query)
    val metas = blendedMetas(readers, qterms, fieldBoosts)
    val frames = readers.zip(metas).zipWithIndex.collect {
      case ((r, m), fi) if m.nonEmpty =>
        r.contribs(m).select(lit(fi).as("fi"), col("docId"), col("term"), col("contrib"))
    }
    if (frames.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("docId", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType))))
    val tb = tieBreaker
    frames.reduce(_ unionByName _)
      .groupBy("docId", "term")
      .agg(aggregate(
        sort_array(collect_list(struct(col("fi"), col("contrib")))),
        struct(lit(0.0).as("sm"), lit(0.0).as("mx")),
        (acc, x) => struct(
          (acc.getField("sm") + x.getField("contrib")).as("sm"),
          greatest(acc.getField("mx"), x.getField("contrib")).as("mx"))).as("a"))
      .select(col("docId"), col("term"),
        (if (tb == 1.0) col("a.sm")
         else col("a.mx") + lit(tb) * (col("a.sm") - col("a.mx"))).as("combined"))
      .groupBy("docId")
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("combined")))),
        lit(0.0),
        (acc, x) => acc + x.getField("combined")).as("score"))
  }

  /** cross_fields TOP-K without rank-all: the cross-field WAND with cursors
    * under the blended metas, sorted (term, field) so each term's cursors
    * form one GROUP — scoreCursors' `dismaxWithinGroups` transpose combines
    * within the group and sums groups, exactly the rank-all fold. Bound
    * validity: the pivot sums ALL cursor bounds, ≥ any tieBreaker ≤ 1
    * combine. Bit-identical to crossFieldsScoreAllReaders + limit
    * (sbt-gated).
    */
  def crossFieldsTopKDs(spark: SparkSession, readers: Seq[IndexReader],
      query: String, k: Int, boosts: Seq[Double] = Nil, tieBreaker: Double = 0.0)
      : org.apache.spark.sql.Dataset[graft.query.SearchHit] = {
    import spark.implicits._
    require(readers.nonEmpty, "cross_fields needs at least one field")
    require(boosts.isEmpty || boosts.size == readers.size,
      s"boosts must be empty or match readers: ${boosts.size} vs ${readers.size}")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    val fieldBoosts = if (boosts.isEmpty) Seq.fill(readers.size)(1.0) else boosts
    val qterms = readers.head.analyze(query)
    val metas = blendedMetas(readers, qterms, fieldBoosts)
    if (metas.forall(_.isEmpty)) return spark.emptyDataset[graft.query.SearchHit]
    val numDocs = readers.head.stats.numDocs
    val buckets = spark.sessionState.conf.numShufflePartitions
    val w = math.max(1L, (numDocs + buckets - 1) / buckets)
    val fieldAvgDlB = spark.sparkContext.broadcast(readers.map(_.stats.avgDl).toArray)
    val metaByFieldB = spark.sparkContext.broadcast(metas.toArray)
    val pp = graft.query.Bm25.Default
    val kk = k
    val tb = tieBreaker

    val tagged = readers.zipWithIndex.map { case (r, i) =>
      val terms = metas(i).keys.toSeq.sorted
      if (terms.isEmpty) spark.emptyDataset[(Int, PostingBlock)]
      else r.postingsFor(terms).map(b => (i, b))
    }.reduce(_ union _)

    tagged
      .flatMap { case (i, b) =>
        ((b.firstDocId / w) to (b.lastDocId / w)).iterator.map(g => (g, i, b))
      }
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val lo = g * w
        val hi = lo + w
        // (term, field) ascending: a term's cursors are ADJACENT (one
        // dismax group), fields within it in field order
        val byTermField = it.map(t => ((t._3.term, t._2), t._3)).toArray
          .groupBy(_._1)
          .map { case (key, arr) => (key, arr.map(_._2).sortBy(_.firstDocId)) }
          .toArray.sortBy(_._1)
        val cursors = byTermField.map { case ((t, fi), bs) =>
          val m = metaByFieldB.value(fi)(t)
          new graft.query.TermCursor(t, m.idf, m.maxImpact, bs, lo, hi,
            fieldAvgDlB.value(fi), pp)
        }
        // group index = rank of the term among this bucket's sorted terms
        val termRank = byTermField.map(_._1._1).distinct.sorted.zipWithIndex.toMap
        val groupOf = byTermField.map { case ((t, _), _) => termRank(t) }
        graft.query.BlockMaxWand.scoreCursors(cursors, kk, groupOf = groupOf,
          tieBreaker = tb, dismaxWithinGroups = true).iterator
      }
      .orderBy(desc("score"), asc("docId")).limit(k)
      .as[graft.query.SearchHit]
  }

  /** ES `combined_fields` (Lucene CombinedFieldQuery — BM25F): TERM-centric
    * multi-field scoring, the third `multi_match` family member next to
    * most/best_fields ([[multiMatchScoreAll]]) and cross_fields
    * ([[crossFieldsScoreAllReaders]]). Where cross_fields blends STATISTICS
    * and still scores per field, combined_fields merges the FIELDS
    * themselves into one synthetic field before BM25 sees anything:
    *
    *   tf_c(t, d)  = Σ_f w_f · tf_f(t, d)        (weighted term freq)
    *   dl_c(d)     = Σ_f w_f · dl_f(d)           (weighted doc length)
    *   avgdl_c     = Σ_f w_f · avgdl_f           (linearity of the mean
    *                                              over the aligned doc set)
    *   df_c(t)     = |{d : t in ANY field of d}| (union df)
    *   score(d)    = Σ_t idf(N, df_c) · tfNorm(tf_c, dl_c, avgdl_c)
    *
    * (the BM25F form; Lucene evaluates the same model through float norms —
    * the exact-double arithmetic here is the pinned semantics, and the
    * DuckDB twin spells it term for term). Weights must be ≥ 1 — the ES
    * validation rule, because w < 1 can make tf_c non-monotone vs a
    * single-field match.
    *
    * Plan: one term+tbucket-pruned postings scan per field decoding
    * (docId, term, w·tf), one groupBy(docId, term) building tf_c, the union
    * df as a term-grain aggregate of that frame BROADCAST back (query-sized
    * — the scan subtree evaluates once per branch, both term-pruned), dl_c
    * from the fields' registries docId-equi-joined (ids+dl only; at 100 TB
    * this is the doc-values read every scorer already pays), and one final
    * map-side-combined groupBy(docId). No driver materialization anywhere.
    */
  def combinedFieldsScoreAll(spark: SparkSession, readers: Seq[IndexReader],
      weights: Seq[Double], query: String): DataFrame = {
    import spark.implicits._
    require(readers.nonEmpty && readers.size == weights.size,
      s"combined_fields needs one weight per field: ${readers.size} vs ${weights.size}")
    require(weights.forall(_ >= 1.0),
      s"combined_fields weights must be >= 1 (the ES rule), got $weights")
    val perDocCounts = readers.map(_.stats.numDocs)
    require(perDocCounts.distinct.size == 1,
      s"fields must index the same aligned doc set, got counts $perDocCounts")
    val n = perDocCounts.head
    val qterms = readers.head.analyze(query).distinct.sorted
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("docId", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType))))
    if (qterms.isEmpty) return empty
    val tfFrames = readers.zip(weights).map { case (r, w) =>
      r.postingsFor(qterms.toSeq).flatMap { b =>
        val ids = graft.codec.PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
        val tfs = graft.codec.PostingsCodec.decodeTfs(b.count, b.tfs)
        Iterator.tabulate(b.count)(i => (ids(i), b.term, w * tfs(i)))
      }.toDF("docId", "term", "wtf")
    }
    // a term absent from a field contributes no rows; absent from EVERY
    // field it never reaches scoring at all (the frame is simply empty)
    val ctf = tfFrames.reduce(_ unionByName _)
      .groupBy("docId", "term").agg(sum("wtf").as("ctf"))
    // union df per term == the ctf frame's per-term row count (one row per
    // (doc, term) by the postings distinct-doc invariant in every field)
    val dfu = ctf.groupBy("term").agg(count(lit(1)).as("dfu"))
    val pp = graft.query.Bm25.Default
    val cdl = readers.zip(weights).map { case (r, w) =>
      r.segments.map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select(col("docId"), col("dl"))).reduce(_ unionByName _)
        .select(col("docId"), (lit(w) * col("dl")).as("wdl"))
    }.reduce(_ unionByName _).groupBy("docId").agg(sum("wdl").as("cdl"))
    val cavg = readers.zip(weights).map { case (r, w) => w * r.stats.avgDl }.sum
    val idfC = log(lit(1.0) +
      (lit(n.toDouble) - col("dfu") + lit(0.5)) / (col("dfu") + lit(0.5)))
    ctf.join(broadcast(dfu), Seq("term"))
      .join(cdl, Seq("docId"))
      .select(col("docId"),
        (idfC * (col("ctf") / (col("ctf") +
          lit(pp.k1) * (lit(1.0 - pp.b) + lit(pp.b) * col("cdl") / lit(cavg)))))
          .as("part"))
      .groupBy("docId").agg(sum("part").as("score"))
  }
}
