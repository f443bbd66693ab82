package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.codec.PostingsCodec
import graft.fixtures.{CodeFile, CorpusGen}
import graft.index.{InvertedIndex, PostingBlock}
import graft.io.Tables
import graft.oracle.ExhaustiveScorer
import graft.query.{IndexReader, SearchHit}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The read path: a closed loop of one client sending the seeded query
  * stream through IndexReader, then a batch phase through searchBmwBatch.
  */
object Search {
  final case class Query(kind: String, text: String, must: Seq[String], should: Seq[String],
      not: Seq[String])

  /** Maps the plan's term slots `[tier, u]` onto CorpusGen's vocabulary:
    * `head` and `mid` take the u-quantile occurrence of that tier among the
    * tokens of the window's first `docs` documents, so they repeat as often
    * as in the indexed text; `rare` takes a uniform draw from
    * `CorpusGen.RareIds`.
    */
  final class Terms(lo: Long, docs: Int) {
    private val tokens = (0 until docs).flatMap(i => CorpusGen.row(lo + i).content.split("[ (\\n]+"))
    private val tiers: Map[String, IndexedSeq[String]] = Map(
      "head" -> tokens.filter(CorpusGen.Keywords.toSet),
      "mid" -> tokens.filter(CorpusGen.MidIds.toSet),
      "rare" -> CorpusGen.RareIds.toIndexedSeq)

    def term(slot: JsonNode): String = {
      val words = tiers(slot.get(0).asText)
      words(math.min((slot.get(1).asDouble * words.size).toInt, words.size - 1))
    }

    def terms(n: JsonNode): Seq[String] = n.elements().asScala.map(term).toSeq

    def query(n: JsonNode): Query = {
      def list(f: String) = Option(n.get(f)).map(terms).getOrElse(Nil)
      val text = list("text")
      val kind = n.get("kind").asText
      val q = kind match {
        case "prefix" => text.head.take(4)
        case "fuzzy" =>
          val t = text.head
          val alphabet = "0123456789abcdefghijklmnopqrstuvwxyz"
          def draw(i: Int, size: Int) = math.min((n.get("edit").get(i).asDouble * size).toInt, size - 1)
          t.updated(1 + draw(0, t.length - 4), alphabet(draw(1, alphabet.length)))
        case _ => text.mkString(" ")
      }
      Query(kind, q, list("must"), list("should"), list("not"))
    }
  }

  /** The read phase over the index at `dir`, whose documents are `docs`. */
  def run(r: Run, dir: String, docs: Dataset[CodeFile]): Unit = {
    val spark = r.spark
    val vocab = new Terms(r.plan.get("lo").asLong, r.plan.get("term_docs").asInt)
    val stream = r.plan.get("queries").elements().asScala.map(vocab.query).toVector
    val batch = r.plan.get("batch").elements().asScala.map(vocab.terms(_).mkString(" ")).toSeq.distinct

    val reader = new IndexReader(spark, dir)
    def call(q: Query): Option[Array[SearchHit]] = q.kind match {
      case "match" => Some(reader.searchBmw(q.text, 10))
      case "bool" => Some(reader.searchBool(q.must, q.should, q.not, 10))
      case "phrase" => reader.matchPhraseDf(q.text).count(); None
      case "prefix" => reader.matchPrefixDf(q.text).count(); None
      case "fuzzy" => Some(reader.fuzzyTopK(q.text, 2, 10))
    }
    // a fixed warm-up stream of every kind first, so the loop runs with the
    // generated code of each query shape compiled and the JIT past its start
    r.warmup(r.plan.get("warmup").elements().asScala.map(vocab.query).foreach(call))

    val accs = Seq(reader.decodedBlocksAcc, reader.skippedBlocksAcc, reader.scoredDocsAcc)
    val loopSec = r.seconds * r.plan.get("loop_share").asDouble
    var next = 0
    val results = scala.collection.mutable.LinkedHashMap.empty[Query, Array[SearchHit]]
    r.window(loopSec) { _ =>
      val q = stream(next % stream.size)
      next += 1
      val acc0 = accs.map(_.value.longValue)
      val (out, sec) = r.op(s"query.${q.kind}", "query") {
        // prefix and fuzzy look their terms up through dictionary scans
        if (r.traced && q.kind != "prefix" && q.kind != "fuzzy") {
          val ts = r.tracer.span("IndexReader.analyze", "query")(reader.analyze((q.text +: (q.must ++ q.should)).mkString(" ")))
          r.tracer.span("IndexReader.termMeta", "query")(reader.termMeta(ts))
        }
        call(q)
      }
      r.sample("latency_ms", sec * 1e3)
      r.sample(s"query.${q.kind}.ms", sec * 1e3)
      if (q.kind == "match" || q.kind == "fuzzy") {
        val d = accs.zip(acc0).map { case (a, v0) => (a.value.longValue - v0).toDouble }
        r.sample("bmw.decoded", d(0)); r.sample("bmw.skipped", d(1)); r.sample("bmw.scored", d(2))
      }
      out.flatten.foreach(h => if (q.kind != "fuzzy") results(q) = h)
    }

    // batch phase: the distinct batch queries, one searchBmwBatch call a round
    var batchOut: Map[String, Array[SearchHit]] = Map.empty
    val batchStart = System.nanoTime()
    val rounds = r.window(r.seconds - loopSec) { _ =>
      r.op("IndexReader.searchBmwBatch", "query")(reader.searchBmwBatch(batch, 10))._1.foreach(batchOut = _)
    }
    r.put("batch.qps", batch.size * rounds / ((System.nanoTime() - batchStart) / 1e9))

    // output checks, outside the timed window
    if (r.checking) {
      def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]) = a.size == b.size &&
        a.zip(b).forall { case (x, y) => x._1 == y._1 && math.abs(x._2 - y._2) <= 1e-9 * math.max(1.0, x._2) }
      def pairs(h: Array[SearchHit]) = h.toSeq.map(x => x.docId -> x.score)
      // each check costs a few Spark jobs; capped to bound a run's length
      results.filter(_._1.kind == "match").take(2).foreach { case (q, hits) =>
        r.check(s"match=naive '${q.text}'", same(pairs(hits), pairs(reader.searchNaive(q.text, 10))),
          s"BMW ${pairs(hits)} != naive")
      }
      batchOut.take(1).foreach { case (q, hits) =>
        r.check(s"batch=single '$q'", same(pairs(hits), pairs(reader.searchBmw(q, 10))),
          s"batch ${pairs(hits)} != single")
      }
      val bools = results.keys.filter(_.kind == "bool").take(2).toSeq
      if (bools.nonEmpty) {
        import spark.implicits._
        val ids = Tables.read(spark, dir, InvertedIndex.DocsTable).select("docId", "repo", "path", "commit")
        val oracleDocs = docs.toDF().join(ids, Seq("repo", "path", "commit"))
          .select(col("docId"), col("content")).as[ExhaustiveScorer.OracleDoc]
        val oracle = ExhaustiveScorer.prepare(spark, oracleDocs)
        oracle.rows.persist()
        bools.foreach { q =>
          val want = oracle.topKBool(q.must, q.should, q.not, 10).toSeq.map(s => s.docId -> s.score)
          r.check(s"bool=exhaustive ${q.must}/${q.should}/${q.not}", same(pairs(results(q)), want),
            s"engine ${pairs(results(q))} != exhaustive $want")
        }
        oracle.rows.unpersist()
      }
      r.check("search.answered", results.nonEmpty, "no match or bool query completed")
    }

    if (r.traced) r.put("codec.blocks_per_s", codecBlocksPerS(spark, dir))
  }

  /** Decode the docIds and term frequencies of a fixed sample of the built
    * index's blocks on one thread.
    */
  def codecBlocksPerS(spark: SparkSession, dir: String): Double = {
    import spark.implicits._
    val blocks = Tables.read(spark, dir, InvertedIndex.PostingsTable).drop("tbucket")
      .orderBy("term", "blockId").limit(4000).as[PostingBlock].collect()
    var sink = 0L
    def pass(): Unit = blocks.foreach { b =>
      sink += PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas).length
      sink += PostingsCodec.decodeTfs(b.count, b.tfs).length
    }
    pass() // warm
    var passes = 0
    val t = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t < 500000000L) { pass(); passes += 1 }
    require(sink > 0)
    blocks.length.toLong * passes / ((System.nanoTime() - t) / 1e9)
  }
}
