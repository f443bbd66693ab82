package graft

import graft.functions.{HammingHex64, Md5Each, Md5Kernels, MinHashSig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Property gates for the native md5 kernels: each one equals the Spark
  * spelling it replaces on seeded random arrays, once under whole-stage
  * codegen (`doGenCode`) and once interpreted (`nullSafeEval`).
  */
class Md5KernelsSpec extends SparkSpec {
  import spark.implicits._

  private val Slots = 16
  private val Alphabet = Array("a", "b", "Q", " ", "#", "0", "9", "é", "ß", "中", "文", "😀")

  private def randomString(rng: java.util.Random): String =
    if (rng.nextInt(8) == 0) null
    else (0 until rng.nextInt(14)).map(_ => Alphabet(rng.nextInt(Alphabet.length))).mkString

  /** (id, array): the named edge cases, then seeded random arrays. */
  private lazy val arrays: Seq[(Long, Seq[String])] = {
    val rng = new java.util.Random(20261017L)
    val edge = Seq[Seq[String]](
      Seq(""), Seq("", ""), Seq(null), Seq(null, null, null), Seq("x"), Seq(),
      Seq("über", "中文 文本", "😀 emoji", null, ""),
      Seq.fill(1500)(randomString(rng)),
      Seq.fill(1200)("same shingle here"))
    val random = Seq.fill(200)(Seq.fill(rng.nextInt(40))(randomString(rng)))
    (edge ++ random).zipWithIndex.map { case (a, i) => (i.toLong, a) }
  }

  /** An RDD-backed frame: a local relation would be constant-folded by the
    * optimizer, and the projection would never reach generated code.
    */
  private def frame: DataFrame =
    spark.sparkContext.parallelize(arrays :+ ((-1L, null: Seq[String])), 4).toDF("id", "arr")

  private def inBothModes(body: Boolean => Unit): Unit = {
    body(true)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body(false)
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The kernel call is in the generated code exactly when codegen is on. */
  private def assertCodegen(df: DataFrame, kernel: String, codegen: Boolean): Unit = {
    val code = codegenString(df.queryExecution.executedPlan)
    assert(code.contains(s"graft.functions.Md5Kernels.$kernel(") == codegen,
      s"codegen=$codegen but the generated code ${if (codegen) "lacks" else "has"} $kernel")
  }

  private def byId(rows: Array[Row]): Map[Long, Seq[String]] =
    rows.map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList).orNull).toMap

  test("MinHashSig == array(min(md5(concat(s, '#', j)))) over the exploded array") {
    inBothModes { codegen =>
      val got = frame.where(col("arr").isNotNull)
        .select(col("id"), MinHashSig(col("arr"), Slots).as("sig"))
      assertCodegen(got, "minHashSig", codegen)
      val ref = frame.where(col("arr").isNotNull)
        .select(col("id"), explode_outer(col("arr")).as("s"))
        .groupBy("id").agg(array((0 until Slots).map(j =>
          min(md5(concat(col("s"), lit("#"), lit(j.toString))))): _*).as("sig"))
      val (g, r) = (byId(got.collect()), byId(ref.collect()))
      assert(g.size == arrays.size && g == r)
      // no non-null element: 16 NULL slots, as the aggregate over NULLs
      Seq(2L, 3L, 5L).foreach(i => assert(g(i) == List.fill(Slots)(null), s"row $i: ${g(i)}"))
      assert(frame.where(col("arr").isNull).select(MinHashSig(col("arr"), Slots)).head().isNullAt(0))
    }
  }

  // each kernel runs in a frame of its own: the reference spellings are
  // CodegenFallback lambdas, which would keep a shared projection out of
  // whole-stage codegen

  test("Md5Each == transform(a, s -> md5(s)), NULL elements and NULL arrays included") {
    inBothModes { codegen =>
      val got = frame.select(col("id"), Md5Each(col("arr")).as("k"))
      assertCodegen(got, "md5Each", codegen)
      val ref = frame.select(col("id"), transform(col("arr"), s => md5(s)).as("r"))
      assert(got.schema("k").dataType == ref.schema("r").dataType)
      val g = byId(got.collect())
      assert(g.size == arrays.size + 1 && g == byId(ref.collect()))
      assert(g(-1L) == null && g(5L) == Nil && g(6L)(3) == null)
      // element nullability carries over, as transform types it
      val nonNull = spark.sparkContext.parallelize(Seq(Tuple1(Seq("a", "b"))), 1).toDF("arr")
        .select(array_compact(col("arr")).as("arr"))
      assert(nonNull.select(Md5Each(col("arr"))).schema.head.dataType ==
        nonNull.select(transform(col("arr"), s => md5(s))).schema.head.dataType)
    }
  }

  test("HammingHex64 == the piecewise conv fold over 16-hex-digit strings") {
    val rng = new java.util.Random(64L)
    val hex = Seq("0000000000000000", "ffffffffffffffff", "8000000000000001", "7fffffffffffffff") ++
      Seq.fill(400)(f"${rng.nextLong()}%016x")
    val pairs: Seq[(String, String)] = hex.map(h => (h, hex(rng.nextInt(hex.size)))) ++
      hex.take(4).flatMap(a => hex.take(4).map(b => (a, b))) ++
      Seq((null, hex.head), (hex.head, null))
    val df = spark.sparkContext.parallelize(pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }, 4)
      .toDF("i", "ha", "hb")
    inBothModes { codegen =>
      val got = df.select(col("i"), HammingHex64(col("ha"), col("hb")).as("d"))
      assertCodegen(got, "hammingHex64", codegen)
      val ref = df.select(col("i"), expr("""aggregate(sequence(0, 3), 0, (acc, q) ->
            acc + bit_count(cast(conv(substring(ha, q*4 + 1, 4), 16, 10) as int) ^
                            cast(conv(substring(hb, q*4 + 1, 4), 16, 10) as int)))""").as("d"))
      def byI(f: DataFrame) = f.collect().map(r => r.getLong(0) -> r.get(1)).toMap
      val g = byI(got)
      assert(g.size == pairs.size && g == byI(ref))
      assert(g.values.count(_ == null) == 2)
    }
    Seq("abc", "0123456789abcdeg", "0123456789abcdef0").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Md5Kernels.hammingHex64(UTF8String.fromString(bad), UTF8String.fromString("0000000000000000")))
      assert(e.getMessage.contains("16 hex digits"))
    }
  }

  test("md5Prefix64 == parseUnsignedLong(md5Hex(term).substring(0, 16), 16)") {
    val rng = new java.util.Random(7L)
    val terms = Seq("", "a", "中文", "😀", "x" * 5000) ++ Seq.fill(500)(randomString(rng)).filter(_ != null)
    terms.foreach { t =>
      val want = java.lang.Long.parseUnsignedLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(t).substring(0, 16), 16)
      assert(Md5Kernels.md5Prefix64(t) == want, t)
    }
  }
}
