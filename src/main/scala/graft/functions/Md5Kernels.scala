package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ExprColumn
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** MD5 loops of the near-dup operators as static kernels behind native
  * codegen'd expressions ([[MinHashSig]], [[Md5Each]], [[HammingHex64]]) —
  * the [[ArrayDot]] pattern: generated code calls these methods directly
  * inside the enclosing whole-stage span.
  *
  * Why they exist: Spark's `md5` goes through `DigestUtils.md5Hex`, i.e. a
  * `MessageDigest.getInstance`, a hex encode and a string copy per row, and
  * the higher-order spellings (`transform`/`aggregate`) evaluate their
  * lambda interpreted per element. Here each task thread owns ONE digest
  * and one byte scratch buffer, elements are digested straight from their
  * UTF-8 bytes, and only results that leave the kernel are hex-encoded.
  *
  * Every kernel is bit-identical to the Spark spelling it replaces (gated
  * in Md5KernelsSpec under whole-stage codegen and interpreted eval):
  * md5-hex is lowercase, and lowercase hex orders exactly like the raw
  * digest compared unsigned, so a min over digests equals a min over hex.
  */
object Md5Kernels {

  private final class State {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var buf = new Array[Byte](256)

    /** Copies `s`'s UTF-8 bytes to the front of `buf`, leaving room for
      * `extra` more bytes; returns the byte count copied.
      */
    def load(s: UTF8String, extra: Int): Int = {
      val n = s.numBytes()
      if (buf.length < n + extra) buf = new Array[Byte](math.max(2 * buf.length, n + extra))
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
      n
    }

    /** md5 of `buf[0, len)` into `digest`. */
    def hash(len: Int): Unit = {
      md.update(buf, 0, len)
      md.digest(digest, 0, 16)
      ()
    }
  }

  private val state = ThreadLocal.withInitial[State](() => new State)

  private val HexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def readLong(b: Array[Byte], at: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(at + i) & 0xffL); i += 1 }
    v
  }

  private def putHex(b: Array[Byte], at: Int, v: Long): Unit = {
    var i = 0
    while (i < 16) { b(at + i) = HexDigits(((v >>> (60 - 4 * i)) & 0xfL).toInt); i += 1 }
  }

  private def hex(hi: Long, lo: Long): UTF8String = {
    val b = new Array[Byte](32)
    putHex(b, 0, hi)
    putHex(b, 16, lo)
    UTF8String.fromBytes(b)
  }

  /** Writes `v >= 0` in decimal at `b(at)`; returns the end offset. */
  private def putDecimal(b: Array[Byte], at: Int, v: Int): Int = {
    var digits = 1
    var t = v
    while (t >= 10) { t /= 10; digits += 1 }
    var k = at + digits - 1
    t = v
    while (k >= at) { b(k) = ('0' + t % 10).toByte; t /= 10; k -= 1 }
    at + digits
  }

  /** Slot j (0 <= j < slots) = min over the non-null elements s of
    * md5-hex(UTF-8(s) ++ '#' ++ decimal(j)) — the per-row form of
    * `min(md5(concat(s, '#', j)))` over the exploded array. No non-null
    * element: every slot is NULL, as the aggregate yields over NULL input.
    * Called from generated code: keep the signature static-forwardable.
    */
  def minHashSig(shingles: ArrayData, slots: Int): ArrayData = {
    val st = state.get()
    val hi = new Array[Long](slots)
    val lo = new Array[Long](slots)
    var seen = false
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val len = st.load(shingles.getUTF8String(i), 11) // '#' + up to 10 digits
        st.buf(len) = '#'.toByte
        var j = 0
        while (j < slots) {
          st.hash(putDecimal(st.buf, len + 1, j))
          val h = readLong(st.digest, 0)
          val l = readLong(st.digest, 8)
          val c = java.lang.Long.compareUnsigned(h, hi(j))
          if (!seen || c < 0 || (c == 0 && java.lang.Long.compareUnsigned(l, lo(j)) < 0)) {
            hi(j) = h
            lo(j) = l
          }
          j += 1
        }
        seen = true
      }
      i += 1
    }
    val out = new Array[Any](slots)
    if (seen) { var j = 0; while (j < slots) { out(j) = hex(hi(j), lo(j)); j += 1 } }
    new GenericArrayData(out)
  }

  /** md5-hex of every element, NULL element -> NULL: `transform(a, s -> md5(s))`.
    * Called from generated code: keep the signature static-forwardable.
    */
  def md5Each(a: ArrayData): ArrayData = {
    val st = state.get()
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        st.hash(st.load(a.getUTF8String(i), 0))
        out(i) = hex(readLong(st.digest, 0), readLong(st.digest, 8))
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The first 8 bytes of md5(UTF-8(term)) as a big-endian long — equal to
    * `parseUnsignedLong(md5Hex(term).substring(0, 16), 16)`.
    */
  def md5Prefix64(term: String): Long = {
    val st = state.get()
    st.md.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    st.md.digest(st.digest, 0, 16)
    readLong(st.digest, 0)
  }

  private def parseHex64(s: UTF8String): Long = {
    if (s.numBytes() != 16)
      throw new IllegalArgumentException(s"hamming_hex64 needs 16 hex digits, got '$s'")
    var v = 0L
    var i = 0
    while (i < 16) {
      val d = Character.digit(s.getByte(i).toInt, 16)
      if (d < 0) throw new IllegalArgumentException(s"hamming_hex64 needs 16 hex digits, got '$s'")
      v = (v << 4) | d
      i += 1
    }
    v
  }

  /** Hamming distance of two 16-hex-digit (64-bit) SimHash strings. Loud on
    * any other length or a non-hex digit: the piecewise `conv` spelling this
    * replaces would silently read a malformed piece as NULL or a short value.
    * Called from generated code: keep the signature static-forwardable.
    */
  def hammingHex64(a: UTF8String, b: UTF8String): Int =
    java.lang.Long.bitCount(parseHex64(a) ^ parseHex64(b))
}

/** `minhash_sig(shingles)`: the [[Md5Kernels.minHashSig]] signature of one
  * row's shingle array, `slots` md5-hex minima (NULL array -> NULL).
  */
case class MinHashSig(child: Expression, slots: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(a: Any): Any =
    Md5Kernels.minHashSig(a.asInstanceOf[ArrayData], slots)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Md5Kernels.minHashSig($a, $slots)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Column form: `MinHashSig(col("shingles"), 16)`. */
  def apply(shingles: Column, slots: Int): Column =
    ExprColumn.column(MinHashSig(ExprColumn.expression(shingles), slots))
}

/** `md5_each(a)`: [[Md5Kernels.md5Each]] over a string array (NULL array ->
  * NULL); element nullability carries over, as `transform` types it.
  */
case class Md5Each(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "md5_each"

  override protected def nullSafeEval(a: Any): Any = Md5Kernels.md5Each(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Md5Kernels.md5Each($a)")

  override protected def withNewChildInternal(newChild: Expression): Md5Each =
    copy(child = newChild)
}

object Md5Each {

  /** Column form: `Md5Each(col("shset"))`. */
  def apply(a: Column): Column = ExprColumn.column(Md5Each(ExprColumn.expression(a)))
}

/** `hamming_hex64(a, b)`: [[Md5Kernels.hammingHex64]] (NULL in -> NULL). */
case class HammingHex64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_hex64"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Md5Kernels.hammingHex64(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Md5Kernels.hammingHex64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingHex64 =
    copy(left = newLeft, right = newRight)
}

object HammingHex64 {

  /** Column form: `HammingHex64(col("ha"), col("hb"))`. */
  def apply(a: Column, b: Column): Column =
    ExprColumn.column(HammingHex64(ExprColumn.expression(a), ExprColumn.expression(b)))
}
