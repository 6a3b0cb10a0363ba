package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MD5-based sketch primitives — the ORACLE-PORTABLE hash family.
  *
  * The xxhash64 family ([[MinHashSig]], [[WordHashes]]) is faster but only
  * Spark can compute it, so queries built on it get no cross-engine oracle.
  * MD5 is bit-identical in every engine (Spark `md5`, DuckDB `md5`, Python
  * `hashlib`), which lets the driver's DuckDB oracle reproduce the full
  * LSH pipeline — bucketing included — value for value. These expressions
  * keep the portable family codegen'd and single-pass (the equivalent
  * built-in lambda forms run interpreted and are differential-tested against
  * them in SketchExprSpec).
  */

/** MinHash signature over shingle STRINGS under the md5 family: for
  * j in 0..n-1, `min over shingles s of md5(j + ":" + s)` as the 32-char
  * lowercase hex digest. Hex encoding is order-preserving, so min-by-hex
  * equals min-by-digest-bytes; any total order over a hash family gives a
  * valid MinHash. Bit-identical to the lambda form
  * `transform(sequence(0, n-1), j -> array_min(transform(sh, s -> md5(concat(j, ':', s)))))`
  * and to the same expression in DuckDB SQL.
  */
case class Md5MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes > 0 && numHashes <= Md5MinHashSig.MaxHashes,
    s"md5_minhash_sig supports 1..${Md5MinHashSig.MaxHashes} hash functions " +
      "(the per-function prefix table is cached; a larger n would rebuild it per row)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "md5_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    Md5MinHashSig.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.Md5MinHashSig.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5MinHashSig {
  private val hexDigits = "0123456789abcdef".getBytes

  private[expressions] def toHex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic digest compare ≡ hex-string compare. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  final val MaxHashes = 64

  private val prefixCache: Array[Array[Byte]] =
    (0 until MaxHashes).map(j => (j.toString + ":").getBytes("UTF-8")).toArray

  // one digest per thread, not per row (MessageDigest.getInstance walks the
  // provider registry on every call)
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Public so generated code can call it. */
  def compute(shingles: ArrayData, n: Int): GenericArrayData = {
    val md = digests.get()
    val mins = new Array[Array[Byte]](n)
    val prefixes = prefixCache // n ≤ MaxHashes enforced at construction
    val scratch = new Array[Byte](16) // digest target, reused across calls
    val len = shingles.numElements()
    var i = 0
    while (i < len) {
      val sBytes = shingles.getUTF8String(i).getBytes
      var j = 0
      while (j < n) {
        md.reset()
        md.update(prefixes(j))
        md.update(sBytes)
        md.digest(scratch, 0, 16)
        if (mins(j) == null) mins(j) = java.util.Arrays.copyOf(scratch, 16)
        else if (less(scratch, mins(j))) {
          System.arraycopy(scratch, 0, mins(j), 0, 16)
        }
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](n)
    var o = 0
    while (o < n) {
      // empty shingle set → null would poison the bands; shingles() never
      // yields an empty array (an empty doc collapses to [""]), so this is
      // unreachable in the pipeline — keep a stable sentinel for direct use
      out(o) = if (mins(o) == null) UTF8String.fromString("") else toHex(mins(o))
      o += 1
    }
    new GenericArrayData(out)
  }

  def apply(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      Md5MinHashSig(ColumnBridge.expression(shingles), numHashes))
}

/** text → 64-bit hash of every whitespace word derived from the word's md5
  * digest (first 8 bytes, big-endian) — the oracle-portable analog of
  * [[WordHashes]], over the same [[TextWords]] scan. Feeds
  * [[SimHashBits]]; the resulting bitstring is
  * reproducible in SQL as `lpad(conv(substr(md5(w),1,16),16,2),64,'0')`
  * votes (Spark) / per-hex-char binary expansion (DuckDB).
  */
case class Md5WordHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_word_hashes"

  override protected def nullSafeEval(input: Any): Any =
    Md5WordHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5WordHashes.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5WordHashes {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Public so generated code can call it. */
  def compute(text: UTF8String): ArrayData = {
    val w = TextWords.of(text)
    val md = digests.get()
    val d = new Array[Byte](16)
    val out = new Array[Long](w.count)
    var i = 0
    while (i < w.count) {
      val from = w.start(i)
      md.reset()
      md.update(w.bytes, from, w.end(i) - from)
      md.digest(d, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(text: Column): Column =
    ColumnBridge.column(Md5WordHashes(ColumnBridge.expression(text)))
}
