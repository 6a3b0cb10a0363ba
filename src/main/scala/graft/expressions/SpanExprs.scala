package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass codegen'd span/shingle STRING builders.
  *
  * Why these exist (guide §1.2 step 2 — per-task work): the built-in
  * formulation `transform(sequence(1, size(ws) - (n-1)), i ->
  * concat_ws(" ", slice(ws, i, n)))` with `ws = split(trim(text), "\s+")`
  * re-evaluates the FULL `split` inside the lambda for every element —
  * higher-order-function lambdas re-evaluate captured subtrees per call —
  * so a w-word document pays O(w) regex splits of the whole text: O(w²)
  * work per row, all interpreted. These expressions scan the text once
  * with [[TextWords]] and take every span as one slice of its
  * joined-words buffer. Each is differential-tested against the lambda
  * formulation it replaces (SpanExprSpec).
  *
  * Word semantics are [[TextWords]]' (shared with [[ShingleHashes]] and
  * the SQL `TextFunctions.words`): words = `split(trim(text), "\s+", -1)`,
  * "" after trim → no words; text that is not valid UTF-8 is split as
  * its `toString` decode, like the SQL form.
  */

/** text → n-word shingle strings, one pass.
  *
  * `wholeIfShort = true` reproduces `TextFunctions.shingles`: fewer than n
  * words collapse to ONE whole-text shingle (possibly ""). `false`
  * reproduces the `when(size(ws) < n, array())` guard variant (bigram
  * streams). `distinct = true` fuses the `array_distinct` the LSH verify
  * paths apply (first-occurrence order, same as array_distinct).
  */
case class ShingleStrings(
    child: Expression, n: Int, wholeIfShort: Boolean, distinct: Boolean)
  extends UnaryExpression {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override protected def nullSafeEval(input: Any): Any =
    ShingleStrings.compute(input.asInstanceOf[UTF8String], n, wholeIfShort, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.ShingleStrings.compute($c, $n, $wholeIfShort, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStrings {

  /** Public so generated code can call it. */
  def compute(
      text: UTF8String, n: Int, wholeIfShort: Boolean,
      distinct: Boolean): GenericArrayData = {
    val w = TextWords.of(text)
    if (w.count < n) {
      return new GenericArrayData(
        if (wholeIfShort) Array[Any](slice(w.bytes, 0, w.length))
        else Array.empty[Any])
    }
    val total = w.count - n + 1
    val out = new Array[Any](total)
    val seen = if (distinct) new java.util.HashSet[UTF8String](total * 2) else null
    var outLen = 0
    var s = 0
    while (s < total) {
      val str = slice(w.bytes, w.start(s), w.end(s + n - 1))
      if (seen == null || seen.add(str)) { out(outLen) = str; outLen += 1 }
      s += 1
    }
    new GenericArrayData(
      if (outLen == total) out else out.take(outLen))
  }

  /** A copy: the scanner's buffer is reused by the next row. */
  private def slice(bytes: Array[Byte], from: Int, until: Int): UTF8String =
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, until))

  def apply(text: Column, n: Int, wholeIfShort: Boolean = true,
      distinct: Boolean = false): Column =
    ColumnBridge.column(
      ShingleStrings(ColumnBridge.expression(text), n, wholeIfShort, distinct))
}

/** text → md5 hex fingerprint of every k-word span, position-ordered, one
  * pass — the codegen'd replacement for
  * `transform(sequence(1, size(ws) - (k-1)), i -> md5(concat_ws(" ", slice(ws, i, k))))`
  * in [[graft.dedup.Dedup.spanFps]] (same O(w²)-to-O(w·k) reduction as
  * [[ShingleStrings]], plus one reused MessageDigest instead of one per
  * span). Fewer than k words → empty array. Hex output is bit-identical to
  * Spark's `md5` (lowercase hex of the digest over the span's UTF-8 bytes).
  */
case class Md5SpanFps(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "md5_span_fps"

  override protected def nullSafeEval(input: Any): Any =
    Md5SpanFps.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5SpanFps.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5SpanFps {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Public so generated code can call it. */
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val w = TextWords.of(text)
    if (w.count < k) return new GenericArrayData(Array.empty[Any])
    val md = digests.get()
    val scratch = new Array[Byte](16)
    val total = w.count - k + 1
    val out = new Array[Any](total)
    var s = 0
    while (s < total) {
      val from = w.start(s)
      md.reset()
      md.update(w.bytes, from, w.end(s + k - 1) - from)
      md.digest(scratch, 0, 16)
      out(s) = Md5MinHashSig.toHex(scratch)
      s += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(Md5SpanFps(ColumnBridge.expression(text), k))
}
