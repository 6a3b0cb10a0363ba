package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** text → distinct xxhash64 of every n-word shingle, in ONE pass — the
  * codegen'd replacement for
  * `array_distinct(transform(shingles(text, n), s => xxhash64(s)))`
  * (bit-identical up to element order: array_distinct keeps first
  * occurrence; so does this).
  *
  * Why: the lambda pipeline materializes, per shingle, a sliced word array
  * plus a concatenated string — all interpreted (higher-order functions do
  * not codegen) — and the MinHash pipeline evaluates it once per doc plus
  * once per candidate side of the verify join-back. Here [[TextWords]]
  * scans the text's bytes once, every shingle is hashed as one slice of
  * its joined-words buffer, and duplicates are dropped in a per-thread
  * [[LongTable]]: no String decode, no per-shingle copy, no boxing.
  *
  * Semantics preserved exactly: words as [[TextWords]] defines them
  * (`split(trim(text), "\\s+", -1)`, "" → no words); fewer than n words →
  * ONE whole-text shingle (possibly ""); shingle text = words joined by a
  * single space; hash = `xxhash64(shingle)` = XXH64 over the UTF-8 bytes,
  * seed 42.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  /** Public so generated code can call it. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val w = TextWords.of(text)
    val buf = w.bytes
    if (w.count < n) {
      // single whole-text shingle (possibly ""), matching concat_ws(" ", ws)
      return UnsafeArrayData.fromPrimitiveArray(Array(
        XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, w.length, 42L)))
    }
    val total = w.count - n + 1
    val out = new Array[Long](total)
    val seen = LongTable.acquire(total, 1)
    var outLen = 0
    var s = 0
    while (s < total) {
      val from = w.start(s)
      val h = XXH64.hashUnsafeBytes(
        buf, Platform.BYTE_ARRAY_OFFSET + from, w.end(s + n - 1) - from, 42L)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, outLen, 8)
  }

  def apply(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))
}
