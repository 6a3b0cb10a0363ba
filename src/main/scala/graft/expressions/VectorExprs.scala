package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Dot product in double over two numeric arrays — the codegen'd
  * replacement for
  * `aggregate(zip_with(a, b, (x,y) => x.cast(double)*y.cast(double)), 0.0, _+_)`.
  * Bit-identical: same left-to-right IEEE summation order, null when the
  * lengths differ or any participating element is null (zip_with pads the
  * shorter side with null, which nulls the whole fold). Higher-order
  * functions run interpreted and allocate the zipped array per call; inside
  * the ANN joins this runs once per candidate PAIR, making it the embedding
  * queries' hot spot.
  */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_double"

  @transient private lazy val leftType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val rightType: DataType =
    right.dataType.asInstanceOf[ArrayType].elementType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotDouble.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftType, rightType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = ctx.addReferenceObj("ltype", leftType, classOf[DataType].getName)
    val rt = ctx.addReferenceObj("rtype", rightType, classOf[DataType].getName)
    val tmp = ctx.freshName("dotRes")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""Object $tmp = graft.expressions.DotDouble.compute($a, $b, $lt, $rt);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) $tmp).doubleValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotDouble {

  /** Public so generated code can call it; boxed Double or null. */
  def compute(a: ArrayData, b: ArrayData,
      at: DataType, bt: DataType): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null // zip_with null-pad semantics
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, at) * get(b, i, bt)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  private def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType  => arr.getDouble(i)
    case FloatType   => arr.getFloat(i).toDouble
    case LongType    => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case ShortType   => arr.getShort(i).toDouble
    case other => throw new IllegalArgumentException(s"dot_double: $other")
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotDouble(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** text → xxhash64 of every whitespace word, one pass — the codegen'd
  * replacement for `transform(words(text), w => xxhash64(w))` (identical
  * values and order; "" → empty array), over the [[TextWords]] scan.
  * Feeds [[SimHashBits]].
  */
case class WordHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WordHashes.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordHashes {

  /** Public so generated code can call it. */
  def compute(text: UTF8String): ArrayData = {
    val w = TextWords.of(text)
    val out = new Array[Long](w.count)
    var i = 0
    while (i < w.count) {
      val from = w.start(i)
      out(i) = XXH64.hashUnsafeBytes(
        w.bytes, Platform.BYTE_ARRAY_OFFSET + from, w.end(i) - from, 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(text: Column): Column =
    ColumnBridge.column(WordHashes(ColumnBridge.expression(text)))
}

/** Fused symmetric int8 quantization — the codegen'd replacement for the
  * three-projection lambda chain in `Ann.quantizeInt8` (scale = max|x|,
  * element -> round(127·x/scale) as long, all-zero vectors stay all-zero).
  * The lambda form runs two interpreted `transform`s per row (plus an
  * `array_max(transform(abs))` pass); this is ONE pass over the raw
  * elements. Rounding replicates Spark's `round` on doubles exactly
  * (BigDecimal.valueOf + HALF_UP), pinned by the SpanExprSpec differential
  * against the SQL formulation.
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_int8"

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(input: Any): Any =
    QuantizeInt8Expr.compute(input.asInstanceOf[ArrayData], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("qElemType", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.QuantizeInt8Expr.compute($c, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeInt8Expr {
  private def elemAsDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => arr.getDouble(i)
    case FloatType => arr.getFloat(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  /** Public so generated code can call it. */
  def compute(arr: ArrayData, elemType: DataType): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    if (n == 0) return new GenericArrayData(out)
    var qs = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val a = math.abs(elemAsDouble(arr, i, elemType))
      if (a > qs) qs = a
      i += 1
    }
    if (qs == 0.0) return new GenericArrayData(out) // all-zero stays all-zero
    i = 0
    while (i < n) {
      val v = 127.0 * elemAsDouble(arr, i, elemType) / qs
      // Spark `round` on double: BigDecimal.valueOf + HALF_UP, then the
      // long cast truncates (values are already integral after setScale)
      out(i) =
        if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v.toLong
        else java.math.BigDecimal.valueOf(v)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(vec: Column): Column =
    ColumnBridge.column(QuantizeInt8Expr(ColumnBridge.expression(vec)))
}
