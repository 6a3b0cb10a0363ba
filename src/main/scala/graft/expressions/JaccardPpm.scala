package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Exact Jaccard similarity of two arrays, scaled to parts-per-million —
  * ONE pass replacing `ppm(size(array_intersect(a,b)), size(array_union(a,b)))`,
  * which builds two intermediate arrays (plus their hash sets) per pair.
  * Inside the blocked similarity joins this runs once per CANDIDATE pair —
  * quadratic in block size — so it is the hot spot of the n-gram near-dup
  * query; bit-identical semantics (distinct-set intersection/union, floor of
  * the double division, 0 when the union is empty) are pinned by a
  * differential test against the built-in formulation.
  */
case class JaccardPpmExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "jaccard_ppm"

  @transient private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** The boxed-equals dedup is only equivalent to array_intersect/array_union
    * for element types whose boxed equality IS Spark's set equality: atomic
    * non-binary types. BinaryType boxes to Array[Byte] (reference equality)
    * and nested arrays/structs box to Spark internal rows — both would
    * silently diverge from the built-in oracle, so reject them at analysis.
    */
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if lt == rt =>
        lt match {
          case StringType | BooleanType | ByteType | ShortType | IntegerType |
              LongType | FloatType | DoubleType | DateType | TimestampType |
              _: DecimalType =>
            TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"jaccard_ppm does not support array<$other> (boxed equality " +
              "differs from Spark set semantics); use the built-in " +
              "array_intersect/array_union formulation instead")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_ppm expects two arrays of one element type, got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardPpmExpr.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elemType,
      classOf[DataType].getName)
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.JaccardPpmExpr.compute($a, $b, $et)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardPpmExpr {

  /** Public so generated code can call it. Distinct-set semantics exactly
    * like array_intersect/array_union — including for fractional types,
    * where Spark's collection set-ops distinguish -0.0 from 0.0 (no
    * NormalizeFloatingNumbers inside array expressions; verified against
    * the built-ins by SketchExprSpec), which boxed equals matches exactly.
    * `array<long>` (the MinHash verify sets) takes a primitive path; a
    * null element counts as one more distinct element on either path.
    */
  def compute(a: ArrayData, b: ArrayData, elemType: DataType): Long =
    if (elemType eq LongType) computeLong(a, b) else computeBoxed(a, b, elemType)

  private def ppm(inter: Long, union: Long): Long =
    if (union == 0L) 0L
    else math.floor(inter * 1000000.0 / union).toLong

  /** One [[LongTable]] pass: A's keys get stamp `base`; a B key found at
    * `base` is shared and moves to `base + 1`, a new B key enters at
    * `base + 1`, so a repeated B key is seen once.
    */
  private def computeLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val t = LongTable.acquire(na.toLong + nb, 2)
    val inA = t.base
    val seenB = inA + 1
    var nullA = false
    var union = 0L
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else if (t.add(a.getLong(i))) union += 1
      i += 1
    }
    if (nullA) union += 1
    var nullB = false
    var inter = 0L
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) {
        if (!nullB) { nullB = true; if (nullA) inter += 1 else union += 1 }
      } else {
        val x = b.getLong(i)
        val s = t.slot(x)
        val st = t.stamp(s)
        if (st == inA) { inter += 1; t.put(s, x, seenB) }
        else if (st < inA) { union += 1; t.put(s, x, seenB) }
      }
      i += 1
    }
    ppm(inter, union)
  }

  private def computeBoxed(a: ArrayData, b: ArrayData, elemType: DataType): Long = {
    val aArr = a.toObjectArray(elemType)
    val setA = new java.util.HashSet[Any](aArr.length * 2)
    var i = 0
    while (i < aArr.length) { setA.add(aArr(i)); i += 1 }

    val bArr = b.toObjectArray(elemType)
    val seenB = new java.util.HashSet[Any](bArr.length * 2)
    var inter = 0L
    var union = setA.size.toLong
    i = 0
    while (i < bArr.length) {
      val x = bArr(i)
      if (seenB.add(x)) {
        if (setA.contains(x)) inter += 1 else union += 1
      }
      i += 1
    }
    ppm(inter, union)
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardPpmExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
