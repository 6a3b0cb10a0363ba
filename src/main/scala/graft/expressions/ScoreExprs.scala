package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused scoring expressions for the curation gate hot path.
  *
  * `TextFunctions.qualityScore` / `langId` compose ~9 regex counts, a word
  * split and nested CASE trees; as built-in expression trees the optimizer
  * additionally DUPLICATES the whole tree when it pushes a gate filter
  * below the projection that defines the score column (guide §4.4 shape).
  * Each fused expression is one codegen'd pass: split once, run each
  * cached pattern once, fold the same exact integer arithmetic. Values are
  * bit-identical to the SQL formulations (differential-tested in
  * SpanExprSpec, including null/empty/unicode/CJK edges; the composed
  * queries stay value-pinned by the DuckDB oracle).
  *
  * Null contract: both expressions are null-in → null-out at the
  * expression level; the Column wrappers in TextFunctions re-apply the SQL
  * chains' null outcomes (`coalesce` — see there).
  */
case class QualityScoreExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "quality_score"

  override protected def nullSafeEval(input: Any): Any =
    QualityScoreExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.QualityScoreExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityScoreExpr {
  private val stopPattern = "\\b(the|a|an|of|and|or|is|to|in)\\b"
  private val punctPattern = "[^A-Za-z0-9\\s]"

  /** floor-ppm exactly as TextFunctions.ppm: (n·1e6)/d through doubles. */
  private def ppm(n: Long, d: Long): Long =
    if (d == 0L) 0L else math.floor(n.toDouble * 1000000.0 / d.toDouble).toLong

  /** Public so generated code can call it. */
  def compute(text: UTF8String): Long = {
    val nChars = text.numChars().toLong // Spark length() = code points
    val nWords = TextWords.of(text).count.toLong
    val nStop = CountMatches.compute(text.toLowerCase, stopPattern).toLong
    val nPunct = CountMatches.compute(text, punctPattern).toLong
    val stopPpm = ppm(nStop, nWords)
    val punctPpm = ppm(nPunct, nChars)
    val lenScore = math.min(nWords, 40L)
    // idiv = floor(long / long-literal) — Spark's Divide promotes to double
    val stopScore = math.min(math.floor(stopPpm.toDouble / 10000.0).toLong, 30L)
    val punctPenalty = math.min(math.floor(punctPpm.toDouble / 10000.0).toLong, 30L)
    math.max(0L, math.min(100L, lenScore + stopScore + 30L - punctPenalty))
  }

  def apply(text: Column): Column =
    ColumnBridge.column(QualityScoreExpr(ColumnBridge.expression(text)))
}

case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  override protected def nullSafeEval(input: Any): Any =
    LangIdExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.LangIdExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangIdExpr {
  private val cjk = java.util.regex.Pattern.compile("[\\x{4e00}-\\x{9fff}]")
  // (lang, marker pattern) — MUST stay in sync with
  // TextFunctions.langMarkers (pinned by the SpanExprSpec differential)
  private val markers: Array[(UTF8String, String)] = Array(
    UTF8String.fromString("en") -> "\\b(the|and|of|is|was|with|that)\\b",
    UTF8String.fromString("de") -> "\\b(der|die|das|und|ist|nicht|mit)\\b",
    UTF8String.fromString("fr") -> "\\b(le|la|les|et|est|pas|avec)\\b",
    UTF8String.fromString("es") -> "\\b(el|los|las|es|y|no|con)\\b")
  private val zh = UTF8String.fromString("zh")
  private val und = UTF8String.fromString("und")

  /** Public so generated code can call it. */
  def compute(text: UTF8String): UTF8String = {
    if (cjk.matcher(text.toString).find()) return zh
    val lower = text.toLowerCase
    var best = 0
    val counts = new Array[Int](markers.length)
    var i = 0
    while (i < markers.length) {
      counts(i) = CountMatches.compute(lower, markers(i)._2)
      if (counts(i) > best) best = counts(i)
      i += 1
    }
    if (best <= 0) return und
    i = 0
    while (i < markers.length) {
      if (counts(i) == best) return markers(i)._1
      i += 1
    }
    und // unreachable: best > 0 implies some count == best
  }

  def apply(text: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))
}
