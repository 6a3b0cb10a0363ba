package graft.expressions

import java.util.Locale
import java.util.regex.{Matcher, Pattern}

import graft.TemplateParser
import graft.TemplateParser._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One rule of the fused cascade. `keyIdx` indexes the expression's child
  * array (0 = the tag column; keys start at 1). `segments` is the parsed tag
  * template; `groupCount` the pattern's capture-group count (counted once at
  * compile, mirroring the reference's configure-time compilation,
  * out_rewrite_tag_filter.rb:48).
  */
final case class FusedRule(
    keyIdx: Int,
    pattern: String,
    invert: Boolean,
    label: String, // null = no label
    segments: Array[Segment],
    groupCount: Int)
    extends Serializable

/** Driver-compiled, executor-executed rule table for [[TagRewriteExpr]].
  *
  * Why this exists: a cascade of Spark built-ins (`CASE WHEN` over `rlike`
  * plus one `regexp_extract` per `$n`) evaluates each rule's regex up to
  * 1 + #backrefs times per row, and every one of those ops allocates a
  * fresh `Matcher` + `String` + intermediate `UTF8String`s. Profiling on a
  * 32-core host showed that allocation — not CPU — caps N→4N scaling (raw
  * regex with reused matchers scales at ~0.81 efficiency; the built-in
  * cascade reached only ~0.45). This table evaluates the WHOLE
  * first-match-wins cascade in one pass per row: patterns compiled once per
  * plan, matchers + StringBuilder reused per-thread, each key value
  * converted UTF8String→String at most once per row, and the winning rule's
  * template rendered directly from the live `Matcher` — zero redundant
  * regex executions.
  *
  * Semantics match the scalar [[graft.Oracle]] (asserted by the
  * differential spec): empty-value skip for normal rules
  * (out_rewrite_tag_filter.rb:120), invert without backrefs (:122-124),
  * absent/out-of-range `$n` → "" (:147-153), Ruby-capitalize (:150),
  * `${tag}`/`${tag_parts[n]}`/`${hostname}` placeholders (:155-171), strip
  * via first-match-only replace (Ruby `sub`, :156).
  *
  * The unchanged/unrouted DROP decision (:96-100) is fused in as well: the
  * output is `struct(tag, label)` with `tag = null` when the row must be
  * dropped (rule fired but tag unchanged and no label), and a null struct
  * when no rule fired. Keeping the drop inside the expression means the
  * downstream filter is a plain `__routed.tag IS NOT NULL` — predicate
  * pushdown then duplicates a field access, not the whole cascade.
  */
final case class CompiledRuleTable(
    rules: Array[FusedRule],
    capitalize: Boolean,
    hostname: String,
    stripRegex: String) // null = no strip
    extends Serializable {

  @transient private lazy val patterns: Array[Pattern] =
    rules.map(r => Pattern.compile(r.pattern))
  @transient private lazy val stripPattern: Pattern =
    if (stripRegex == null) null else Pattern.compile(stripRegex)
  @transient private lazy val labelsU8: Array[UTF8String] =
    rules.map(r => if (r.label == null) null else UTF8String.fromString(r.label))

  /** Per-thread mutable state: one reusable Matcher per rule (+ strip) and a
    * shared StringBuilder. Matchers are not thread-safe; expression instances
    * inside a codegen'd plan can be shared across tasks, hence ThreadLocal.
    */
  private final class State(nVals: Int) {
    val matchers: Array[Matcher] = patterns.map(_.matcher(""))
    val strip: Matcher = if (stripPattern == null) null else stripPattern.matcher("")
    val sb = new java.lang.StringBuilder(64)
    // last-row memo: Catalyst may evaluate this expression several times per
    // row (predicate pushdown inlines the struct into the drop filter — up
    // to 3 textual copies — and the projection evaluates it again; FilterExec
    // codegen does not common-subexpression-eliminate across those). The
    // duplicate evaluations happen back-to-back on the same thread for the
    // same row, so a one-row cache keyed on the (immutable) String
    // conversions turns them into memcmp hits. Keying on Strings — not the
    // incoming UTF8Strings — matters: vectorized readers hand out
    // UTF8Strings backed by reused buffers, so object/byte identity of a
    // *stale* UTF8String is not a safe cache key.
    val lastVals: Array[String] = new Array[String](nVals)
    var lastResult: InternalRow = _
    var hasLast: Boolean = false
  }
  @transient private lazy val local: ThreadLocal[State] = new ThreadLocal[State]

  /** values(0) = tag column ("" for null), values(i>0) = rule key columns.
    * Returns `InternalRow(new_tag, new_label)` or null when no rule fires —
    * exactly the reference's `(nil, nil)` fall-through (:136).
    */
  def rewrite(values: Array[UTF8String]): InternalRow = {
    var st = local.get()
    if (st == null) { st = new State(values.length); local.set(st) }

    // convert once, then memo-check (Strings are immutable; UTF8Strings are
    // not safe to retain across rows — see State.lastVals)
    var same = st.hasLast
    var i = 0
    while (i < values.length) {
      val s = if (values(i) == null) "" else values(i).toString
      if (same && st.lastVals(i) != s) same = false
      st.lastVals(i) = s
      i += 1
    }
    if (same) return st.lastResult
    st.hasLast = true
    val r = rewriteUncached(st)
    st.lastResult = r
    r
  }

  private def rewriteUncached(st: State): InternalRow = {
    val tag = st.lastVals(0)
    // lazily materialized per row
    var stripped: String = null
    var parts: Array[String] = null

    def strippedTag: String = {
      if (stripped == null)
        stripped =
          if (st.strip == null) tag else st.strip.reset(tag).replaceFirst("")
      stripped
    }
    def tagPart(i: Int): String = {
      if (parts == null) parts = TagRewriteExpr.splitDots(strippedTag)
      if (i < parts.length) parts(i) else ""
    }

    var i = 0
    while (i < rules.length) {
      val rule = rules(i)
      val v = st.lastVals(rule.keyIdx)
      val fired =
        if (rule.invert)
          // inverted rules evaluate even on "" and never substitute backrefs
          !st.matchers(i).reset(v).find()
        else // empty-value skip (R-EMPTY)
          v.length > 0 && st.matchers(i).reset(v).find()
      if (fired) {
        val rendered =
          render(st, rule, if (rule.invert) null else st.matchers(i),
            strippedTag _, tagPart)
        val label = labelsU8(i)
        // fused unchanged-tag drop (:96-100): fired but (tag unchanged AND
        // no label) → struct(null, null); distinguishes "matched but
        // dropped" from the null struct ("no rule fired") for metrics
        return if (label == null && rendered == tag)
          CompiledRuleTable.FiredDropped
        else
          new GenericInternalRow(
            Array[Any](UTF8String.fromString(rendered), label))
      }
      i += 1
    }
    null
  }

  private def render(
      st: State,
      rule: FusedRule,
      m: Matcher, // null for inverted rules
      strippedTag: () => String,
      tagPart: Int => String): String = {
    val sb = st.sb
    sb.setLength(0)
    val segs = rule.segments
    var i = 0
    while (i < segs.length) {
      segs(i) match {
        case Lit(s) => sb.append(s)
        case Backref(n) =>
          if (m == null) { sb.append('$').append(n) } // inverted: literal $n
          else if (n >= 1 && n <= rule.groupCount) {
            val g = m.group(n) // null (non-participating) → "" like gsub-hash
            if (g != null) {
              if (capitalize) TagRewriteExpr.appendCapitalized(sb, g)
              else sb.append(g)
            }
          } // $0 / out-of-range → "" (absent gsub-table key)
        case TagPh        => sb.append(strippedTag())
        case TagPart(idx) => sb.append(tagPart(idx))
        case HostnamePh   => sb.append(hostname)
        case UnknownPh(_) => // "" + warn in the reference (:131-132)
      }
      i += 1
    }
    sb.toString
  }
}

object CompiledRuleTable {
  /** Shared "rule fired, row dropped" result — immutable, consumers copy. */
  val FiredDropped: InternalRow = new GenericInternalRow(Array[Any](null, null))
}

/** Whole-cascade rule rewrite as ONE codegen'd Catalyst expression.
  *
  * children(0) = tag column (string), children(1..) = the distinct rule key
  * columns in [[CompiledRuleTable]] index order. Output:
  * `struct<tag string, label string>`: null when no rule fires, `tag = null`
  * when a rule fired but the row is dropped — the `routed` column of
  * [[graft.RuleCompiler.RoutingPlan]] that [[graft.Router]] filters on.
  *
  * `doGenCode` ships the compiled table as a plan reference object and emits
  * a single call into [[CompiledRuleTable.rewrite]], so the expression stays
  * inside whole-stage codegen (no CodegenFallback row boxing).
  */
case class TagRewriteExpr(children: Seq[Expression], table: CompiledRuleTable)
    extends Expression {

  override def dataType: DataType = StructType(Seq(
    StructField("tag", StringType, nullable = true),
    StructField("label", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "tag_rewrite"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[UTF8String](children.length)
    var i = 0
    while (i < children.length) {
      vals(i) = children(i).eval(input).asInstanceOf[UTF8String]
      i += 1
    }
    table.rewrite(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("ruleTable", table, classOf[CompiledRuleTable].getName)
    val evals = children.map(_.genCode(ctx))
    val u8 = "org.apache.spark.unsafe.types.UTF8String"
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val vals = ctx.freshName("vals")
    val childCode = evals.map(_.code).reduce(_ + _)
    val assigns = evals.zipWithIndex.map { case (e, i) =>
      s"$vals[$i] = ${e.isNull} ? null : ${e.value};"
    }.mkString("\n")
    ev.copy(code =
      code"""
        |$childCode
        |$u8[] $vals = new $u8[${children.length}];
        |$assigns
        |$rowCls ${ev.value} = $tableRef.rewrite($vals);
        |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object TagRewriteExpr {

  /** Ruby `tag.split('.')` for `${tag_parts[n]}` (:165-168). Keeps interior
    * empties; trailing-empty handling is unobservable (out-of-range reads
    * are "" either way).
    */
  def splitDots(s: String): Array[String] = s.split("\\.", -1)

  /** Ruby `String#capitalize` (:150): upcase first char, downcase the rest.
    * NOT Spark `initcap`, which title-cases every whitespace-separated word
    * ("foo bar" → "Foo Bar" vs Ruby "Foo bar").
    */
  def appendCapitalized(sb: java.lang.StringBuilder, s: String): Unit = {
    if (s.nonEmpty) {
      sb.append(s.substring(0, 1).toUpperCase(Locale.ROOT))
      sb.append(s.substring(1).toLowerCase(Locale.ROOT))
    }
  }
}
