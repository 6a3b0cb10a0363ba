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
  * array (0 = the tag column, also used by a rule keyed on the tag itself;
  * other keys start at 1). `segments` is the parsed tag
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
  * plan, matchers + StringBuilder reused per partition ([[RewriteState]]),
  * each key value converted UTF8String→String at most once per row, and the
  * winning rule's template rendered directly from the live `Matcher` — zero
  * redundant regex executions.
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
  *
  * Result cache: the result is a pure function of the input tuple (tag and
  * rule-key values), and real tag streams repeat a few tuples millions of
  * times, so each [[RewriteState]] carries a [[ResultCache]] from tuple to
  * finished result. A hit skips the String decode, the regex cascade and
  * every allocation. The key is the tuple of input `UTF8String`s with null
  * read as "" (the cascade treats them the same). Stored keys are copies:
  * vectorized readers hand out UTF8Strings backed by reused buffers, so a
  * retained reference could change underneath the cache; lookups probe with
  * the live values. The cache holds at most [[ResultCache.MaxEntries]]
  * tuples and [[ResultCache.MaxKeyBytes]] key bytes and stops inserting at
  * either bound. Once it has missed more than `MaxEntries` times, with fewer
  * hits than misses so far, it stops probing for the rest of the partition,
  * so unique-key input pays only for the first few thousand rows.
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
  @transient private lazy val local: ThreadLocal[RewriteState] = new ThreadLocal[RewriteState]

  /** Fresh state for an expression with `width` children. Generated code
    * holds one per generated-class instance, i.e. one per task.
    */
  def newState(width: Int): RewriteState =
    new RewriteState(patterns.map(_.matcher("")),
      if (stripPattern == null) null else stripPattern.matcher(""), width)

  /** The interpreted path's state: one per thread, since expression
    * instances outside codegen can be shared across tasks.
    */
  def threadState(width: Int): RewriteState = {
    var st = local.get()
    if (st == null) { st = newState(width); local.set(st) }
    st
  }

  /** Routes the row in `st.values`: values(0) = tag column, values(i>0) =
    * rule key columns, null read as "". Returns `InternalRow(new_tag,
    * new_label)` or null when no rule fires — exactly the reference's
    * `(nil, nil)` fall-through (:136).
    */
  def rewrite(st: RewriteState): InternalRow = {
    val vals = st.values
    var i = 0
    while (i < vals.length) {
      if (vals(i) == null) vals(i) = UTF8String.EMPTY_UTF8
      i += 1
    }
    val cache = st.cache
    if (!cache.probing) return rewriteUncached(st)
    val slot = cache.find(vals)
    if (slot >= 0) return cache.result(slot)
    val r = rewriteUncached(st)
    cache.insert(vals, r)
    r
  }

  private def rewriteUncached(st: RewriteState): InternalRow = {
    val strs = st.strings
    var k = 0
    while (k < strs.length) { strs(k) = st.values(k).toString; k += 1 }
    val tag = strs(0)
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
      val v = strs(rule.keyIdx)
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
      st: RewriteState,
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
        case UnkeyedBackref(raw) =>
          if (m == null) sb.append(raw) // inverted: literal; else "" (no key)
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

/** Mutable state of one [[CompiledRuleTable]] evaluation site: one reusable
  * Matcher per rule (+ strip), a StringBuilder, the row's input values and
  * the [[ResultCache]]. Matchers are not thread-safe, so a state is never
  * shared between threads (see [[CompiledRuleTable.newState]]).
  */
final class RewriteState private[expressions] (
    private[expressions] val matchers: Array[Matcher],
    private[expressions] val strip: Matcher,
    width: Int) {
  /** The row's inputs, filled by the caller before each
    * [[CompiledRuleTable.rewrite]] (reused, not allocated per row).
    */
  val values: Array[UTF8String] = new Array[UTF8String](width)
  private[expressions] val strings = new Array[String](width)
  private[expressions] val sb = new java.lang.StringBuilder(64)
  private[expressions] val cache = new ResultCache
}

/** Bounded open-addressing map from an input tuple to its finished result
  * (routed struct, `FiredDropped`, or null for "no rule fired"); the policy
  * is described on [[CompiledRuleTable]]. Linear probing over twice
  * `MaxEntries` slots, so every probe ends at a match or an empty slot.
  */
private[expressions] final class ResultCache {
  import ResultCache._

  private val keys = new Array[Array[UTF8String]](Slots) // null = empty slot
  private val hashes = new Array[Int](Slots)
  private val results = new Array[InternalRow](Slots)
  private var entries = 0
  private var keyBytes = 0L
  private var hits = 0L
  private var misses = 0L
  // where the tuple of the last miss goes, for `insert`
  private var freeSlot = 0
  private var freeHash = 0

  /** False once the input looks unique-keyed: rows then skip the cache. */
  var probing = true

  /** The slot holding `vals`, or -1 on a miss. */
  def find(vals: Array[UTF8String]): Int = {
    var h = 0
    var j = 0
    while (j < vals.length) { h = h * 31 + vals(j).hashCode; j += 1 }
    var i = h & (Slots - 1)
    while (keys(i) != null) {
      if (hashes(i) == h && sameKey(keys(i), vals)) { hits += 1; return i }
      i = (i + 1) & (Slots - 1)
    }
    misses += 1
    if (misses > MaxEntries && misses > hits) probing = false
    freeSlot = i
    freeHash = h
    -1
  }

  def result(slot: Int): InternalRow = results(slot)

  /** Stores a copy of the tuple [[find]] just missed, unless a bound is
    * reached.
    */
  def insert(vals: Array[UTF8String], r: InternalRow): Unit = {
    var bytes = 0L
    var j = 0
    while (j < vals.length) { bytes += vals(j).numBytes; j += 1 }
    if (entries < MaxEntries && keyBytes + bytes <= MaxKeyBytes) {
      keys(freeSlot) = vals.map(_.copy())
      hashes(freeSlot) = freeHash
      results(freeSlot) = r
      entries += 1
      keyBytes += bytes
    }
  }
}

private[expressions] object ResultCache {
  val MaxEntries = 4096
  val MaxKeyBytes: Long = 1L << 20
  private val Slots = 2 * MaxEntries

  private def sameKey(a: Array[UTF8String], b: Array[UTF8String]): Boolean = {
    var j = 0
    while (j < a.length) {
      if (a(j) != b(j)) return false
      j += 1
    }
    true
  }
}

/** Whole-cascade rule rewrite as ONE codegen'd Catalyst expression.
  *
  * children(0) = tag column (string), children(1..) = the distinct rule key
  * columns other than the tag, in [[FusedRule.keyIdx]] order. Output:
  * `struct<tag string, label string>`: null when no rule fires, `tag = null`
  * when a rule fired but the row is dropped — the `routed` column of
  * [[graft.RuleCompiler.RoutingPlan]] that [[graft.Router]] filters on.
  *
  * `doGenCode` ships the compiled table as a plan reference object, keeps
  * one [[RewriteState]] (matchers, result cache) per generated-class
  * instance — so per task, dropped with it — and emits a single call into
  * [[CompiledRuleTable.rewrite]], so the expression stays inside whole-stage
  * codegen (no CodegenFallback row boxing).
  */
case class TagRewriteExpr(children: Seq[Expression], table: CompiledRuleTable)
    extends Expression {

  override def dataType: DataType = StructType(Seq(
    StructField("tag", StringType, nullable = true),
    StructField("label", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "tag_rewrite"

  override def eval(input: InternalRow): Any = {
    val st = table.threadState(children.length)
    var i = 0
    while (i < children.length) {
      st.values(i) = children(i).eval(input).asInstanceOf[UTF8String]
      i += 1
    }
    table.rewrite(st)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("ruleTable", table, classOf[CompiledRuleTable].getName)
    val st = ctx.addMutableState(classOf[RewriteState].getName, "ruleState",
      v => s"$v = $tableRef.newState(${children.length});", forceInline = true)
    val evals = children.map(_.genCode(ctx))
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val childCode = evals.map(_.code).reduce(_ + _)
    val assigns = evals.zipWithIndex.map { case (e, i) =>
      s"$st.values()[$i] = ${e.isNull} ? null : ${e.value};"
    }.mkString("\n")
    ev.copy(code =
      code"""
        |$childCode
        |$assigns
        |$rowCls ${ev.value} = $tableRef.rewrite($st);
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

  /** Ruby `String#capitalize` (:150): upcase the first character (code
    * point, so a surrogate pair stays whole), downcase the rest. NOT Spark
    * `initcap`, which title-cases every whitespace-separated word
    * ("foo bar" → "Foo Bar" vs Ruby "Foo bar").
    */
  def appendCapitalized(sb: java.lang.StringBuilder, s: String): Unit = {
    if (s.nonEmpty) {
      val head = Character.charCount(s.codePointAt(0))
      sb.append(s.substring(0, head).toUpperCase(Locale.ROOT))
      sb.append(s.substring(head).toLowerCase(Locale.ROOT))
    }
  }
}
