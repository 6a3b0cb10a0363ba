package graft

import java.util.regex.{Pattern, PatternSyntaxException}

import graft.expressions.{CompiledRuleTable, FusedRule, TagRewriteExpr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Compiles an ordered rule table into one routing column — the engine's
  * "query compilation" step, mirroring the reference's `configure`
  * (out_rewrite_tag_filter.rb:35-74) but emitting a single whole-stage
  * codegen'd Catalyst expression ([[TagRewriteExpr]]) instead of an
  * interpreted loop.
  *
  * First-match-wins (out_rewrite_tag_filter.rb:117-137) is the expression's
  * own loop order, so rule order is preserved by construction. This is
  * deliberately NOT a union of N filtered branches: that would re-scan per
  * rule and break first-match semantics for rows matching several rules.
  * The scalar [[Oracle]] is the differential reference for the compiled
  * expression.
  */
object RuleCompiler {

  /** Compiled plan. `routed` is a `struct(tag, label)` column: a null struct
    * when no rule fires, `tag = null` when a rule fired but the row is
    * dropped (unchanged tag, no label), so Router filters on one field
    * access. All rule constants are folded in as literals, so the plan
    * ships to executors inside the serialized physical plan with no closure
    * or broadcast state (the reference's multi-worker share-nothing model,
    * out_rewrite_tag_filter.rb:76-78).
    */
  final case class RoutingPlan(
      rules: Seq[Rule],
      config: RoutingConfig,
      routed: Column,
      ruleVersionHash: String)

  /** The whole cascade as ONE custom codegen'd Catalyst expression
    * ([[TagRewriteExpr]]): each rule's regex executes at most once per row
    * with reused matchers and the drop decision fused in (see
    * [[CompiledRuleTable]]).
    */
  def compileFused(
      rules: Seq[Rule],
      cfg: RoutingConfig,
      schema: StructType,
      tagCol: String = "source"): RoutingPlan = {

    validate(rules, cfg)

    val keys = rules.map(_.key).distinct
    val keyIdx = keys.zipWithIndex.toMap
    val fused = rules.map { r =>
      val pat = r.normalizedPattern // accepts /re/ and bare forms (:24)
      val groupCount =
        try Pattern.compile(pat).matcher("").groupCount()
        catch {
          case e: PatternSyntaxException =>
            throw new RuleConfigError(
              s"rule pattern is not a valid Java regex: ${r.pattern} (${e.getMessage})")
        }
      FusedRule(keyIdx(r.key) + 1, pat, r.invert, r.label.orNull,
        TemplateParser.parse(r.tag).toArray, groupCount)
    }
    // tag stripped for placeholder purposes ONLY (:155-156); prefix compiles
    // to /^<escaped>\.?/ (:69-71), stripping "p" and "p."
    val stripRegex = (cfg.removeTagPrefix, cfg.removeTagRegexp) match {
      case (Some(p), _)  => "^" + Pattern.quote(p) + "\\.?"
      case (_, Some(re)) => Rule.normalizePattern(re) // regexp_type form (:14)
      case _             => null
    }
    val table =
      CompiledRuleTable(fused.toArray, cfg.capitalizeRegexBackreference,
        cfg.hostname, stripRegex)
    val children =
      ColumnBridge.expression(coalesce(col(tagCol).cast(StringType), lit(""))) +:
        keys.map(k => ColumnBridge.expression(KeyPath.resolve(k, schema)))
    val routed = ColumnBridge.column(TagRewriteExpr(children, table))

    RoutingPlan(rules, cfg, routed, ruleVersionHash(rules, cfg))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Validations — the reference's ConfigError surface (:53-67). */
  private def validate(rules: Seq[Rule], cfg: RoutingConfig): Unit = {
    if (rules.isEmpty)
      throw new RuleConfigError("missing rewriterules") // :57-59
    // per-rule compile log — the reference's operator-debugging surface (:50)
    rules.foreach(r => log.info(
      s"adding rewrite rule: ${r.key} [${r.normalizedPattern}" +
        s"${if (r.invert) " (inverted)" else ""} -> ${r.tag}" +
        s"${r.label.fold("")(l => s" @$l")}]"))
    // duplicate key is (key, invert-marker, pattern) — tag/label excluded (:49,:61-63)
    // dup key uses the COMPILED pattern (:49,:61-63): /re/ and re collide
    val names = rules.map(r =>
      r.key + (if (r.invert) "!" else "") + r.normalizedPattern)
    if (names.distinct.length != names.length)
      throw new RuleConfigError(s"duplicated rewriterules found: $rules") // :61-63
    if (cfg.removeTagPrefix.isDefined && cfg.removeTagRegexp.isDefined)
      throw new RuleConfigError(
        "remove_tag_prefix and remove_tag_regexp are exclusive") // :65-67
    cfg.removeTagRegexp.foreach { re =>
      try Pattern.compile(Rule.normalizePattern(re))
      catch {
        case e: PatternSyntaxException =>
          throw new RuleConfigError(s"invalid remove_tag_regexp: ${e.getMessage}")
      }
    }
    rules.foreach(r => TemplateParser.parse(r.tag)) // rejects range forms (:43-45)
  }

  /** Canonical sha256 over rules + config — checkpoint lineage's
    * rule-version hash (BASELINE.json north_star).
    */
  def ruleVersionHash(rules: Seq[Rule], cfg: RoutingConfig): String = {
    val canonical = (rules.map(r =>
      Seq(r.key, r.pattern, r.tag, r.label.getOrElse("\u0000"), r.invert)
        .mkString("\u0001")) :+
      Seq(cfg.capitalizeRegexBackreference,
        cfg.removeTagPrefix.getOrElse("\u0000"),
        cfg.removeTagRegexp.getOrElse("\u0000"),
        cfg.hostname).mkString("\u0001")).mkString("\u0002")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
