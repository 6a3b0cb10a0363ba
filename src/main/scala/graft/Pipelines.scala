package graft

import graft.RuleCompiler.RoutingPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The flagship parse → route → enrich → aggregate pipeline over the
  * synthesized sequence table — the end-to-end slice of SURVEY.md §7.3,
  * shaped after the reference README's 7-rule production config
  * (README.md:81-124): site rules with backrefs + capitalize, placeholder
  * expansion, relabel, a drop rule, and an inverted catch-all (the
  * `(?!)`+invert idiom, README.md:173-186).
  */
object Pipelines {

  /** Flagship rule table over the sequence schema. Order is semantics. */
  val flagshipRules: Seq[Rule] = Seq(
    // backref + tag_parts: td.apache.access → site.apache.access
    Rule("source", "^td\\.apache\\..+$", "site.apache.${tag_parts[2]}"),
    // two backrefs + capitalize: td.nginx.access → site.Nginx-Access
    Rule("source", "^td\\.(nginx)\\.(access)$", "site.$1-$2"),
    // ${tag} passthrough into a new namespace + label routing
    Rule("source", "^kubernetes\\.", "k8s.${tag}", label = Some("k8s")),
    // alternation backref: game.production.api → app.production.api
    Rule("source", "^game\\.(production|staging)\\.api$", "app.$1.api"),
    // relabel: unchanged tag survives because a label is set (:96,:100)
    Rule("source", "^input$", "${tag}", label = Some("relabel")),
    // drop rule: unchanged tag, no label → silently dropped (:96-99)
    Rule("source", "^metrics\\.", "${tag}"),
    // inverted catch-all: fires for every non-empty source left over
    Rule("source", "^$", "unmatched.${tag_parts[0]}", invert = true))

  val flagshipConfig: RoutingConfig =
    RoutingConfig(capitalizeRegexBackreference = true, hostname = "graft-host")

  /** Enrichment dimension (FIXTURES.md F8): small, broadcast side. */
  def tagLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("site.apache.access", "apache-access-sink", "web", 1),
      ("site.apache.error", "apache-error-sink", "web", 2),
      ("site.Nginx-Access", "nginx-sink", "web", 1),
      ("k8s.kubernetes.var.log", "k8s-log-sink", "infra", 3),
      ("app.production.api", "prod-api-sink", "game", 1),
      ("app.staging.api", "staging-api-sink", "game", 5),
      ("input", "relabel-sink", "misc", 9)
    ).toDF("tag", "sink_name", "team", "priority")
  }

  /** The flagship rules compiled to the fused single-expression cascade
    * (TagRewriteExpr) — one regex pass per row, reused matchers.
    */
  def flagshipPlan(df: DataFrame): RoutingPlan =
    RuleCompiler.compileFused(flagshipRules, flagshipConfig, df.schema, "source")

  /** Whole pipeline to enriched per-sink counts (driver-checkable
    * aggregate). The dimension joins ABOVE the aggregate — enrichment attrs
    * are functions of the tag, so this touches #sinks rows, not #input rows
    * (see [[Router.enrichCounts]]).
    */
  def flagship(spark: SparkSession, df: DataFrame): DataFrame =
    Router.enrichCounts(
      Router.sinkCounts(Router.route(df, flagshipPlan(df))), tagLookup(spark))
}
