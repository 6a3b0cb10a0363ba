package graft

import graft.RuleCompiler.RoutingPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The data path: apply a compiled [[RuleCompiler.RoutingPlan]] to a frame,
  * drop unrouted rows, optionally enrich via broadcast lookup, and fan out
  * to per-(label, tag) sinks with per-sink counts.
  *
  * Mirrors the reference's `process` (out_rewrite_tag_filter.rb:90-115) as a
  * single narrow (map-side) pipeline: scan → fused routing expression →
  * filter. The only shuffles in the whole flow are (a) the final count
  * aggregation and (b) an optional salted repartition before the fan-out
  * write; the rule cascade itself is embarrassingly parallel, exactly like
  * the reference's multi-worker mode (:76-78).
  */
object Router {

  val NewTag = "new_tag"
  val NewLabel = "new_label"
  /** Default label namespace for sinks — the reference's default router
    * (nil/empty label, :80-88).
    */
  val DefaultLabel = "@default"

  /** A routed row's sink label namespace: its label, or [[DefaultLabel]]
    * when no rule set one.
    */
  def labelNs: Column =
    coalesce(col(NewLabel), lit(DefaultLabel))

  /** The fan-out sink layout, shared by every fan-out writer (this object's
    * files, the streaming file sink, Iceberg): [[labelNs]] materialized as
    * [[LabelNsCol]] in place of [[NewLabel]], one partition per
    * (label namespace, tag).
    */
  val LabelNsCol = "new_label_ns"
  val SinkPartitionCols: Seq[String] = Seq(LabelNsCol, NewTag)

  /** Full routing incl. the unchanged/unrouted drop filter
    * (out_rewrite_tag_filter.rb:96-100): drop when (no rule fired OR tag
    * unchanged) AND no label; a label keeps an unchanged tag alive
    * (relabel). The plan's `routed` struct already encodes that decision
    * (`tag = null` ⇔ drop), so the filter is one field access.
    */
  def route(df: DataFrame, plan: RoutingPlan): DataFrame =
    keepRouted(df.withColumn("__routed", plan.routed))

  /** Convenience: compile + route. */
  def route(
      df: DataFrame,
      rules: Seq[Rule],
      cfg: RoutingConfig = RoutingConfig(),
      tagCol: String = "source"): DataFrame =
    route(df, RuleCompiler.compileFused(rules, cfg, df.schema, tagCol))

  /** Routed-frame metrics via `observe` — emitted/matched/unmatched mirror
    * the reference's drop trace (:97) and the north star's counter triple:
    * `matched` counts rows where a rule fired (kept or dropped),
    * `unmatched` counts every dropped row (no rule fired, or fired with an
    * unchanged tag and no label). Attached BEFORE the drop filter so dropped
    * rows are still visible. Read back from a QueryExecutionListener or
    * `Observation`.
    */
  def routeObserved(df: DataFrame, plan: RoutingPlan,
      observation: org.apache.spark.sql.Observation): DataFrame =
    keepRouted(df.withColumn("__routed", plan.routed)
      .observe(observation,
        count(lit(1)).as("emitted"),
        count(when(col("__routed").isNotNull, 1)).as("matched"),
        count(when(col("__routed.tag").isNull, 1)).as("unmatched")))

  /** Shared tail: null struct = no rule fired; struct(null, ·) = fired but
    * dropped. Keeps the rest and projects the routed tag and label.
    */
  private def keepRouted(withRouted: DataFrame): DataFrame =
    withRouted
      .filter(col("__routed.tag").isNotNull)
      .withColumn(NewTag, col("__routed.tag"))
      .withColumn(NewLabel, col("__routed.label"))
      .drop("__routed")

  /** Broadcast lookup enrichment: left join a small tag-keyed dimension on
    * the rewritten tag (north star: "rewritten tags are materialized via
    * broadcast-joined lookup enrichment"). Always broadcast — never let the
    * planner pick a shuffle join for a dimension of a few thousand rows.
    */
  def enrich(routed: DataFrame, lookup: DataFrame, lookupTagCol: String = "tag"): DataFrame =
    routed.join(
      broadcast(lookup.withColumnRenamed(lookupTagCol, NewTag)),
      Seq(NewTag), "left")

  /** Enrich per-sink AGGREGATES with the lookup dimension. When the
    * enrichment attributes are functions of the routing tag (they are — the
    * dimension is keyed on it), joining above the aggregate is
    * plan-equivalent to enriching every row and then grouping, but touches
    * #sinks rows instead of #input rows. At 10^12 input rows that removes
    * the dimension join from the per-row path entirely; in-sandbox it is
    * also what lets the aggregate pipeline scale past the measured
    * ~11M rows/s single-JVM ceiling of per-row BroadcastHashJoin probing.
    * Row-level [[enrich]] remains for the fan-out write path, where each
    * emitted row must carry its sink attributes.
    */
  def enrichCounts(sinkCounts: DataFrame, lookup: DataFrame,
      lookupTagCol: String = "tag"): DataFrame = {
    val joined = sinkCounts.join(
      broadcast(lookup.withColumnRenamed(lookupTagCol, "tag")),
      Seq("tag"), "left")
    // keep the aggregate's column order (tag first after a USING join)
    joined.select(sinkCounts.columns.map(col) ++
      joined.columns.filterNot(sinkCounts.columns.contains).map(col): _*)
  }

  /** Per-sink routed-row counts (R-GRP analog): one row per
    * (label-namespace, tag). Partial+final hash aggregate; the map-side
    * combine means the shuffle carries only one row per (label, tag) per
    * task even at 10^12 input rows.
    */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed
      .groupBy(
        labelNs.as("label_ns"),
        col(NewTag).as("tag"))
      .agg(count(lit(1)).as("n_rows"))

  /** Fan-out write: one directory per (label-namespace, tag) —
    * `.../new_label_ns=<label>/new_tag=<tag>/part-*.parquet`. A skewed tag
    * distribution (one hot catch-all tag) would otherwise funnel into few
    * write tasks, so rows are salted with `pmod(xxhash64(saltKey), salt)`
    * before the partitioned write: each hot tag then spreads over up to
    * `salt` tasks. `maxRecordsPerFile` bounds file size at scale.
    */
  def writeFanOut(
      routed: DataFrame,
      outDir: String,
      salt: Int = 16,
      saltKey: String = "doc_id",
      maxRecordsPerFile: Long = 5000000L,
      format: String = "parquet"): Unit = {
    val withNs = routed.withColumn(LabelNsCol, labelNs)
    val salted =
      if (salt > 1) {
        // EXPLICIT partition count: a bare repartition(exprs) is an AQE
        // coalescing target, and AQE happily merges the salted groups back
        // into few tasks when their post-shuffle bytes look small —
        // silently defeating the hot-tag spread (caught by the salt-spread
        // test). A user-specified count is exempt from coalescing.
        val parts = routed.sparkSession.sessionState.conf.numShufflePartitions
        withNs.repartition(parts,
          SinkPartitionCols.map(col) :+ pmod(xxhash64(col(saltKey)), lit(salt)): _*)
      } else withNs
    salted
      .drop(NewLabel)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(SinkPartitionCols: _*)
      .format(format)
      .save(outDir)
  }
}
