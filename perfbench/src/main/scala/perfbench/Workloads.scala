package perfbench

import java.io.File

import graft.RuleCompiler.RoutingPlan
import graft.dedup.Dedup
import graft.{Checkpoint, Oracle, Pipelines, Router, Rule, RoutingConfig, RuleCompiler, RuleTableLoader, Synth}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** One cumulative plan of the traced prefix chain (scan, scan+route, ...),
  * run as its own action. Its self time is its wall minus that of `base`
  * (default: the prefix before it). `after` runs outside the wall.
  */
final case class Prefix(layer: String, run: () => Unit, after: () => Unit = () => (),
    base: Option[String] = None)

/** A benchmark workload. An instance is re-`prepare`d once per set-up (each
  * set-up has its own session); its expected outputs are driver-side values
  * computed once and shared by all set-ups.
  */
abstract class Workload(val name: String) {
  type R

  /** Input rows (documents for dedup) one iteration processes. */
  def rows: Long
  def generate(spark: SparkSession, dir: File, seed: Long): Unit

  /** Load and compile against `spark`; part of the timed set-up. */
  def prepare(spark: SparkSession, dir: File, work: File): Unit
  def loadMs: Double = 0.0
  def compileMs: Double = 0.0
  def ruleCount: Int = 0

  /** Compute the expected outputs (not timed). */
  def computeExpected(spark: SparkSession, dir: File): Unit

  /** Deliberately corrupt one expected value (the check must then fail). */
  def corruptExpected(): Unit

  def iterate(tr: Tracer): R
  def check(r: R): Option[String]

  /** Delete what iterations wrote, except the latest iteration's output. */
  def cleanup(): Unit = ()

  /** Delete everything the run wrote. */
  def finish(): Unit = ()

  /** Checks made once per run on the last iteration's output. */
  def runChecks(spark: SparkSession, last: R): Option[String] = None

  def prefixes(tr: Tracer): Seq[Prefix]

  /** Layer counters of one iteration (route counters, sinks, ranges, ...). */
  def counters(r: R): Map[String, Double]

  /** (data files, data bytes) one iteration wrote; None if it writes none. */
  def written(r: R): Option[(Long, Long)] = None

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  val all: Seq[String] = Seq("flagship_agg", "deep_rules", "fanout_resume", "dedup_cluster")

  /** The default input size of each workload (rows, or documents). */
  def apply(name: String, rowsOverride: Option[Long] = None): Workload = name match {
    case "flagship_agg"  => new FlagshipAgg(rowsOverride.getOrElse(3000000L))
    case "deep_rules"    => new DeepRules(rowsOverride.getOrElse(1000000L))
    case "fanout_resume" => new FanoutResume(rowsOverride.getOrElse(400000L))
    case "dedup_cluster" => new DedupCluster(rowsOverride.getOrElse(200000L))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${all.mkString(", ")})")
  }

  /** Routing outcome of one iteration: per-sink counts keyed (label_ns, tag)
    * plus the emitted/matched/unmatched observation.
    */
  final case class RouteCounts(sinks: Map[(String, String), Long], emitted: Long,
      matched: Long, unmatched: Long) {
    def describeDiff(exp: RouteCounts): Option[String] = {
      val bad = (sinks.keySet ++ exp.sinks.keySet).toSeq.sorted
        .filter(k => sinks.get(k) != exp.sinks.get(k))
      if (bad.isEmpty && emitted == exp.emitted && matched == exp.matched &&
        unmatched == exp.unmatched) None
      else Some(s"route counts differ: emitted/matched/unmatched " +
        s"$emitted/$matched/$unmatched vs expected ${exp.emitted}/${exp.matched}/${exp.unmatched}; " +
        s"${bad.size} sink(s) differ, first ${bad.take(3).map(k =>
          s"$k=${sinks.getOrElse(k, 0L)} expected ${exp.sinks.getOrElse(k, 0L)}").mkString(", ")}")
    }
    def kept: Long = emitted - unmatched
  }

  /** Expected routing of a single-key (`source`) table: `Oracle` applied to
    * each distinct `source`, weighted by that value's count from a plain
    * `groupBy`.
    */
  def oracleBySource(df: DataFrame, rules: Seq[Rule], cfg: RoutingConfig): RouteCounts = {
    val counts = df.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var matched = 0L
    var unmatched = 0L
    val sinks = scala.collection.mutable.Map.empty[(String, String), Long]
    for ((src, n) <- counts) {
      val s = Option(src).getOrElse("")
      val rec = Map[String, Any]("source" -> src)
      if (Oracle.rewriteTag(rules, cfg, s, rec).isDefined) matched += n
      Oracle.route(rules, cfg, s, rec) match {
        case None => unmatched += n
        case Some((tag, label)) =>
          val k = (label.getOrElse(Router.DefaultLabel), tag)
          sinks(k) = sinks.getOrElse(k, 0L) + n
      }
    }
    RouteCounts(sinks.toMap, counts.map(_._2).sum, matched, unmatched)
  }

  def observed(obs: Observation): (Long, Long, Long) = {
    val m = obs.get
    (m("emitted").asInstanceOf[Long], m("matched").asInstanceOf[Long],
      m("unmatched").asInstanceOf[Long])
  }

  def corrupt(rc: RouteCounts): RouteCounts = {
    val (k, v) = rc.sinks.toSeq.sortBy(-_._2).head
    rc.copy(sinks = rc.sinks.updated(k, v + 1))
  }

  def routeCounters(rc: RouteCounts): Map[String, Double] = Map(
    "route.rows_in" -> rc.emitted.toDouble,
    "route.matched" -> rc.matched.toDouble,
    "route.unmatched" -> rc.unmatched.toDouble,
    "route.kept" -> rc.kept.toDouble,
    "route.kept_ratio" -> (if (rc.emitted == 0) 0.0 else rc.kept.toDouble / rc.emitted))
}

import Workloads._

/** Routing workloads that load a rule conf, compile it fused, and route a
  * parquet table read once per set-up.
  */
abstract class RoutedWorkload(name: String) extends Workload(name) {
  protected var spark: SparkSession = _
  protected var df: DataFrame = _
  protected var plan: RoutingPlan = _
  protected var inputDir: String = _
  private var load = 0.0
  private var compile = 0.0
  protected def tagCol = "source"

  override def loadMs: Double = load
  override def compileMs: Double = compile
  override def ruleCount: Int = plan.rules.size

  override def prepare(spark: SparkSession, dir: File, work: File): Unit = {
    this.spark = spark
    inputDir = new File(dir, "input").getPath
    df = spark.read.parquet(inputDir)
    val t0 = System.nanoTime()
    val (rules, cfg) = RuleTableLoader.fromConfFile(new File(dir, "rules.conf").getPath)
    val t1 = System.nanoTime()
    plan = RuleCompiler.compileFused(rules, cfg, df.schema, tagCol)
    val t2 = System.nanoTime()
    load = (t1 - t0) / 1e6
    compile = (t2 - t1) / 1e6
    prepared(spark, work)
  }

  protected def prepared(spark: SparkSession, work: File): Unit = ()
}

/** The paper's 7-rule config over `Synth.sequences`: route → sinkCounts →
  * enrichCounts → collect.
  */
final class FlagshipAgg(val rows: Long) extends RoutedWorkload("flagship_agg") {
  type R = RouteCounts
  private var expected: RouteCounts = _
  private var lookup: DataFrame = _

  /** The job reads only `source`; the token payload, whose generation
    * costs more than the whole timed run, is left out of this table.
    */
  def generate(spark: SparkSession, dir: File, seed: Long): Unit =
    Gen.flagshipInput(spark, dir, rows, seed, Seq("doc_id", "source"))

  override protected def prepared(spark: SparkSession, work: File): Unit =
    lookup = Pipelines.tagLookup(spark)

  def computeExpected(spark: SparkSession, dir: File): Unit = {
    require(plan.rules == Pipelines.flagshipRules && plan.config == Pipelines.flagshipConfig,
      "the flagship conf did not load back to Pipelines.flagshipRules")
    expected = oracleBySource(df, plan.rules, plan.config)
  }
  def corruptExpected(): Unit = expected = corrupt(expected)

  def iterate(tr: Tracer): RouteCounts = {
    val obs = Observation()
    val routed = tr.span("Router.routeObserved")(Router.routeObserved(df, plan, obs))
    val counts = tr.span("Router.sinkCounts")(Router.sinkCounts(routed))
    val enriched = tr.span("Router.enrichCounts")(Router.enrichCounts(counts, lookup))
    val out = tr.span("collect")(enriched.collect())
    val (e, m, u) = tr.span("Observation.get")(observed(obs))
    RouteCounts(out.map(r => (r.getAs[String]("label_ns"), r.getAs[String]("tag")) ->
      r.getAs[Long]("n_rows")).toMap, e, m, u)
  }

  def check(r: RouteCounts): Option[String] = r.describeDiff(expected)

  def prefixes(tr: Tracer): Seq[Prefix] = {
    def routed = Router.routeObserved(df, plan, Observation())
    Seq(
      Prefix("scan", () => noop(df.select(tagCol))), // the only column the route reads
      Prefix("route", () => noop(routed.select(Router.NewTag, Router.NewLabel))),
      Prefix("aggregate", () => noop(Router.enrichCounts(Router.sinkCounts(routed), lookup))))
  }

  def counters(r: RouteCounts): Map[String, Double] =
    routeCounters(r) + ("aggregate.sinks" -> r.sinks.size.toDouble)
}

/** About 64 generated rules keyed on `source` and on the nested
  * `$.http.path` (unique per row): route → sinkCounts → collect.
  */
final class DeepRules(val rows: Long) extends RoutedWorkload("deep_rules") {
  type R = RouteCounts
  private var expected: RouteCounts = _

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    Gen.deepTable(spark, rows, seed, partitions = 16).write.parquet(new File(dir, "input").getPath)
    val (rules, cfg) = Gen.deepRules(seed)
    Gen.writeText(new File(dir, "rules.conf"),
      Gen.confText(rules, cfg, s"deep_rules: ${rules.size} rules, seed $seed"))
  }

  /** Expected counts are the planted routes; a sample of rows is also
    * routed by `Oracle`, which must agree with what was planted.
    */
  def computeExpected(spark: SparkSession, dir: File): Unit = {
    val planted = df.groupBy("expect_ns", "expect_tag").count().collect()
    val n = planted.map(_.getLong(2)).sum
    val dropped = planted.filter(_.isNullAt(1)).map(_.getLong(2)).sum
    expected = RouteCounts(planted.filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      emitted = n, matched = n, unmatched = dropped)
  }
  def corruptExpected(): Unit = expected = corrupt(expected)

  override def runChecks(spark: SparkSession, last: RouteCounts): Option[String] = {
    val step = math.max(1L, rows / 400)
    val sample = df.where(pmod(col("doc_id"), lit(step)) === 0).limit(400)
      .select("source", "http.path", "expect_ns", "expect_tag").collect()
    val bad = sample.filter { r =>
      val rec = Map[String, Any]("source" -> r.getString(0),
        "http" -> Map[String, Any]("path" -> r.getString(1)))
      val want = Option(r.getString(3)).map(t => (t, r.getString(2)))
      val got = Oracle.route(plan.rules, plan.config, r.getString(0), rec)
        .map { case (t, l) => (t, l.getOrElse(Router.DefaultLabel)) }
      got != want
    }
    if (sample.length < 100) Some(s"oracle sample too small: ${sample.length} rows")
    else if (bad.nonEmpty) Some(s"Oracle disagrees with the planted route on ${bad.length} of " +
      s"${sample.length} sampled rows, e.g. ${bad.head}")
    else None
  }

  def iterate(tr: Tracer): RouteCounts = {
    val obs = Observation()
    val routed = tr.span("Router.routeObserved")(Router.routeObserved(df, plan, obs))
    val counts = tr.span("Router.sinkCounts")(Router.sinkCounts(routed))
    val out = tr.span("collect")(counts.collect())
    val (e, m, u) = tr.span("Observation.get")(observed(obs))
    RouteCounts(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap, e, m, u)
  }

  def check(r: RouteCounts): Option[String] = r.describeDiff(expected)

  def prefixes(tr: Tracer): Seq[Prefix] = {
    def routed = Router.routeObserved(df, plan, Observation())
    Seq(
      Prefix("scan", () => noop(df.select(col("source"), col("http.path")))),
      Prefix("route", () => noop(routed.select(Router.NewTag, Router.NewLabel))),
      Prefix("aggregate", () => noop(Router.sinkCounts(routed))))
  }

  def counters(r: RouteCounts): Map[String, Double] =
    routeCounters(r) + ("aggregate.sinks" -> r.sinks.size.toDouble)
}

/** `Checkpoint.runResumable` with row-level enrich and the salted fan-out
  * write: stop after half the ranges, then resume to completion.
  */
final class FanoutResume(val rows: Long) extends RoutedWorkload("fanout_resume") {
  type R = FanoutResume.Result
  val ranges = 2
  val salt = 8
  private var expected: RouteCounts = _
  private var lookup: DataFrame = _
  private var work: File = _
  private var iter = 0

  def generate(spark: SparkSession, dir: File, seed: Long): Unit =
    Gen.flagshipInput(spark, dir, rows, seed, Seq("doc_id", "tokens", "n_tok", "source"))

  override protected def prepared(spark: SparkSession, work: File): Unit = {
    lookup = Pipelines.tagLookup(spark)
    this.work = new File(work, "fanout")
    Gen.deleteTree(this.work)
    this.work.mkdirs()
  }

  def computeExpected(spark: SparkSession, dir: File): Unit =
    expected = oracleBySource(df, plan.rules, plan.config)
  def corruptExpected(): Unit = expected = corrupt(expected)

  private def run(out: File, maxRanges: Int): Checkpoint.RunSummary =
    Checkpoint.runResumable(spark, inputDir, out.getPath, plan, Some(lookup),
      numRanges = ranges, salt = salt, maxRangesThisRun = maxRanges)

  def iterate(tr: Tracer): R = {
    iter += 1
    val out = new File(work, s"iter-$iter")
    val first = tr.span("Checkpoint.runResumable(stop)")(run(out, ranges / 2))
    val second = tr.span("Checkpoint.runResumable(resume)")(run(out, Int.MaxValue))
    FanoutResume.Result(first, second, out)
  }

  private def totals(s: Seq[Checkpoint.RangeResult]): RouteCounts = RouteCounts(
    s.flatMap(_.sinkCounts.toSeq).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) =>
      val i = k.indexOf('/')
      (k.substring(0, i), k.substring(i + 1)) -> v
    }, s.map(_.emitted).sum, s.map(_.matched).sum, s.map(_.unmatched).sum)

  /** The resumed run's summary covers every range (half from manifests). */
  def check(r: R): Option[String] = {
    val ranGot = (r.first.processed, r.second.processed, r.second.skipped)
    if (ranGot != ((ranges / 2, ranges - ranges / 2, ranges / 2)))
      Some(s"ranges (stopped run, resumed run, resumed skipped) = $ranGot")
    else totals(r.second.ranges).describeDiff(expected)
  }

  override def written(r: R): Option[(Long, Long)] = {
    val files = Gen.dataFiles(new File(r.out, "data"))
    Some((files.size.toLong, files.map(_.length).sum))
  }

  override def cleanup(): Unit =
    Option(work.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("iter-") && f.getName != s"iter-$iter")
      .foreach(Gen.deleteTree)

  override def finish(): Unit = Gen.deleteTree(work)

  /** On the last iteration's output: one uninterrupted run gives the same
    * totals, and the rows written per sink carry the input's `tokens` by
    * `doc_id`.
    */
  override def runChecks(spark: SparkSession, last: R): Option[String] = {
    val full = run(new File(work, "uninterrupted"), Int.MaxValue)
    val resumed = totals(last.second.ranges)
    totals(full.ranges).describeDiff(resumed).map("uninterrupted vs resumed: " + _).orElse {
      val routes = expectedRoutes(spark)
      val written = spark.read.parquet(new File(last.out, "data").getPath)
        .select(col("doc_id"), col("tokens").as("w_tokens"),
          col("new_label_ns").cast("string").as("w_ns"), col("new_tag").cast("string").as("w_tag"))
      val joined = df.select("doc_id", "tokens", "source")
        .join(broadcast(routes), Seq("source"), "left")
        .join(written, Seq("doc_id"), "full_outer")
      val bad = joined.where(
        !(col("exp_tag").isNull && col("w_tag").isNull) && (
          col("exp_tag").isNull || col("w_tag").isNull ||
            col("exp_tag") =!= col("w_tag") || col("exp_ns") =!= col("w_ns") ||
            col("tokens").isNull || col("tokens") =!= col("w_tokens"))).count()
      val rowsWritten = written.count()
      if (bad != 0) Some(s"$bad written rows disagree with the input by doc_id")
      else if (rowsWritten != expected.kept) Some(s"$rowsWritten rows written, expected ${expected.kept}")
      else None
    }
  }

  /** (source, exp_ns, exp_tag) for every distinct source, from `Oracle`. */
  private def expectedRoutes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select("source").distinct().collect().map(_.getString(0)).toSeq.map { s =>
      val r = Oracle.route(plan.rules, plan.config, s, Map("source" -> s))
      (s, r.map(_._2.getOrElse(Router.DefaultLabel)).orNull, r.map(_._1).orNull)
    }.toDF("source", "exp_ns", "exp_tag")
  }

  private def prefixOut = new File(work, "prefix-fanout")

  def prefixes(tr: Tracer): Seq[Prefix] = {
    def routed = Router.routeObserved(df, plan, Observation())
    Seq(
      Prefix("scan", () => noop(df)),
      Prefix("route", () => noop(routed)),
      Prefix("enrich", () => noop(Router.enrich(routed, lookup))),
      Prefix("fanout",
        () => Router.writeFanOut(Router.enrich(routed, lookup), prefixOut.getPath, salt = salt),
        () => Gen.deleteTree(prefixOut)))
  }

  def counters(r: R): Map[String, Double] = {
    val ran = r.first.ranges.filter(!_.skipped) ++ r.second.ranges.filter(!_.skipped)
    routeCounters(totals(ran)) ++ Map(
      "checkpoint.ranges_run" -> (r.first.processed + r.second.processed).toDouble,
      "checkpoint.ranges_skipped" -> (r.first.skipped + r.second.skipped).toDouble)
  }
}

object FanoutResume {
  /** The stopped run, the resumed run, and the output directory. */
  final case class Result(first: Checkpoint.RunSummary, second: Checkpoint.RunSummary, out: File)
}

/** MinHash-LSH pairs, then connected components (no raw-graph driver
  * shortcut), over `Synth.documents` with planted groups of 8.
  */
final class DedupCluster(val rows: Long) extends Workload("dedup_cluster") {
  type R = Array[(Long, Long)]
  private var docs: DataFrame = _
  private var expectRows = 0L
  private var corrupted = false

  def generate(spark: SparkSession, dir: File, seed: Long): Unit =
    Synth.documents(spark, rows, seed, partitions = 8).write.parquet(new File(dir, "input").getPath)

  def prepare(spark: SparkSession, dir: File, work: File): Unit =
    docs = spark.read.parquet(new File(dir, "input").getPath)

  def computeExpected(spark: SparkSession, dir: File): Unit = expectRows = rows
  def corruptExpected(): Unit = corrupted = true

  def iterate(tr: Tracer): R = {
    val pairs = tr.span("Dedup.minHashLshPairs")(Dedup.minHashLshPairs(docs))
    val clusters = tr.span("Dedup.nearDupClusters")(
      Dedup.nearDupClusters(docs, pairs, driverSolveMaxEdges = 0L))
    val out = tr.span("collect")(clusters.select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    Dedup.releaseClusters(clusters)
    out
  }

  /** Planted structure: ids 8g..8g+2 are one exact-dup triple, 8g+3 a near
    * dup of it, 8g+4..8g+7 unique. No cluster may span two groups of 8, and
    * every triple must share one label.
    */
  def check(r: R): Option[String] = {
    val byCluster = r.groupBy(_._2)
    val spanning = byCluster.count { case (_, m) => m.map(_._1 / 8).distinct.length > 1 }
    val label = r.toMap
    val splitTriples = (0L until rows / 8).count { g =>
      Seq(8 * g, 8 * g + 1, 8 * g + 2).map(label.get).distinct.length != 1
    }
    val n = if (corrupted) expectRows + 1 else expectRows
    if (r.length != n) Some(s"${r.length} labelled docs, expected $n")
    else if (spanning > 0) Some(s"$spanning cluster(s) span more than one planted group")
    else if (splitTriples > 0) Some(s"$splitTriples planted exact-dup triple(s) split")
    else None
  }

  /** `lsh` consumes the whole pairs output (with `jaccard_ppm`); the
    * clustering reads only the ids, so its base is the ids-only prefix.
    */
  def prefixes(tr: Tracer): Seq[Prefix] = Seq(
    Prefix("scan", () => noop(docs)),
    Prefix("lsh", () => noop(Dedup.minHashLshPairs(docs))),
    Prefix("lsh_ids", () => noop(Dedup.minHashLshPairs(docs).select("id_a", "id_b")),
      base = Some("scan")),
    Prefix("cc", () => {
      val c = Dedup.nearDupClusters(docs, Dedup.minHashLshPairs(docs), driverSolveMaxEdges = 0L)
      noop(c)
      Dedup.releaseClusters(c)
    }))

  def counters(r: R): Map[String, Double] =
    Map("cc.clusters" -> r.groupBy(_._2).count(_._2.length > 1).toDouble)
}
