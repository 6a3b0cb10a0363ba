package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.expressions.JaccardPpmExpr
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.StructType

/** The per-layer metrics of a traced run, assembled from the traced
  * iterations, the prefix chain and the executed plans.
  */
object Layers {

  /** Every per-layer metric, in report order, with its unit. Layers that a
    * workload does not run report 0.
    */
  val units: Seq[(String, String)] = Seq(
    "rule_table.load_ms" -> "ms", "rule_table.compile_ms" -> "ms", "rule_table.rules" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimizer_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.actions" -> "count",
    "scan.self_s" -> "s", "scan.bytes" -> "B", "scan.rows" -> "count",
    "route.self_s" -> "s", "route.rows_in" -> "count", "route.matched" -> "count",
    "route.unmatched" -> "count", "route.kept" -> "count", "route.kept_ratio" -> "ratio",
    "aggregate.self_s" -> "s", "aggregate.shuffle_bytes" -> "B", "aggregate.sinks" -> "count",
    "enrich.self_s" -> "s",
    "fanout.self_s" -> "s", "fanout.shuffle_bytes" -> "B", "fanout.write_bytes" -> "B",
    "fanout.files" -> "count", "fanout.task_skew" -> "ratio",
    "checkpoint.driver_s" -> "s", "checkpoint.ranges_run" -> "count",
    "checkpoint.ranges_skipped" -> "count",
    "lsh.self_s" -> "s", "lsh.candidates" -> "count", "lsh.pairs" -> "count",
    "lsh.verify_ratio" -> "ratio", "lsh.shuffle_bytes" -> "B",
    "cc.self_s" -> "s", "cc.jobs" -> "count", "cc.clusters" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.spill_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.task_skew" -> "ratio", "spark.failed_tasks" -> "count", "spark.core_util" -> "ratio",
    "trace.overhead_ratio" -> "ratio",
    "iteration.wall_s" -> "s", "iteration.gap_s" -> "s")

  private val unitOf = units.toMap
  def unit(name: String): String = unitOf(name)

  final case class Inputs(
      loadMs: Seq[Double],
      compileMs: Seq[Double],
      iterSpans: Seq[Span],
      iterActions: Seq[Seq[ActionRecord]],
      tracer: Tracer,
      prefixWalls: Seq[(String, Double, Option[String])],
      prefixWork: Map[String, SpanWork],
      prefixActions: Map[String, Seq[ActionRecord]],
      plainWall: Double,
      tracedWall: Double,
      counters: Map[String, Double],
      written: Option[(Long, Long)])

  def metrics(wl: Workload, cores: Int, in: Inputs): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap(units.map(_._1 -> 0.0): _*)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    m("rule_table.load_ms") = med(in.loadMs)
    m("rule_table.compile_ms") = med(in.compileMs)
    m("rule_table.rules") = wl.ruleCount

    m("catalyst.analysis_ms") = med(in.iterActions.map(_.map(_.analysisMs).sum.toDouble))
    m("catalyst.optimizer_ms") = med(in.iterActions.map(_.map(_.optimizerMs).sum.toDouble))
    m("catalyst.planning_ms") = med(in.iterActions.map(_.map(_.planningMs).sum.toDouble))
    m("catalyst.actions") = med(in.iterActions.map(_.size.toDouble))

    Stats.prefixSelfTimes(in.prefixWalls).foreach { case (l, s) =>
      if (m.contains(s"$l.self_s")) m(s"$l.self_s") = s
    }
    def work(l: String) = in.prefixWork.getOrElse(l, new SpanWork)
    def shuffleOver(l: String, below: String) =
      (work(l).shuffleWriteBytes - work(below).shuffleWriteBytes).toDouble
    val layers = in.prefixWalls.map(_._1).toSet
    m("scan.bytes") = scanColumnBytes(in.prefixActions.getOrElse("scan", Nil)).toDouble
    m("scan.rows") = work("scan").inputRecords.toDouble
    if (layers("aggregate")) m("aggregate.shuffle_bytes") = shuffleOver("aggregate", "route")
    if (layers("fanout")) {
      m("fanout.shuffle_bytes") = shuffleOver("fanout", "enrich")
      m("fanout.write_bytes") = work("fanout").outputBytes.toDouble
      m("fanout.task_skew") = work("fanout").writeSkew
      in.written.foreach { case (files, _) => m("fanout.files") = files.toDouble }
    }
    if (layers("lsh")) {
      m("lsh.shuffle_bytes") = shuffleOver("lsh", "scan")
      verifyCounts(in.prefixActions.getOrElse("lsh", Nil)).foreach { case (cand, pairs) =>
        m("lsh.candidates") = cand.toDouble
        m("lsh.pairs") = pairs.toDouble
        m("lsh.verify_ratio") = if (cand == 0) 0.0 else pairs.toDouble / cand
      }
    }
    if (layers("cc")) m("cc.jobs") = (work("cc").jobs - work("lsh_ids").jobs).toDouble

    m ++= in.counters

    val iterWork = in.iterSpans.map(s => (s, in.tracer.workUnder(s)))
    if (in.counters.contains("checkpoint.ranges_run"))
      m("checkpoint.driver_s") = med(iterWork.map { case (s, w) =>
        val clipped = w.jobIntervals.toSeq.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        (s.endMs - s.startMs - Stats.coverage(clipped)) / 1e3
      })
    def sparkMed(f: (Span, SpanWork) => Double) = med(iterWork.map { case (s, w) => f(s, w) })
    m("spark.jobs") = sparkMed((_, w) => w.jobs)
    m("spark.stages") = sparkMed((_, w) => w.stages)
    m("spark.tasks") = sparkMed((_, w) => w.tasks)
    m("spark.task_cpu_s") = sparkMed((_, w) => w.cpuNs / 1e9)
    m("spark.gc_s") = sparkMed((_, w) => w.gcMs / 1e3)
    m("spark.sched_delay_s") = sparkMed((_, w) => w.schedDelayMs / 1e3)
    m("spark.spill_bytes") = sparkMed((_, w) => w.spillBytes.toDouble)
    m("spark.shuffle_write_bytes") = sparkMed((_, w) => w.shuffleWriteBytes.toDouble)
    m("spark.task_skew") = sparkMed((_, w) => w.taskSkew)
    m("spark.failed_tasks") = sparkMed((_, w) => w.failedTasks)
    m("spark.core_util") = sparkMed((s, w) => w.cpuNs / 1e9 / (s.seconds * cores))

    m("trace.overhead_ratio") = if (in.plainWall > 0) in.tracedWall / in.plainWall else 0.0
    m("iteration.wall_s") = in.plainWall
    m("iteration.gap_s") = in.plainWall - in.prefixWalls.lastOption.map(_._2).getOrElse(0.0)
    m
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Paths of the leaves a read schema selects; a non-struct field is one
    * leaf however parquet nests it (lists, maps).
    */
  def leafPaths(st: StructType): Seq[Seq[String]] = st.fields.toSeq.flatMap { f =>
    f.dataType match {
      case s: StructType => leafPaths(s).map(f.name +: _)
      case _             => Seq(Seq(f.name))
    }
  }

  /** Compressed bytes of the parquet column chunks the file scans of
    * `actions` select, from the files' footers. (The task input metric
    * misses reads the parquet reader does off the task thread.)
    */
  def scanColumnBytes(actions: Seq[ActionRecord]): Long =
    actions.flatMap(a => Walk.collect(a.qe.executedPlan) { case s: FileSourceScanExec => s })
      .map { scan =>
        val leaves = leafPaths(scan.requiredSchema)
        val conf = scan.relation.sparkSession.sessionState.newHadoopConf()
        scan.relation.location.inputFiles.toSeq.map { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .filter(c => leaves.exists(l => c.getPath.toArray.toSeq.startsWith(l)))
            .map(_.getTotalSize).sum
          finally reader.close()
        }.sum
      }.sum

  /** Rows of the first node at or below `p` that counts its output rows. */
  private def outputRows(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec        => outputRows(q.plan)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.headOption.flatMap(outputRows))
  }

  /** (candidates, verified pairs) of the MinHash verify: the join whose
    * condition computes `jaccard_ppm` outputs the pairs; its input side that
    * carries `id_a` holds the candidates.
    */
  def verifyCounts(actions: Seq[ActionRecord]): Option[(Long, Long)] =
    actions.iterator.flatMap { a =>
      Walk.collect(a.qe.executedPlan) {
        case j: BaseJoinExec if j.condition.exists(_.exists(_.isInstanceOf[JaccardPpmExpr])) => j
      }
    }.toSeq.headOption.flatMap { j =>
      val side = j.children.find(_.output.exists(_.name == "id_a"))
      for (cand <- side.flatMap(outputRows); pairs <- outputRows(j)) yield (cand, pairs)
    }
}
