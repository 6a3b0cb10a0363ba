package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval around a call into the program, with the span
  * that was open when it started (`parent`, 0 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor-side work the listener attributed to one span: every job that
  * started while the span was the innermost open one (the span id rides as
  * the job group), with its stages and tasks.
  */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStartMs = mutable.Map.empty[Int, Long]
  /** task run times (ms) per stage, for skew */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  val stageOutputBytes = mutable.Map.empty[Int, Long]

  def add(o: SpanWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; spillBytes += o.spillBytes
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
    jobIntervals ++= o.jobIntervals
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    o.stageOutputBytes.foreach { case (k, v) => stageOutputBytes(k) = stageOutputBytes.getOrElse(k, 0L) + v }
  }

  /** Skew of the stage with the most task time: its longest task over its
    * median task.
    */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0 else Stats.skew(stageTaskMs.values.maxBy(_.sum).toSeq)

  /** Skew of the stage that wrote the most output bytes (a write stage). */
  def writeSkew: Double =
    stageOutputBytes.filter(_._2 > 0).maxByOption(_._2)
      .flatMap { case (st, _) => stageTaskMs.get(st) }
      .map(d => Stats.skew(d.toSeq)).getOrElse(0.0)
}

/** A planned-and-executed action seen by the query-execution listener. */
final case class ActionRecord(funcName: String, analysisMs: Long,
    optimizerMs: Long, planningMs: Long, qe: QueryExecution)

/** In-memory spans plus the two listeners the traced run registers: a
  * [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] for the plan phases and the executed plan of
  * each action. With `enabled = false` a span only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val work = mutable.Map.empty[Int, SpanWork]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val actions = mutable.ArrayBuffer.empty[ActionRecord]
  private val Group = "perfbench-span-"
  private val JobGroupKey = "spark.jobGroup.id" // SparkContext.SPARK_JOB_GROUP_ID

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .filter(_.startsWith(Group)).map(_.stripPrefix(Group).toInt).getOrElse(0)

  private def workOf(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = s
      val w = workOf(s)
      w.jobs += 1
      w.jobStartMs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        val w = workOf(s)
        w.jobStartMs.remove(e.jobId).foreach(st => w.jobIntervals += ((st, e.time)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      workOf(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val w = workOf(stageSpan.getOrElse(e.stageId, 0))
      w.tasks += 1
      val info = e.taskInfo
      if (info.failed || info.killed) w.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRecords += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.stageOutputBytes(e.stageId) =
          w.stageOutputBytes.getOrElse(e.stageId, 0L) + m.outputMetrics.bytesWritten
        // the UI's definition: launch-to-finish minus what the task itself
        // spent running, deserializing, serializing and fetching its result
        w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime.toDouble
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        actions += ActionRecord(funcName, ms(QueryPlanningTracker.ANALYSIS),
          ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING), qe)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var listening = false

  /** Register the listeners (idempotent). */
  def start(): Unit = if (enabled && !listening) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    listening = true
  }

  /** Deliver pending events, then unregister the listeners (idempotent). */
  def stop(): Unit = if (listening) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    listening = false
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) BusDrain(sc)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body else spanned(name)(body)._1

  /** Like [[span]] (tracing on), also returning the closed span. */
  def spanned[A](name: String)(body: => A): (A, Span) = {
    val s = Span(spanBuf.size + 1, name, open.headOption.map(_.id).getOrElse(0),
      System.nanoTime(), System.currentTimeMillis())
    spanBuf += s
    open = s :: open
    sc.setJobGroup(Group + s.id, name, interruptOnCancel = false)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Group + p.id, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Executor work of a span and every span below it (call after [[drain]]). */
  def workUnder(span: Span): SpanWork = synchronized {
    val ids = mutable.Set(span.id)
    spanBuf.foreach(s => if (ids.contains(s.parent)) ids += s.id) // parents precede children
    val total = new SpanWork
    ids.foreach(i => work.get(i).foreach(total.add))
    total
  }

  /** Self time of a span: duration minus what its child spans cover. */
  def selfSeconds(span: Span): Double =
    Stats.selfTime(span.startNs, span.endNs,
      spanBuf.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)).toSeq) / 1e9

  /** Actions completed since the last call (call after [[drain]]). */
  def takeActions(): Seq[ActionRecord] = synchronized {
    val out = actions.toSeq
    actions.clear()
    out
  }

  /** Spans and their attributed work as one JSON document. */
  def toJson: String = synchronized {
    val rows = spanBuf.map { s =>
      val w = work.getOrElse(s.id, new SpanWork)
      f"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        f""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        f""""task_cpu_s":${w.cpuNs / 1e9}%.6f,"shuffle_write_bytes":${w.shuffleWriteBytes}}"""
    }
    rows.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  /** A finite double with all its digits (JSON has no NaN or infinity). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
