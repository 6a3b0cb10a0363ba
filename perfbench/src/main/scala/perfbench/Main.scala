package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The routing benchmark. One run: seeded inputs (written once, outside all
  * timing), several timed set-ups, untimed settling iterations, a timed loop
  * of checked iterations, and run-level output checks. With `--trace 0` it reports the end-to-end
  * metrics; with `--trace 1` it measures untraced and traced iterations and
  * the prefix chain, and reports the per-layer metrics. The last stdout line
  * is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
  *
  * {{{
  * Main --workload flagship_agg --seed 1 --seconds 10 --trace 0
  *      --data-dir D --work-dir W [--trace-dir T] [--corrupt 1]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dataDir: File, workDir: File, traceDir: File, corrupt: Boolean)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", new File(req("data-dir")), new File(req("work-dir")),
      new File(kv.getOrElse("trace-dir", req("work-dir"))), kv.getOrElse("corrupt", "0") == "1")
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The end-to-end metrics of an untraced run, with their units. */
  val endToEnd: Seq[(String, String)] =
    Seq("rows_per_s" -> "1/s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      // no .crc side files on the local file system
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try run(a)
      catch {
        case e: Exception =>
          System.err.println(s"perfbench: ${Runner.oneLine(e)}")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workloads(a.workload)
    a.workDir.mkdirs()

    // ---- set-up, several times; input generation excluded ----------------
    var spark = session(a.workDir)
    val genStart = System.nanoTime()
    val dir = Gen.once(a.dataDir, wl.name, wl.rows, a.seed)(d => wl.generate(spark, d, a.seed))
    val genS = (System.nanoTime() - genStart) / 1e9
    val off = new Tracer(spark, enabled = false) // tracing off: spans only run their body
    wl.prepare(spark, dir, a.workDir)
    var warm = wl.iterate(off)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3 - genS)
    val loadMs = mutable.ArrayBuffer(wl.loadMs)
    val compileMs = mutable.ArrayBuffer(wl.compileMs)

    wl.computeExpected(spark, dir)
    if (a.corrupt) wl.corruptExpected()
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def checkWarm(): Unit = {
      attempted += 1
      wl.check(warm).foreach { e => failed += 1; errors += "warm-up: " + e }
      wl.cleanup()
    }
    checkWarm()
    for (_ <- 2 to Setups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.workDir)
      wl.prepare(spark, dir, a.workDir)
      warm = wl.iterate(off)
      setups += (System.nanoTime() - t0) / 1e9
      loadMs += wl.loadMs
      compileMs += wl.compileMs
      checkWarm()
    }

    // ---- timed iterations ---------------------------------------------------
    var last: Option[wl.R] = None
    val written = mutable.ArrayBuffer.empty[(Long, Long)]
    def checked(r: wl.R): Option[String] = {
      last = Some(r)
      wl.written(r).foreach(written += _)
      wl.check(r)
    }
    def count(m: Measured): Unit = {
      attempted += m.attempted
      failed += m.failed
      errors ++= m.errors
    }
    // JIT settling: walls keep falling for a dozen iterations after the
    // set-ups' warm-ups; these iterations are checked but not timed
    count(Runner.loop(a.seconds / 4, minIters = 1, maxIters = 10000)(
      _ => wl.iterate(off))(checked)(() => wl.cleanup()))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    val plainWalls =
      if (!a.trace) {
        val plain = Runner.loop(a.seconds, minIters = 3, maxIters = 10000)(
          _ => wl.iterate(off))(checked)(() => wl.cleanup())
        count(plain)
        plain.walls
      } else {
        // untraced and traced iterations alternate, so drift and JIT warm-up
        // hit both alike; listeners are registered for traced ones only
        val tr = new Tracer(spark, enabled = true)
        val iterSpans = mutable.ArrayBuffer.empty[Span]
        val iterActions = mutable.ArrayBuffer.empty[Seq[ActionRecord]]
        val both = Runner.loop(a.seconds, minIters = 4, maxIters = 10000) { i =>
          tr.stop() // a traced iteration that threw left them registered
          if (i % 2 == 0) (wl.iterate(off), None)
          else {
            tr.start()
            val (r, s) = tr.spanned(wl.name + ".iteration")(wl.iterate(tr))
            (r, Some(s))
          }
        } { case (r, span) =>
          span.foreach { s =>
            tr.stop() // delivers the iteration's events first
            iterSpans += s
            iterActions += tr.takeActions()
          }
          checked(r)
        }(() => wl.cleanup())
        count(both)
        val (plain, traced) = both.passed.zip(both.walls).partition(_._1 % 2 == 0)

        // cumulative plans, each its own action, interleaved so drift hits
        // every prefix alike; a layer's self time is its prefix minus its base
        tr.start()
        val prefixWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
        val prefixWork = mutable.Map.empty[String, SpanWork]
        val prefixActions = mutable.Map.empty[String, Seq[ActionRecord]]
        val chain = wl.prefixes(tr)
        for (_ <- 1 to 3; p <- chain) {
          val (_, s) = tr.spanned("prefix." + p.layer)(p.run())
          tr.drain()
          p.after()
          prefixActions(p.layer) = tr.takeActions()
          prefixWork(p.layer) = tr.workUnder(s)
          prefixWalls.getOrElseUpdate(p.layer, mutable.ArrayBuffer.empty) += s.seconds
        }
        tr.stop()
        a.traceDir.mkdirs()
        Gen.writeText(new File(a.traceDir, s"${wl.name}-s${a.seed}.json"), tr.toJson)

        def med(xs: Seq[(Int, Double)]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_._2))
        layer ++= Layers.metrics(wl, cores, Layers.Inputs(
          loadMs.toSeq, compileMs.toSeq, iterSpans.toSeq, iterActions.toSeq, tr,
          chain.map(p => (p.layer, Stats.median(prefixWalls(p.layer).toSeq), p.base)),
          prefixWork.toMap, prefixActions.toMap, med(plain), med(traced),
          last.map(wl.counters).getOrElse(Map.empty), written.lastOption))
        plain.map(_._2).toVector
      }

    // ---- run-level checks on the last iteration's output ----------------------
    last.flatMap(r => wl.runChecks(spark, r)).foreach { e =>
      failed += 1 // the last iteration's output is wrong after all
      errors += "run check: " + e
    }
    wl.finish()
    val rss = peakRssMb()
    spark.stop()

    // ---- report ----------------------------------------------------------------
    errors.take(5).foreach(e => System.err.println(s"perfbench: FAILED $e"))
    val medWall = if (plainWalls.isEmpty) None else Some(Stats.median(plainWalls))
    val e2eValues = Map(
      "rows_per_s" -> medWall.map(wl.rows / _).getOrElse(0.0),
      "setup_s" -> Stats.median(setups.toSeq),
      "peak_rss_mb" -> rss)
    val e2e = endToEnd.map { case (k, u) => k -> (e2eValues(k), u) }
    val extra = Seq(
      "failed_ratio" -> (Stats.failedRatio(failed, attempted), "ratio"),
      "out_bytes_per_row" -> (written.lastOption.map(_._2.toDouble / wl.rows).getOrElse(Double.NaN), "B/row"),
      "out_files" -> (written.lastOption.map(_._1.toDouble).getOrElse(Double.NaN), "count"))
    println(f"perfbench ${wl.name} seed=${a.seed} rows=${wl.rows} cores=$cores " +
      f"iterations=${plainWalls.size} median_wall_s=${medWall.getOrElse(Double.NaN)}%.4f " +
      f"setups_s=${setups.map(s => f"$s%.3f").mkString("[", ",", "]")} input_gen_s=$genS%.2f")
    println(s"  iteration walls (s): ${plainWalls.map(w => f"$w%.3f").mkString(" ")}")
    (e2e ++ extra).foreach { case (k, (v, u)) =>
      println(f"  $k%-18s ${if (v.isNaN) "n/a (no output written)" else f"$v%.6g"} $u")
    }
    if (a.trace) layer.foreach { case (k, v) => println(f"  $k%-26s $v%.6g ${Layers.unit(k)}") }
    val metrics =
      if (a.trace) layer.toSeq.map { case (k, v) => k -> (v, Layers.unit(k)) }
      else e2e
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }
}
