package perfbench

import java.io.File
import java.nio.file.Files

import graft.{Oracle, RuleTableLoader}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload at a small size: its output check passes on the real
  * program, and a corrupted expectation makes it fail.
  */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val tmp = Files.createTempDirectory("perfbench-test").toFile
  private val off = () => new Tracer(spark, enabled = false)

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(tmp)
  }

  private def prepared(name: String, rows: Long, seed: Long = 7L): (Workload, File) = {
    val wl = Workloads(name, Some(rows))
    val dir = Gen.once(new File(tmp, "data"), wl.name, rows, seed)(d => wl.generate(spark, d, seed))
    wl.prepare(spark, dir, new File(tmp, "work"))
    wl.computeExpected(spark, dir)
    (wl, dir)
  }

  test("flagship_agg: counts equal Oracle per distinct source; a corrupted count fails") {
    val (wl, _) = prepared("flagship_agg", 20000)
    val r = wl.iterate(off())
    assert(wl.check(r).isEmpty)
    assert(wl.ruleCount == 7)
    wl.corruptExpected()
    assert(wl.check(r).exists(_.contains("sink(s) differ")))
  }

  test("deep_rules: the conf loads ~64 rules and every planted route equals Oracle's") {
    val (wl, dir) = prepared("deep_rules", 3000)
    val (rules, cfg) = RuleTableLoader.fromConfFile(new File(dir, "rules.conf").getPath)
    assert(rules.size == 64 && rules == Gen.deepRules(7L)._1)
    val rows = spark.read.parquet(new File(dir, "input").getPath)
      .select("source", "http.path", "expect_ns", "expect_tag").collect()
    rows.foreach { row =>
      val rec = Map[String, Any]("source" -> row.getString(0),
        "http" -> Map[String, Any]("path" -> row.getString(1)))
      val got = Oracle.route(rules, cfg, row.getString(0), rec)
        .map { case (t, l) => (t, l.getOrElse("@default")) }
      assert(got == Option(row.getString(3)).map(t => (t, row.getString(2))), s"row $row")
    }
    val late = rows.count(r => r.getString(1).startsWith("/api/") || !r.getString(0).startsWith("app"))
    assert(late > rows.length * 0.9, "most rows fire past the source rules")
    val r = wl.iterate(off())
    assert(wl.check(r).isEmpty)
    assert(wl.runChecks(spark, r).isEmpty)
    wl.corruptExpected()
    assert(wl.check(r).isDefined)
  }

  test("fanout_resume: resumed totals, uninterrupted totals and tokens by doc_id") {
    val (wl, _) = prepared("fanout_resume", 4000)
    val r = wl.iterate(off())
    assert(wl.check(r).isEmpty)
    assert(wl.written(r).exists { case (files, bytes) => files > 0 && bytes > 0 })
    assert(wl.counters(r)("checkpoint.ranges_run") == 2.0) // one range stopped, one resumed
    assert(wl.runChecks(spark, r).isEmpty)
    wl.corruptExpected()
    assert(wl.check(r).isDefined)
    wl.finish()
  }

  test("dedup_cluster: clusters stay inside their planted groups of 8") {
    val (wl, _) = prepared("dedup_cluster", 800)
    val r = wl.iterate(off())
    assert(wl.check(r).isEmpty)
    assert(wl.counters(r)("cc.clusters") == 100.0)
    wl.corruptExpected()
    assert(wl.check(r).isDefined)
  }

  test("traced: jobs attach to the open span; plan phases and verify counts are read") {
    val (wl, _) = prepared("dedup_cluster", 800)
    val tr = new Tracer(spark, enabled = true)
    tr.start()
    val byLayer = wl.prefixes(tr).map { p =>
      val (_, s) = tr.spanned("prefix." + p.layer)(p.run())
      tr.drain()
      p.layer -> (s, tr.takeActions())
    }.toMap
    tr.stop()
    val (lshSpan, lshActions) = byLayer("lsh")
    assert(tr.workUnder(lshSpan).jobs > 0 && tr.workUnder(lshSpan).tasks > 0)
    assert(lshActions.nonEmpty && lshActions.forall(_.optimizerMs >= 0))
    val (cand, pairs) = Layers.verifyCounts(lshActions).getOrElse(fail("no verify join found"))
    assert(cand >= pairs && pairs == 600L) // 100 groups × C(4, 2) near-dup pairs
    assert(Layers.scanColumnBytes(byLayer("scan")._2) > 0)
    assert(tr.toJson.contains("\"name\":\"prefix.cc\""))
  }

  test("the scan prefix reads only the routed column") {
    val (wl, dir) = prepared("flagship_agg", 20000)
    val tr = new Tracer(spark, enabled = true)
    tr.start()
    def bytes(run: () => Unit) = {
      tr.spanned("scan")(run())
      tr.drain()
      Layers.scanColumnBytes(tr.takeActions())
    }
    val routed = bytes(wl.prefixes(tr).head.run)
    val all = bytes(() => spark.read.parquet(new File(dir, "input").getPath)
      .write.format("noop").mode("overwrite").save())
    tr.stop()
    assert(routed > 0 && routed * 2 < all)
  }
}
