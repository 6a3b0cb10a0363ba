package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end flagship pipeline over the synthesized sequence table:
  * route → enrich → fan-out → per-sink counts, with the north star's two
  * row-level invariants — per-sink routed-row counts and exact token-array
  * equality on every routed row (BASELINE.json).
  */
class FlagshipSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val N = 5000L

  test("synthesis is deterministic and schema-exact") {
    val a = Synth.sequences(spark, 200).collect()
    val b = Synth.sequences(spark, 200).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    val df = Synth.sequences(spark, 200)
    assert(df.columns.toSeq == Seq("doc_id", "tokens", "n_tok", "source"))
    // n_tok invariant + length bounds
    assert(df.filter(size(col("tokens")) =!= col("n_tok")).count() == 0)
    assert(df.filter(col("n_tok") < 1 || col("n_tok") > Synth.maxLen).count() == 0)
    // skew: hot tag should dominate
    val hot = df.filter(col("source") === "td.apache.access").count()
    assert(hot > 40 && hot < 120, s"hot=$hot")
  }

  test("flagship per-sink counts match the scalar oracle exactly") {
    val df = Synth.sequences(spark, N).cache()
    val input = df.select("doc_id", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))

    // oracle-side expectation (record = {doc_id, source})
    val want = input.flatMap { case (docId, src) =>
      Oracle.route(Pipelines.flagshipRules, Pipelines.flagshipConfig, src,
        Map("doc_id" -> docId, "source" -> src))
    }.groupBy { case (tag, label) => (label.getOrElse("@default"), tag) }
      .view.mapValues(_.length.toLong).toMap

    val got = Pipelines.flagship(spark, df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // every pool tag routes somewhere except the dropped metrics.* rows
    assert(!got.keys.exists(_._2.startsWith("metrics.")))
    assert(want.values.sum < N) // some rows dropped
    df.unpersist()
  }

  test("token arrays pass through routing byte-identical") {
    val df = Synth.sequences(spark, 1000)
    val routed = Router.enrich(
      Router.route(df, Pipelines.flagshipPlan(df)), Pipelines.tagLookup(spark))
    val orig = df.select("doc_id", "tokens").collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val out = routed.select("doc_id", "tokens").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getSeq[Int](1) == orig(r.getString(0)),
        s"token mismatch for ${r.getString(0)}")
    }
  }

  test("enrichment join is broadcast and attaches lookup attrs") {
    val df = Synth.sequences(spark, 1000)
    val routed = Router.enrich(
      Router.route(df, Pipelines.flagshipPlan(df)), Pipelines.tagLookup(spark))
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    val apache = routed.filter(col("new_tag") === "site.apache.access")
      .select("sink_name").distinct().collect().map(_.getString(0))
    assert(apache.toSeq == Seq("apache-access-sink"))
    // unmatched tags keep null enrichment (left join)
    val un = routed.filter(col("new_tag").startsWith("unmatched."))
      .select("sink_name").distinct().collect().map(_.getString(0))
    assert(un.toSeq == Seq(null))
  }

  test("fan-out write: per-(label,tag) directories, salted, counts add up") {
    val dir = Files.createTempDirectory("graft-fanout").toString
    val df = Synth.sequences(spark, N)
    val routed = Router.route(df, Pipelines.flagshipPlan(df))
    Router.writeFanOut(routed, dir, salt = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == routed.count())
    // partition columns round-trip (label namespace + tag)
    val sinks = back.select("new_label_ns", "new_tag").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(sinks.contains(("k8s", "k8s.kubernetes.var.log")))
    assert(sinks.contains(("@default", "site.apache.access")))
    assert(sinks.contains(("relabel", "input")))
    // hot-tag salting: the ~40%-of-rows tag must spread over MULTIPLE write
    // tasks/files (north rule: salted repartitioning for skewed tags) — an
    // unsalted repartition(tag) would funnel it into exactly one file
    val hotDir = new java.io.File(
      s"$dir/new_label_ns=@default/new_tag=site.apache.access")
    val hotFiles = Option(hotDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
    assert(hotFiles >= 2, s"hot tag written by $hotFiles task(s), salt=4")
    // token identity through the parquet round-trip on a sample sink
    val a = routed.filter(col("new_tag") === "site.Nginx-Access")
      .select("doc_id", "tokens").collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val b = back.filter(col("new_tag") === "site.Nginx-Access")
      .select("doc_id", "tokens").collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
  }

  test("driver contract: SparkEntry.entry returns rows (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every query has an oracle, every oracle a query") {
    // a query without an oracle is a null correctness signal to the driver
    // (the round-1 "no_oracle" gap) — keep the two maps key-identical
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"queries without oracle: ${q.diff(o)}; oracles without query: ${o.diff(q)}")
    assert(q.nonEmpty)
  }

  test("flagship metrics triple") {
    val df = Synth.sequences(spark, 2000)
    val obs = org.apache.spark.sql.Observation()
    val routed = Router.routeObserved(df, Pipelines.flagshipPlan(df), obs)
    val counts = Router.enrichCounts(Router.sinkCounts(routed), Pipelines.tagLookup(spark))
      .collect()
    val metrics = obs.get
    assert(metrics("emitted") == 2000L)
    val matched = metrics("matched").asInstanceOf[Long]
    val unmatched = metrics("unmatched").asInstanceOf[Long]
    assert(matched + unmatched >= 2000L) // matched counts fired rules; drop overlap
    assert(counts.map(_.getLong(2)).sum == 2000L - unmatched)
  }
}
