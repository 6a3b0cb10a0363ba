package graft

import graft.streaming.StreamRouter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming face must route exactly like batch: same plan object, same
  * per-row results, per-sink counts equal to the batch aggregate, and the
  * fan-out file sink laying out one directory per (label_ns, tag).
  */
class StreamRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rules = Seq(
    Rule("source", "^td\\.(\\w+)\\.access$", "site.$1"),
    Rule("source", "^metrics\\.", "${tag}"), // unchanged → dropped
    Rule("source", "^$", "other.${tag_parts[0]}", invert = true))

  private def rows = Seq(
    ("d1", "td.apache.access"),
    ("d2", "td.nginx.access"),
    ("d3", "metrics.node.cpu"), // dropped
    ("d4", "game.production.api"),
    ("d5", "td.apache.access"))

  test("streaming route ≡ batch route, row for row") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF.toDF("doc_id", "source")
    val routed = Router.route(stream, rules)
    mem.addData(rows: _*) // before start: AvailableNow snapshots offsets
    val q = routed.writeStream.format("memory").queryName("routed_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("routed_stream")
      .select("doc_id", "new_tag").as[(String, String)].collect().toSet
    val batch = Router.route(rows.toDF("doc_id", "source"), rules)
      .select("doc_id", "new_tag").as[(String, String)].collect().toSet
    assert(got == batch)
    assert(got == Set(
      ("d1", "site.apache"), ("d2", "site.nginx"),
      ("d4", "other.game"), ("d5", "site.apache")))
  }

  test("streaming exact dedup: first arrival kept, watermark bounds state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val stream = mem.toDF.toDF("doc_id", "ts", "text")
    val deduped = StreamRouter.dedupExact(stream, "ts", "10 seconds")
    mem.addData(
      ("a1", ts(0), "same content"),
      ("a2", ts(1), "same content"), // dup within watermark → dropped
      ("b1", ts(2), "other content"),
      ("a3", ts(3), "same content")) // dup → dropped
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("dedup_stream").select("doc_id")
      .as[String].collect().toSet
    assert(kept == Set("a1", "b1"))
    // text column untouched; fingerprint helper column removed
    assert(spark.table("dedup_stream").columns.toSeq == Seq("doc_id", "ts", "text"))
  }

  test("streaming embed dedup: re-scaled duplicate vectors dropped, state keys on fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Array[Float])]
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val stream = mem.toDF.toDF("vec_id", "ts", "embedding")
    val deduped = StreamRouter.dedupEmbed(stream, "ts", "10 seconds")
    mem.addData(
      ("v1", ts(0), Array(0.5f, -1.0f)),
      ("v2", ts(1), Array(1.0f, -2.0f)), // re-scaled copy of v1 → dropped
      ("v3", ts(2), Array(1.0f, 1.0f)),
      ("v4", ts(3), Array(0.5f, -1.0f))) // exact copy of v1 → dropped
    val q = deduped.writeStream.format("memory").queryName("embed_dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("embed_dedup_stream").select("vec_id")
      .as[String].collect().toSet
    assert(kept == Set("v1", "v3"))
    // helper columns removed; embedding untouched
    assert(spark.table("embed_dedup_stream").columns.toSeq ==
      Seq("vec_id", "ts", "embedding"))
  }

  test("streaming per-sink counts converge to the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val routed = Router.route(mem.toDF.toDF("doc_id", "source"), rules)
    mem.addData(rows: _*)
    val q = Router.sinkCounts(routed)
      .writeStream.format("memory").queryName("sink_counts_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sink_counts_stream")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("@default", "site.apache", 2L),
      ("@default", "site.nginx", 1L),
      ("@default", "other.game", 1L)))
  }

  test("streaming fan-out write: one directory per sink, exactly-once layout") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[(String, String)]
    val routed = Router.route(mem.toDF.toDF("doc_id", "source"), rules)
    mem.addData(rows: _*)
    val q = StreamRouter
      .writeFanOut(routed, s"$dir/data", s"$dir/ckpt", Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val out = spark.read.parquet(s"$dir/data")
    val sinks = out.select("new_label_ns", "new_tag").distinct()
      .as[(String, String)].collect().toSet
    assert(sinks == Set(
      ("@default", "site.apache"), ("@default", "site.nginx"),
      ("@default", "other.game")))
    assert(out.count() == 4)
    val apacheDir = new java.io.File(s"$dir/data/new_label_ns=@default/new_tag=site.apache")
    assert(apacheDir.isDirectory)
  }

  test("streaming decontamination ≡ batch decontaminate, stateless") {
    implicit val sqlCtx = spark.sqlContext
    val leak = "one two three four five six seven eight nine ten"
    val evalDocs = Seq(("e1", leak)).toDF("doc_id", "text")
    val corpus = Seq(
      ("c1", s"prefix $leak suffix words"), // all 3 eval spans
      ("c2", "one two three four five six seven eight different tail"), // 1
      ("c3", "entirely clean document with no overlap whatsoever in it"),
      ("c4", "short")) // < k words → empty span set
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    val flagged = StreamRouter.decontaminate(stream, evalDocs)
    mem.addData(corpus: _*)
    val q = flagged.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("decon_stream")
      .select("doc_id", "n_overlap").as[(String, Long)].collect().toMap
    assert(got == Map("c1" -> 3L, "c2" -> 1L, "c3" -> 0L, "c4" -> 0L))
    // batch equivalence on the contaminated subset (batch emits only
    // contaminated docs; the stream annotates every row)
    val batch = graft.dedup.Dedup.decontaminate(
      corpus.toDF("doc_id", "text"), evalDocs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch == got.filter(_._2 > 0L))
  }

  test("streaming incremental dedup ≡ batch incrementalExact, stateless stream-static join") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(("c2", "alpha"), ("c1", "alpha"), ("c3", "beta"))
      .toDF("doc_id", "text")
    val fresh = Seq(("n1", "alpha"), ("n2", "gamma"), ("n3", "beta"))
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    val out = graft.dedup.Dedup.incrementalExact(stream, corpus)
    mem.addData(fresh: _*)
    val q = out.writeStream.format("memory").queryName("incdedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("incdedup_stream")
      .select("doc_id", "corpus_keeper", "in_corpus")
      .as[(String, String, Boolean)].collect().toSet
    val batch = graft.dedup.Dedup.incrementalExact(
      fresh.toDF("doc_id", "text"), corpus)
      .select("doc_id", "corpus_keeper", "in_corpus")
      .as[(String, String, Boolean)].collect().toSet
    assert(got == batch && got == Set(
      ("n1", "c1", true), ("n2", "-1", false), ("n3", "c3", true)))
  }

  test("streaming incremental NEAR-dup ≡ batch LSH probe on closed batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.{CorpusArtifacts, Dedup}
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val corpus = Seq(
      ("c1", "the quick brown fox jumps over the lazy dog again today"),
      ("c2", "a completely different corpus document about spark planning"),
      ("c3", "the quick brown fox jumps over the lazy dog again tomorrow"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      ("n1", ts(100), "the quick brown fox jumps over the lazy dog again today"),
      ("n2", ts(110), "nothing like anything sealed whatsoever in this corpus"),
      ("n3", ts(120), "the quick brown fox jumps over the lazy dog again yesterday"))
    val spec = CorpusArtifacts.NearDupSpec(
      numHashes = 16, bands = 4, shingleSize = 3, maxBucket = 100)
    val (bandT, setsT) = CorpusArtifacts.nearDupCorpusTables(corpus, spec)
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val stream = mem.toDF.toDF("doc_id", "ts", "text")
    val out = StreamRouter.incrementalNearDup(stream, bandT, setsT, spec,
      tsCol = "ts", delay = "10 seconds", thresholdPpm = 500000L)
    mem.addData(fresh: _*)
    val q = out.writeStream.format("memory").queryName("incneardup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("incneardup_stream")
      .select("doc_id", "corpus_id", "jaccard_ppm")
      .as[(String, String, Long)].collect().toSet
    val batch = Dedup.incrementalNearDupPairsFast(
      fresh.toDF("doc_id", "ts", "text"), corpus,
      numHashes = 16, bands = 4, shingleSize = 3,
      thresholdPpm = 500000L, maxBucket = 100)
      .as[(String, String, Long)].collect().toSet
    assert(got == batch, s"stream $got vs batch $batch")
    // the near matches are found; the unrelated doc is not; multi-band
    // collisions did not duplicate pairs
    assert(got.map(p => (p._1, p._2)).contains(("n1", "c1")))
    assert(!got.exists(_._1 == "n2"))
    assert(got.size == got.map(p => (p._1, p._2)).size)
  }

  test("streaming sessionization: closed sessions ≡ batch aggregates, timeout closes idle state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = mem.toDF.toDF("user_id", "ts", "value")
    val sess = StreamRouter.sessionize(stream, gapSeconds = 1800, delay = "10 seconds")
    val q = sess.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    // (times start at 100 s: the engine's INITIAL watermark is epoch 0 and
    // an event AT the watermark is late — a t=0 event would be dropped)
    // batch 1: user 1 opens a session (2 events), user 2 opens one
    mem.addData((1L, ts(100), 1.25), (1L, ts(110), 2.50), (2L, ts(105), 0.10))
    q.processAllAvailable()
    // batch 2: user 1's 2100 s event exceeds the gap → closes [100,110]
    // INLINE; the 5100 s sentinel advances the watermark past every earlier
    // (last + gap) timeout — the engine's no-data batch then fires them
    mem.addData((1L, ts(2100), 4.00), (3L, ts(5100), 0.0))
    q.processAllAvailable()
    // batch 3: watermark passes user 3's timeout; user 4 opens
    mem.addData((4L, ts(10100), 0.0))
    q.processAllAvailable()
    // batch 4: watermark passes user 4's timeout; user 5 stays open
    mem.addData((5L, ts(20100), 0.0))
    q.processAllAvailable(); q.stop()

    val got = spark.table("sess_stream")
      .select("user_id", "start_us", "end_us", "n_events", "value_c")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (1L, 100000000L, 110000000L, 2L, 375L),
      (1L, 2100000000L, 2100000000L, 1L, 400L),
      (2L, 105000000L, 105000000L, 1L, 10L),
      (3L, 5100000000L, 5100000000L, 1L, 0L),
      (4L, 10100000000L, 10100000000L, 1L, 0L))
    assert(got === expected, "user 5 remains OPEN and must not be emitted")
    // every closed session matches the batch operator's aggregates exactly
    val allEvents = Seq(
      (1L, 1L, ts(100), 1.25), (2L, 1L, ts(110), 2.50), (3L, 2L, ts(105), 0.10),
      (4L, 1L, ts(2100), 4.00), (5L, 3L, ts(5100), 0.0),
      (6L, 4L, ts(10100), 0.0), (7L, 5L, ts(20100), 0.0))
      .toDF("event_id", "user_id", "ts", "value")
    val batch = graft.logops.LogOps.sessionize(allEvents, gapSeconds = 1800)
      .select("user_id", "start_us", "end_us", "n_events", "value_c")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.subsetOf(batch))
  }

  test("streaming minute counts: closed windows ≡ batch per-minute aggregate, append-once") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val stream = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = StreamRouter.minuteCounts(stream, delay = "10 seconds")
      .writeStream.format("memory").queryName("minute_counts_stream")
      .outputMode("append").start()
    // minute 100..101 events, two types
    mem.addData(
      (1L, ts(6000), "click", 1.25), (2L, ts(6010), "click", 2.50),
      (3L, ts(6030), "view", 0.10), (4L, ts(6070), "click", 4.00))
    q.processAllAvailable()
    // advance the watermark far past those minutes → windows close + emit
    mem.addData((5L, ts(9000), "view", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("minute_counts_stream")
      .as[(String, String, Long, Long)].collect().toSet
    // batch equivalent over the closed-minute events
    val batchRows = Seq(
      (1L, ts(6000), "click", 1.25), (2L, ts(6010), "click", 2.50),
      (3L, ts(6030), "view", 0.10), (4L, ts(6070), "click", 4.00))
      .toDF("event_id", "ts", "event_type", "value")
    val batch = batchRows
      .groupBy(date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm").as("minute"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === batch,
      s"closed streaming windows must equal the batch aggregate; got $got want $batch")
  }

  test("streaming sessionization: out-of-order within-watermark event lowers session start") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = mem.toDF.toDF("user_id", "ts", "value")
    val sess = StreamRouter.sessionize(stream, gapSeconds = 1800, delay = "30 seconds")
    val q = sess.writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    // batch 1: session opens at 100 s (watermark → 70 s)
    mem.addData((1L, ts(100), 1.0))
    q.processAllAvailable()
    // batch 2: an EARLIER event (95 s ≥ watermark) arrives late — the
    // session's start must move back to 95 s, as the batch operator would
    mem.addData((1L, ts(95), 2.0))
    q.processAllAvailable()
    // close it via watermark
    mem.addData((9L, ts(50000), 0.0))
    q.processAllAvailable()
    mem.addData((9L, ts(99000), 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_ooo")
      .select("user_id", "start_us", "end_us", "n_events", "value_c")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 95000000L, 100000000L, 2L, 300L)),
      s"late-but-valid event must extend the session backwards, got $got")
  }

  test("streaming latestState: converged view ≡ batch operator, losing arrivals emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val stream = mem.toDF.toDF("event_id", "user_id", "ts_us", "event_type", "value")
    val latest = StreamRouter.latestState(stream)
    val q = latest.writeStream.format("memory").queryName("latest_stream")
      .outputMode("update").start()
    mem.addData((1L, 10L, 100L, "a", 1.0), (2L, 20L, 500L, "d", 4.0))
    q.processAllAvailable()
    // batch 2: event 3 advances user 10; event 4 is OLDER for user 20 →
    // loses to stored state and must emit nothing
    mem.addData((3L, 10L, 300L, "b", 2.0), (4L, 20L, 400L, "e", 5.0))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("latest_stream")
      .as[(Long, Long, Long, String, Long)].collect()
    assert(!emitted.exists(_._3 == 4L), s"losing arrival must not emit, got ${emitted.toSeq}")
    // converged view: per user the max-ts_us emission ≡ batch latestState
    val converged = emitted.groupBy(_._1).view.mapValues(_.maxBy(e => (e._2, e._3))).toMap
    val rows = Seq((1L, 10L, 100L, "a", 1.0), (2L, 20L, 500L, "d", 4.0),
      (3L, 10L, 300L, "b", 2.0), (4L, 20L, 400L, "e", 5.0))
    val batch = graft.logops.LogOps.latestState(
      rows.toDF("event_id", "user_id", "ts_us", "event_type", "value"),
      payloadCols = Seq("event_type", "value"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), math.round(r.getDouble(4) * 100)))).toMap
    assert(converged.map { case (u, e) => u -> ((e._2, e._3, e._4, e._5)) } === batch)
  }

  test("streaming intervalJoin ≡ batch pairs; over-span windows rejected") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val evMem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val winMem = MemoryStream[(String, Long, java.sql.Timestamp, Long)]
    val events = evMem.toDF.toDF("event_id", "event_type", "ts")
    val windows = winMem.toDF.toDF("event_type", "win_id", "start_ts", "end_us")
    val joined = StreamRouter.intervalJoin(events, windows,
      maxSpanSeconds = 120, delay = "10 seconds")
    evMem.addData((1L, "a", ts(100)), (2L, "a", ts(249)), (3L, "a", ts(250)),
      (4L, "b", ts(100)), (5L, "a", ts(400)))
    winMem.addData(
      ("a", 10L, ts(150), 260000000L),  // [150, 260): events 2, 3
      ("a", 20L, ts(90), 105000000L),   // [90, 105): event 1
      ("a", 30L, ts(300), 600000000L))  // span 300 s > maxSpan → rejected
    val q = joined.writeStream.format("memory").queryName("ivj_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivj_stream").select("event_id", "win_id")
      .as[(Long, Long)].collect().toSet
    // batch equivalent over the SAME admissible windows
    val bEv = Seq((1L, "a", 100000000L), (2L, "a", 249000000L), (3L, "a", 250000000L),
      (4L, "b", 100000000L), (5L, "a", 400000000L))
      .toDF("event_id", "event_type", "ts_us")
    val bWin = Seq(("a", 10L, 150000000L, 260000000L), ("a", 20L, 90000000L, 105000000L))
      .toDF("event_type", "win_id", "start_us", "end_us")
    val batch = graft.logops.LogOps.intervalJoin(bEv, bWin, bucketUs = 60000000L)
      .select("event_id", "win_id").as[(Long, Long)].collect().toSet
    assert(got === batch)
    assert(got === Set((1L, 20L), (2L, 10L), (3L, 10L)))
  }
}
