package graft

import graft.sources.ParquetIO
import org.scalatest.funsuite.AnyFunSuite

/** ParquetIO (the sandbox TableIO implementation): read/fan-out round trip
  * and a content-addressed version id that moves when the data moves.
  */
class TableIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("JsonLinesIO: explicit-schema read, corrupt-line tolerance, json fan-out") {
    import graft.sources.JsonLinesIO
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      ("""{"doc_id":"d1","source":"td.apache.access"}""" + "\n" +
        """{"doc_id":"d2","source":"game.production.api"}""" + "\n" +
        "this is not json\n" +
        """{"doc_id":"d3"}""" + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("source", StringType),
      StructField("_corrupt_record", StringType)))
    val src = new JsonLinesIO(schema)
    val df = src.read(spark, dir)
    val rows = df.collect()
    assert(rows.length == 4)
    // PERMISSIVE: the broken line lands in _corrupt_record, fields null
    val corrupt = rows.filter(!_.isNullAt(2))
    assert(corrupt.length == 1 && corrupt(0).getString(2).startsWith("this is"))
    // missing field reads as null — the reference's schemaless nil → ""
    assert(rows.filter(_.getString(0) == "d3").forall(_.isNullAt(1)))

    // route the valid lines and fan out as JSON
    val routed = Router.route(
      df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      Seq(Rule("source", "^td\\.(\\w+)\\.access$", "site.$1"),
        Rule("source", "^$", "other", invert = true)),
      RoutingConfig(), "source")
    Router.writeFanOut(routed, s"$dir/out", maxRecordsPerFile = 100L, format = "json")
    val back = spark.read.schema(StructType(Seq(
      StructField("doc_id", StringType), StructField("source", StringType))))
      .option("recursiveFileLookup", "false")
      .json(s"$dir/out")
    assert(back.count() == routed.count())
    val dirs = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.exists(_.startsWith("new_label_ns=")), dirs.toString)
  }

  test("round trip: read → route → fan-out write; versionId tracks content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tableio").toString
    Synth.sequences(spark, 500L).write.parquet(s"$dir/in")

    val df = ParquetIO.read(spark, s"$dir/in")
    assert(df.count() == 500)
    val v1 = ParquetIO.versionId(spark, s"$dir/in")

    val routed = Router.route(df, Pipelines.flagshipPlan(df))
    Router.writeFanOut(routed, s"$dir/out", maxRecordsPerFile = 1000L)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == routed.count())
    assert(out.columns.contains("new_label_ns") && out.columns.contains("new_tag"))

    // version id is content-addressed: more data → different id
    Synth.sequences(spark, 600L).write.mode("overwrite").parquet(s"$dir/in")
    val v2 = ParquetIO.versionId(spark, s"$dir/in")
    assert(v1 != v2)

    // PARTITIONED layouts fingerprint their nested data files (a top-level
    // listing would hash every partitioned table to the empty-list value)
    val vOut1 = ParquetIO.versionId(spark, s"$dir/out")
    assert(vOut1 != ParquetIO.versionId(spark, s"$dir/in"))
    Router.writeFanOut(
      Router.route(ParquetIO.read(spark, s"$dir/in"),
        Pipelines.flagshipPlan(ParquetIO.read(spark, s"$dir/in"))),
      s"$dir/out2", maxRecordsPerFile = 1000L)
    assert(ParquetIO.versionId(spark, s"$dir/out2") != vOut1) // 600 ≠ 500 rows
  }

  test("BucketedIO: co-bucketed join and aggregation run with ZERO exchanges") {
    import graft.sources.BucketedIO
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val facts = (1L to 5000L).map(i => (i % 97, i, i * 3)).toDF("key", "event_id", "v")
    val dims = (0L to 96L).flatMap(k => Seq((k, s"attr$k"))).toDF("key", "attr")
    BucketedIO.writeBucketed(facts.repartition(5), "graft_bktd_facts", s"$dir/facts", 8, Seq("key"))
    BucketedIO.writeBucketed(dims.repartition(3), "graft_bktd_dims", s"$dir/dims", 8, Seq("key"))
    try {
      val f = BucketedIO.readTable(spark, "graft_bktd_facts")
      val d = BucketedIO.readTable(spark, "graft_bktd_dims")
      // disable broadcast: the point is the co-located SORT-MERGE join.
      // The sorted-scan half needs the (Spark 3+) opt-in flag — safe here
      // because writeBucketed guarantees one file per bucket, the exact
      // hazard the flag's default guards against
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = f.join(d, "key").groupBy(col("key")).agg(count(lit(1)).as("n"))
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case o => o +: o.children.flatMap(nodes)
      }
      val rows = joined.collect()
      assert(rows.length == 97 &&
        rows.map(_.getAs[Long]("n")).sum == 5000L)
      val planNodes = nodes(joined.queryExecution.executedPlan)
      val shuffles = planNodes.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty,
        s"co-bucketed join+agg must be exchange-free:\n${joined.queryExecution.executedPlan}")
      // one file per bucket (writeBucketed repartitions to the bucket hash)
      // → sortBy metadata is honored and the SMJ needs NO sort either
      assert(!planNodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"pre-sorted buckets must not re-sort:\n${joined.queryExecution.executedPlan}")
      // differential: same result as the unbucketed plan
      val want = facts.join(dims, "key").groupBy(col("key")).agg(count(lit(1)).as("n"))
      assert(joined.exceptAll(want).isEmpty && want.exceptAll(joined).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bktd_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bktd_dims")
    }
  }

  test("incremental dedup against persisted bucketed artifacts: values identical, ZERO corpus-side exchange") {
    import graft.dedup.{CorpusArtifacts, Dedup}
    import graft.sources.BucketedIO
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_corpusart").toString
    // synthetic corpus with planted dups; the new batch re-uses corpus
    // texts (exact + near matches) and adds unseen ones
    val corpus = Synth.documents(spark, 3000L)
    val newBatch = corpus.filter(col("doc_id") % 8 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val spec = CorpusArtifacts.NearDupSpec(
      numHashes = 16, bands = 4, shingleSize = 3, maxBucket = 200)
    CorpusArtifacts.writeExactFingerprints(
      corpus, "graft_art_fp", s"$dir/fp", buckets = 8)
    CorpusArtifacts.writeNearDupArtifacts(
      corpus, spec, "graft_art_nd", s"$dir/nd", buckets = 8)
    try {
      val fpT = BucketedIO.readTable(spark, "graft_art_fp")
      val bandT = BucketedIO.readTable(spark, "graft_art_nd_bands")
      val setsT = BucketedIO.readTable(spark, "graft_art_nd_sets")

      // force the sort-merge path: a broadcast of the corpus side would
      // trivially show zero exchange without exercising the bucket layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val gotExact = CorpusArtifacts.incrementalExactPrepared(newBatch, fpT)
        .select("doc_id", "corpus_keeper", "in_corpus")
      val wantExact = Dedup.incrementalExact(newBatch, corpus)
        .select("doc_id", "corpus_keeper", "in_corpus")
      assert(gotExact.exceptAll(wantExact).isEmpty &&
        wantExact.exceptAll(gotExact).isEmpty)

      val gotNd = CorpusArtifacts.incrementalNearDupPrepared(
        newBatch, bandT, setsT, spec, thresholdPpm = 500000L)
      val wantNd = Dedup.incrementalNearDupPairsFast(newBatch, corpus,
        numHashes = 16, bands = 4, shingleSize = 3,
        thresholdPpm = 500000L, maxBucket = 200)
      assert(gotNd.count() > 0, "test corpus must yield near-dup probes")
      assert(gotNd.exceptAll(wantNd).isEmpty && wantNd.exceptAll(gotNd).isEmpty)

      // plan shape: between each bucketed corpus scan and its consuming
      // join there must be NO shuffle — the increment side may (and does)
      // exchange; the corpus side must not. Root-to-scan paths are walked
      // and the segment scan→nearest-join-ancestor checked.
      def rootToScanPaths(
          p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case a: AdaptiveSparkPlanExec => rootToScanPaths(a.executedPlan, p :: acc)
        case q: QueryStageExec => rootToScanPaths(q.plan, q :: acc)
        case f: FileSourceScanExec => Seq(f :: acc) // path: scan, parents…
        case o => o.children.flatMap(c => rootToScanPaths(c, o :: acc))
      }
      def assertCorpusSideExchangeFree(df: DataFrame): Unit = {
        df.collect() // materialize so AQE finalizes the plan
        val paths = rootToScanPaths(df.queryExecution.executedPlan, Nil)
        val corpusPaths = paths.filter(_.head match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(dir))
          case _ => false
        })
        assert(corpusPaths.nonEmpty, "expected bucketed corpus scans in plan")
        corpusPaths.foreach { path =>
          val toJoin = path.takeWhile(!_.isInstanceOf[BaseJoinExec])
          assert(!toJoin.exists(_.isInstanceOf[ShuffleExchangeLike]),
            s"corpus-side scan re-shuffled before its join:\n" +
              df.queryExecution.executedPlan)
        }
      }
      assertCorpusSideExchangeFree(
        CorpusArtifacts.incrementalExactPrepared(newBatch, fpT))
      assertCorpusSideExchangeFree(
        CorpusArtifacts.incrementalNearDupPrepared(
          newBatch, bandT, setsT, spec, thresholdPpm = 500000L))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_art_fp")
      spark.sql("DROP TABLE IF EXISTS graft_art_nd_bands")
      spark.sql("DROP TABLE IF EXISTS graft_art_nd_sets")
    }
  }

  test("incremental exact: an increment carrying text_fp probes through both faces and keeps it") {
    import graft.dedup.{CorpusArtifacts, Dedup}
    import graft.sources.BucketedIO
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fpcol").toString
    val corpus = Seq(("c2", "alpha"), ("c1", "alpha"), ("c3", "beta"))
      .toDF("doc_id", "text")
    // the caller's own text_fp column — the artifact's key name
    val fresh = Seq(("n1", "alpha", "mine1"), ("n2", "gamma", "mine2"))
      .toDF("doc_id", "text", "text_fp")
    CorpusArtifacts.writeExactFingerprints(corpus, "graft_fpcol", s"$dir/fp", buckets = 2)
    try {
      val want = Set(("n1", "c1", true, "mine1"), ("n2", "-1", false, "mine2"))
      for (out <- Seq(Dedup.incrementalExact(fresh, corpus),
          CorpusArtifacts.incrementalExactPrepared(
            fresh, BucketedIO.readTable(spark, "graft_fpcol")))) {
        assert(out.columns.toSeq == Seq("doc_id", "text", "text_fp", "corpus_keeper", "in_corpus"))
        assert(out.select("doc_id", "corpus_keeper", "in_corpus", "text_fp")
          .as[(String, String, Boolean, String)].collect().toSet == want)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_fpcol")
  }

  test("clustersCached: mines once, rereads the artifact, invalidates on fingerprint/key change") {
    import graft.dedup.CorpusArtifacts
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_clart").toString
    val docs = (0L until 50L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    var mines = 0
    def mine(): org.apache.spark.sql.DataFrame = {
      mines += 1
      graft.dedup.Dedup.nearDupClusters(docs, pairs)
    }
    val c1 = CorpusArtifacts.clustersCached(spark, "fpA", "k1", base, () => mine())
    val want = c1.as[(Long, Long)].collect().toSet
    assert(mines == 1 && want.size == 50)
    assert(want.contains((2L, 0L)) && want.contains((11L, 10L)))
    // same keys → artifact hit, no re-mine, identical values
    val c2 = CorpusArtifacts.clustersCached(spark, "fpA", "k1", base, () => mine())
    assert(mines == 1 && c2.as[(Long, Long)].collect().toSet == want)
    // corpus changed → re-mine; miner version changed → re-mine
    CorpusArtifacts.clustersCached(spark, "fpB", "k1", base, () => mine())
    assert(mines == 2)
    CorpusArtifacts.clustersCached(spark, "fpA", "k2", base, () => mine())
    assert(mines == 3)
  }

  test("clustersCached: a manifest in the earlier string-template layout still hits") {
    import graft.dedup.CorpusArtifacts
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_clart_old").toString
    val docs = (0L until 20L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (5L, 6L)).toDF("id_a", "id_b")
    var mines = 0
    def mine(): org.apache.spark.sql.DataFrame = {
      mines += 1
      graft.dedup.Dedup.nearDupClusters(docs, pairs)
    }
    // the earlier writer interpolated the key verbatim, so a tab stayed raw
    val (fp, key) = ("fpOld", "cc-v1\tlegacy")
    val want = CorpusArtifacts.clustersCached(spark, fp, key, base, () => mine())
      .as[(Long, Long)].collect().toSet
    assert(mines == 1)
    val dirs = new java.io.File(base).listFiles().filter(_.getName.startsWith("clusters_"))
    assert(dirs.length == 1)
    java.nio.file.Files.write(dirs.head.toPath.resolve("_graft_manifest.json"),
      s"""{"corpus_fingerprint":"$fp","miner_key":"$key"}""".getBytes("UTF-8"))
    val got = CorpusArtifacts.clustersCached(spark, fp, key, base, () => mine())
    assert(mines == 1 && got.as[(Long, Long)].collect().toSet == want)
  }
}
