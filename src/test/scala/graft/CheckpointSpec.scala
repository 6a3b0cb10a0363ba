package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("resumable run: kill after 2 of 4 ranges, resume, idempotent totals") {
    val inDir = Files.createTempDirectory("graft-ckpt-in").toString
    val outDir = Files.createTempDirectory("graft-ckpt-out").toString
    Synth.sequences(spark, 4000).repartition(8)
      .write.mode("overwrite").parquet(inDir)

    val df = spark.read.parquet(inDir)
    val plan = Pipelines.flagshipPlan(df)
    val lookup = Some(Pipelines.tagLookup(spark))

    // direct, non-checkpointed reference totals
    val want = Router.sinkCounts(
      Router.enrich(Router.route(df, plan), Pipelines.tagLookup(spark)))
      .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap

    // first run "crashes" after 2 ranges
    val run1 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup,
      numRanges = 4, maxRangesThisRun = 2)
    assert(run1.processed == 2)

    // resume completes only the remaining ranges
    val run2 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup, numRanges = 4)
    assert(run2.processed == 2 && run2.skipped == 2)
    assert(run2.totalSinkCounts == want)

    // third run is a full no-op, totals stable (manifest round-trip)
    val run3 = Checkpoint.runResumable(spark, inDir, outDir, plan, lookup, numRanges = 4)
    assert(run3.processed == 0 && run3.skipped == 4)
    assert(run3.totalSinkCounts == want)

    // rule change invalidates all manifests
    val plan2 = RuleCompiler.compileFused(
      Pipelines.flagshipRules.take(6), Pipelines.flagshipConfig, df.schema, "source")
    val run4 = Checkpoint.runResumable(spark, inDir, outDir, plan2, lookup,
      numRanges = 4, maxRangesThisRun = 0)
    assert(run4.processed == 0 && run4.ranges.forall(_.skipped)) // all pending, none run
    val run5 = Checkpoint.runResumable(spark, inDir, outDir, plan2, lookup, numRanges = 4)
    assert(run5.processed == 4)
  }

  test("resumed totals survive sink tags containing JSON metacharacters") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-ckpt-meta-in").toString
    val outDir = Files.createTempDirectory("graft-ckpt-meta-out").toString
    val sources = Seq("a}b", "q\"r", "back\\slash", "x{y}z", "plain")
    (0 until 200).map(i => (i.toLong, sources(i % sources.size))).toDF("doc_id", "source")
      .repartition(4).write.mode("overwrite").parquet(inDir)

    val df = spark.read.parquet(inDir)
    val plan = RuleCompiler.compileFused(
      Seq(Rule("source", "^(.+)$", "t.$1")), RoutingConfig(), df.schema, "source")
    val want = Router.sinkCounts(Router.route(df, plan))
      .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap
    assert(want.size == sources.size)

    val run1 = Checkpoint.runResumable(spark, inDir, outDir, plan,
      numRanges = 4, maxRangesThisRun = 2)
    assert(run1.processed == 2)
    val run2 = Checkpoint.runResumable(spark, inDir, outDir, plan, numRanges = 4)
    assert(run2.processed == 2 && run2.skipped == 2)
    assert(run2.totalSinkCounts == want)
  }

  test("manifest in the earlier hand-written layout still resumes") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-ckpt-old-in").toString
    val outDir = Files.createTempDirectory("graft-ckpt-old-out").toString
    (0 until 10).map(i => (i.toLong, "web")).toDF("doc_id", "source")
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    val files = new java.io.File(inDir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val plan = RuleCompiler.compileFused(Seq(Rule("source", "^(.+)$", "t.$1")),
      RoutingConfig(), spark.read.parquet(inDir).schema, "source")
    val manifests = java.nio.file.Paths.get(outDir, "_manifests")
    Files.createDirectories(manifests)
    Files.write(manifests.resolve("range_0.json"),
      s"""{"range_id":0,
         |"input_fingerprint":"${Lineage.fingerprint(
              java.nio.file.Paths.get(inDir), files.map(_.toPath))}",
         |"rule_version_hash":"${plan.ruleVersionHash}",
         |"emitted":10,"matched":10,"unmatched":0,
         |"sink_counts":{"@default/t.q\\"r":3,"@default/t.tab\there":2,"@default/t.web":5}}"""
        .stripMargin // the earlier writer left control characters raw
        .getBytes("UTF-8"))

    val run = Checkpoint.runResumable(spark, inDir, outDir, plan, numRanges = 1)
    assert(run.processed == 0 && run.skipped == 1)
    assert(run.ranges.head.matched == 10L)
    assert(run.totalSinkCounts ==
      Map("@default/t.q\"r" -> 3L, "@default/t.tab\there" -> 2L, "@default/t.web" -> 5L))
  }

  test("a range rewritten in place with the same name and size re-runs") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-ckpt-rw-in").toString
    val newDir = Files.createTempDirectory("graft-ckpt-rw-new").toString
    val outDir = Files.createTempDirectory("graft-ckpt-rw-out").toString
    def write(source: String, dir: String): Unit =
      (0 until 200).map(i => (f"d$i%04d", source)).toDF("doc_id", "source")
        .coalesce(1).write.mode("overwrite").option("compression", "none")
        .parquet(dir)
    def dataFile(dir: String): java.io.File =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .head
    write("td.apache.access", inDir)
    val plan = Pipelines.flagshipPlan(spark.read.parquet(inDir))
    val run1 = Checkpoint.runResumable(spark, inDir, outDir, plan, numRanges = 1)
    assert(run1.processed == 1)

    // same row count, same-length tag → same file size; copy the data file
    // AND its .crc sidecar over the old names (without the sidecar the
    // local filesystem fails the read with a ChecksumException)
    write("td.nginx.access!", newDir)
    val (oldF, newF) = (dataFile(inDir), dataFile(newDir))
    val oldMtime = oldF.lastModified()
    def crc(f: java.io.File) = new java.io.File(f.getParentFile, s".${f.getName}.crc")
    Files.copy(newF.toPath, oldF.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.copy(crc(newF).toPath, crc(oldF).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(oldF.length() == newF.length())
    assert(oldF.setLastModified(oldMtime + 60000L))

    val want = Router.sinkCounts(Router.route(spark.read.parquet(inDir), plan))
      .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap
    assert(want != run1.totalSinkCounts)
    val run2 = Checkpoint.runResumable(spark, inDir, outDir, plan, numRanges = 1)
    assert(run2.processed == 1)
    assert(run2.totalSinkCounts == want)
  }
}
