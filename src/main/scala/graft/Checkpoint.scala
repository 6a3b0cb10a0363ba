package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.RuleCompiler.RoutingPlan
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import scala.jdk.CollectionConverters._

/** Resumable execution with per-partition-range lineage — the north star's
  * checkpoint requirement: each completed range persists a manifest carrying
  * (input fingerprint, file range, rule-version hash) plus
  * emitted/matched/unmatched counters and per-sink counts. A re-run skips
  * ranges whose manifest exists with a matching rule hash — so a killed job
  * resumes idempotently, and a rule change automatically invalidates all
  * prior work.
  *
  * The input is partitioned by contiguous file groups (the parquet analog of
  * Iceberg snapshot + file-scan ranges; under Iceberg the manifest would
  * carry the snapshot-id — here a file fingerprint of (path, size) stands
  * in). Manifests are written atomically (tmp + rename).
  */
object Checkpoint {

  final case class RangeResult(
      rangeId: Int,
      skipped: Boolean,
      emitted: Long,
      matched: Long,
      unmatched: Long,
      sinkCounts: Map[String, Long])

  final case class RunSummary(ranges: Seq[RangeResult]) {
    def processed: Int = ranges.count(!_.skipped)
    def skipped: Int = ranges.count(_.skipped)
    def totalSinkCounts: Map[String, Long] =
      ranges.flatMap(_.sinkCounts.toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Deterministic fingerprint of a file group: FNV over (name, size). */
  def filesFingerprint(files: Seq[File]): String = {
    val canonical = files.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}").mkString("|")
    java.lang.Long.toHexString(
      graft.expressions.FnvHash64.hash(canonical.getBytes(StandardCharsets.UTF_8)))
  }

  /** Run the routing pipeline over `inputDir` parquet, fanning out to
    * `outDir/data/range=<i>`, resuming from existing manifests.
    *
    * @param maxRangesThisRun process at most this many pending ranges
    *                         (test hook simulating a mid-job kill).
    */
  def runResumable(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      plan: RoutingPlan,
      lookup: Option[DataFrame] = None,
      numRanges: Int = 8,
      salt: Int = 8,
      maxRangesThisRun: Int = Int.MaxValue): RunSummary = {

    val parts = Option(new File(inputDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"no parquet files under $inputDir")
    val groups = parts.grouped(math.max(1, math.ceil(parts.length.toDouble / numRanges).toInt))
      .toSeq.zipWithIndex

    val manifestDir = Paths.get(outDir, "_manifests")
    Files.createDirectories(manifestDir)

    var budget = maxRangesThisRun
    val results = groups.map { case (files, rangeId) =>
      val mf = manifestDir.resolve(s"range_$rangeId.json")
      val fp = filesFingerprint(files.toSeq)
      readManifest(mf) match {
        case Some(m) if m.path("rule_version_hash").asText == plan.ruleVersionHash &&
          m.path("input_fingerprint").asText == fp =>
          RangeResult(rangeId, skipped = true,
            m.path("emitted").asLong, m.path("matched").asLong, m.path("unmatched").asLong,
            m.path("sink_counts").properties.asScala
              .map(e => e.getKey -> e.getValue.asLong).toMap)
        case _ if budget <= 0 =>
          RangeResult(rangeId, skipped = true, 0, 0, 0, Map.empty)
        case _ =>
          budget -= 1
          val df = spark.read.parquet(files.map(_.getPath).toIndexedSeq: _*)
          val obs = Observation()
          val routed = Router.routeObserved(df, plan, obs)
          val enriched = lookup.map(Router.enrich(routed, _)).getOrElse(routed)
          // per-sink counts ride the WRITE action as a second observe metric
          // (CountByKeyAgg: one bounded map entry per sink) — single pass;
          // the previous formulation re-read every written byte of the
          // range just to count it
          val sinkObs = Observation()
          val observed = enriched.observe(sinkObs,
            graft.expressions.CountByKeyAgg(
              org.apache.spark.sql.functions.concat_ws("/",
                org.apache.spark.sql.functions.coalesce(
                  org.apache.spark.sql.functions.col(Router.NewLabel),
                  org.apache.spark.sql.functions.lit(Router.DefaultLabel)),
                org.apache.spark.sql.functions.col(Router.NewTag))).as("sinks"))
          Router.writeFanOut(observed, s"$outDir/data/range=$rangeId", salt = salt)
          val sinks = sinkObs.get("sinks")
            .asInstanceOf[scala.collection.Map[String, Long]].toMap
          val m = obs.get
          val res = RangeResult(rangeId, skipped = false,
            m("emitted").asInstanceOf[Long], m("matched").asInstanceOf[Long],
            m("unmatched").asInstanceOf[Long], sinks)
          writeManifest(mf, plan, fp, res)
          res
      }
    }
    RunSummary(results)
  }

  // --- manifest JSON -------------------------------------------------------

  /** Manifest reader/writer. Raw control characters are accepted on read:
    * older manifests escaped only `"` and `\\` inside sink tags.
    */
  private val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  private def writeManifest(
      path: java.nio.file.Path,
      plan: RoutingPlan,
      inputFp: String,
      r: RangeResult): Unit = {
    val doc = json.createObjectNode()
      .put("range_id", r.rangeId)
      .put("input_fingerprint", inputFp)
      .put("rule_version_hash", plan.ruleVersionHash)
      .put("emitted", r.emitted).put("matched", r.matched).put("unmatched", r.unmatched)
    val sinks = doc.putObject("sink_counts")
    r.sinkCounts.toSeq.sortBy(_._1).foreach { case (k, v) => sinks.put(k, v) }
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, json.writeValueAsBytes(doc))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(path: java.nio.file.Path): Option[JsonNode] =
    if (Files.exists(path)) Some(json.readTree(path.toFile)) else None
}
