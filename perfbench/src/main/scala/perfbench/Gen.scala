package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{Pipelines, Rule, RoutingConfig, Synth}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded inputs. Everything the program sees — parquet tables and rule-conf
  * files — is a pure function of (workload, size, seed), written once and
  * reused by later runs with the same triple.
  */
object Gen {

  /** Rules as Fluentd-style `<rule>` conf text (the reference plugin's only
    * user interface), read back with `RuleTableLoader.fromConf`.
    */
  def confText(rules: Seq[Rule], cfg: RoutingConfig, header: String): String = {
    val top = Seq(
      s"# $header",
      s"capitalize_regex_backreference ${cfg.capitalizeRegexBackreference}",
      s"hostname ${cfg.hostname}") ++
      cfg.removeTagPrefix.map(p => s"remove_tag_prefix $p") ++
      cfg.removeTagRegexp.map(r => s"remove_tag_regexp $r")
    val blocks = rules.map { r =>
      (Seq("<rule>", s"  key ${r.key}", s"  pattern ${r.pattern}", s"  tag ${r.tag}") ++
        r.label.map(l => s"  label @$l") ++
        (if (r.invert) Seq("  invert true") else Nil) :+ "</rule>").mkString("\n")
    }
    (top ++ blocks).mkString("", "\n", "\n")
  }

  /** `Synth.sequences` in 16 files (with the given columns) plus the
    * flagship rules as conf text.
    */
  def flagshipInput(spark: SparkSession, dir: File, rows: Long, seed: Long,
      columns: Seq[String]): Unit = {
    Synth.sequences(spark, rows, seed, partitions = 16).select(columns.map(col): _*)
      .write.parquet(new File(dir, "input").getPath)
    writeText(new File(dir, "rules.conf"), confText(Pipelines.flagshipRules,
      Pipelines.flagshipConfig, s"flagship rules (Pipelines.flagshipRules), seed $seed"))
  }

  // ---- deep_rules ------------------------------------------------------------

  val SourceRules = 24 // rules 0..23 are keyed on `source`
  val PathRules = 62   // rules 24..61 are keyed on `$.http.path`
  val DropRules = Set(41, 53) // `${tag}` without a label: unchanged tag, dropped
  val Resources = Seq("users", "orders", "items", "carts", "search", "login")
  val SourceKinds = Seq("web", "db", "cache")
  val Edges = 10

  /** Three-digit API version of path rule `t`, a seeded bijection on 24..61
    * (37 is coprime with 97), so every seed gets its own rule texts.
    */
  def apiVersion(t: Int, seed: Long): Int = (((t * 37L + seed) % 97 + 97) % 97).toInt + 100

  def deepLabel(t: Int): Option[String] =
    if (t < SourceRules) { if (t % 4 == 0) Some("deep") else None }
    else if (t % 5 == 0 && !DropRules(t)) Some("api") else None

  /** About 64 ordered rules: 24 on `source`, 38 on the nested request path
    * (two of them drop rules), one that never fires, and an inverted
    * catch-all.
    */
  def deepRules(seed: Long): (Seq[Rule], RoutingConfig) = {
    val src = (0 until SourceRules).map(t =>
      Rule("source", s"/^app$t\\.(${SourceKinds.mkString("|")})$$/", s"src.$t.$$1", deepLabel(t)))
    val path = (SourceRules until PathRules).map { t =>
      val tag = if (DropRules(t)) "${tag}" else s"api.v${apiVersion(t, seed)}.$$1"
      Rule("$.http.path", s"/^/api/v${apiVersion(t, seed)}/([a-z]+)/[0-9a-f]+$$/", tag,
        deepLabel(t))
    }
    val tail = Seq(
      Rule("$.http.path", "/^/healthz$/", "probe.health"),
      Rule("source", "/^$/", "fallthrough.${tag_parts[0]}", invert = true))
    (src ++ path ++ tail, RoutingConfig(hostname = "perfbench-host"))
  }

  /** The deep_rules table: `(doc_id, source, http{path, method}, expect_ns,
    * expect_tag)`. Each row is planted for one rule: 5% for a `source` rule,
    * 10% for path rules 24..31, 70% for path rules 32..61 and 15% fall
    * through to the catch-all. The path carries a per-row unique suffix.
    * `expect_*` hold the planted route (`expect_tag` null = dropped); the
    * routing reads only `source` and `http.path`.
    */
  def deepTable(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    def h(salt: Long, mod: Int): Column = pmod(xxhash64(col("id"), lit(seed + salt)), lit(mod))
    def pick(xs: Seq[String], idx: Column): Column =
      element_at(array(xs.map(lit): _*), idx.cast("int") + 1)
    val cls = col("cls")
    val isSrc = cls < 50
    val isPath = cls >= 50 && cls < 850
    val t = when(cls < 150, lit(SourceRules) + h(2, 8)).otherwise(lit(32) + h(2, 30))
    val version = pmod(col("t") * 37 + lit(seed), lit(97)) + 100
    val isDrop = col("t").isin(DropRules.toSeq: _*)
    spark.range(0L, n, 1L, partitions)
      .withColumn("cls", h(0, 1000))
      .withColumn("t", when(isSrc, h(1, SourceRules)).otherwise(t))
      .withColumn("kind", pick(SourceKinds, h(6, SourceKinds.size)))
      .withColumn("res", pick(Resources, h(3, Resources.size)))
      .withColumn("edge", concat(lit("edge"), h(4, Edges).cast("string")))
      .withColumn("uniq", concat(lower(hex(xxhash64(col("id"), lit(seed + 5)))), col("id").cast("string")))
      .withColumn("version", version)
      .select(
        col("id").as("doc_id"),
        when(isSrc, concat(lit("app"), col("t").cast("string"), lit("."), col("kind")))
          .otherwise(concat(col("edge"), lit(".gw"))).as("source"),
        struct(
          when(isPath, concat_ws("/", lit("/api"), concat(lit("v"), col("version").cast("string")),
            col("res"), col("uniq")))
            .otherwise(concat(lit("/static/"), col("uniq"))).as("path"),
          when(h(7, 4) === 0, lit("POST")).otherwise(lit("GET")).as("method")).as("http"),
        when(isSrc && pmod(col("t"), lit(4)) === 0, lit("deep"))
          .when(isPath && pmod(col("t"), lit(5)) === 0 && !isDrop, lit("api"))
          .otherwise(lit("@default")).as("expect_ns"),
        when(isSrc, concat(lit("src."), col("t").cast("string"), lit("."), col("kind")))
          .when(isPath && isDrop, lit(null).cast("string"))
          .when(isPath, concat(lit("api.v"), col("version").cast("string"), lit("."), col("res")))
          .otherwise(concat(lit("fallthrough."), col("edge"))).as("expect_tag"))
  }

  // ---- write-once storage ----------------------------------------------------

  /** `root/<workload>/n<rows>-s<seed>`, written by `write` into a temporary
    * sibling and renamed into place, so an interrupted write never looks
    * complete. At most `keep` inputs per workload stay on disk (oldest
    * removed first).
    */
  def once(root: File, workload: String, rows: Long, seed: Long, keep: Int = 12)(
      write: File => Unit): File = {
    val wdir = new File(root, workload)
    val dir = new File(wdir, s"n$rows-s$seed")
    if (!dir.isDirectory) {
      wdir.mkdirs()
      val tmp = new File(wdir, s".tmp-${dir.getName}-${ProcessHandle.current().pid()}")
      deleteTree(tmp)
      tmp.mkdirs()
      write(tmp)
      Files.move(tmp.toPath, dir.toPath)
      val old = Option(wdir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith("n") && f != dir)
        .sortBy(_.lastModified())
      old.dropRight(math.max(0, keep - 1)).foreach(deleteTree)
    }
    dir.setLastModified(System.currentTimeMillis())
    dir
  }

  def writeText(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Data files (not markers or checksums) under a directory, recursively. */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Nil
}
