package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table I/O abstraction: the production target is Iceberg (north rule:
  * "Iceberg table of pre-tokenized training sequences", one Iceberg sink per
  * rewritten tag, snapshot-id lineage), but this sandbox ships no
  * iceberg-spark-runtime jar (/opt/spark/jars has none and the offline
  * coursier cache cannot resolve one — SURVEY.md §7.6). A `TableIO` reads a
  * table and names its current version: [[ParquetIO]] is fully exercised
  * here and in CI; [[IcebergIO]] compiles against the same Spark surface
  * (format strings + SQL) and carries the snapshot-id lineage, to be
  * exercised where the runtime jar exists. Fan-out writes go through
  * [[graft.Router.writeFanOut]] (files) or [[IcebergIO.writeFanOut]], both
  * on the sink layout [[graft.Router.SinkPartitionCols]].
  */
trait TableIO {

  /** Read a table (path for parquet; catalog identifier for Iceberg). */
  def read(spark: SparkSession, table: String): DataFrame

  /** Lineage id of the table's current version: Iceberg snapshot-id, or a
    * content fingerprint under parquet (Checkpoint manifests store it as
    * `input_fingerprint`).
    */
  def versionId(spark: SparkSession, table: String): String
}

/** Parquet directories — the sandbox/CI implementation. */
object ParquetIO extends TableIO {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  /** Content fingerprint ([[graft.Lineage.fingerprint]]: relative path,
    * size, mtime) of every parquet file, RECURSIVELY — partitioned layouts
    * (incl. the fan-out output, `new_label_ns=<l>/new_tag=<t>/part-*.parquet`)
    * keep their data files below subdirectories, so a top-level-only listing
    * would fingerprint every partitioned table to the same empty-list hash.
    */
  override def versionId(spark: SparkSession, table: String): String =
    TableIO.treeFingerprint(table, ".parquet")
}

object TableIO {

  /** [[graft.Lineage.fingerprint]] of the data files (by suffix, hidden
    * files excluded) anywhere under the directory `table`.
    */
  private[sources] def treeFingerprint(table: String, suffix: String): String = {
    val root = java.nio.file.Paths.get(table)
    val s = java.nio.file.Files.walk(root)
    val files =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val name = p.getFileName.toString
          name.endsWith(suffix) && !name.startsWith(".")
        }.toVector
      } finally s.close()
    graft.Lineage.fingerprint(root, files)
  }
}

/** Newline-delimited JSON — the Fluentd ecosystem's native wire format (the
  * reference's records ARE parsed JSON events). Reading takes an EXPLICIT
  * schema: schema inference is a second full scan at 100 TB and makes the
  * column types depend on the data sample; a log pipeline pins its schema.
  * Unparseable lines land in `_corrupt_record` (PERMISSIVE) rather than
  * failing the job — the streaming-ingest-friendly default.
  */
final class JsonLinesIO(schema: org.apache.spark.sql.types.StructType)
    extends TableIO {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(schema).json(table)

  override def versionId(spark: SparkSession, table: String): String =
    TableIO.treeFingerprint(table, ".json")
}

/** Iceberg catalog tables — same Spark API surface, requires
  * iceberg-spark-runtime on the classpath plus a configured catalog
  * (`spark.sql.catalog.<name>`). Kept format-string-only so this module
  * compiles without the jar; exercised on clusters that ship it.
  */
final class IcebergIO(catalog: String) extends TableIO {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format("iceberg").load(s"$catalog.$table")

  /** Fan-out write, append-or-create: a resumable runner calls this once
    * per input range, so an unconditional createOrReplace would wipe earlier
    * ranges. One Iceberg partition per [[graft.Router.SinkPartitionCols]];
    * file sizes are governed by Iceberg's own `write.target-file-size-bytes`
    * table property (records-per-file is not an Iceberg write option).
    */
  def writeFanOut(routed: DataFrame, sink: String): Unit = {
    import graft.Router
    import org.apache.spark.sql.functions.col
    val df = routed
      .withColumn(Router.LabelNsCol, Router.labelNs)
      .drop(Router.NewLabel)
    val w = df.writeTo(s"$catalog.$sink")
    val parts = Router.SinkPartitionCols.map(col)
    if (routed.sparkSession.catalog.tableExists(s"$catalog.$sink")) w.append()
    else w.partitionedBy(parts.head, parts.tail: _*).create()
  }

  /** Current snapshot id from the Iceberg metadata table. */
  override def versionId(spark: SparkSession, table: String): String =
    spark.sql(
      s"SELECT snapshot_id FROM $catalog.$table.snapshots " +
        "ORDER BY committed_at DESC LIMIT 1")
      .collect().headOption.map(_.get(0).toString).getOrElse("none")
}

/** Bucketed parquet tables: the 100 TB answer to REPEATED joins and
  * aggregations on a fixed key. A shuffle join moves both sides over the
  * network EVERY time it runs; writing a table `bucketBy(n, key)` +
  * `sortBy(key)` pays one shuffle at WRITE time, after which every
  * equi-join or aggregation on the key between same-bucketed tables runs
  * with ZERO exchanges — and, with sorted scans enabled, zero sorts; both
  * asserted in TableIOSpec. Two conditions gate the zero-SORT half:
  * each bucket must be ONE file ([[BucketedIO.writeBucketed]] repartitions
  * to the bucket hash before writing to guarantee exactly that — Murmur3
  * `repartition` and the bucket-id hash agree, so each task writes one
  * bucket), and the reader must set
  * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (Spark 3+
  * reports bucket sort order only behind this opt-in, because it is
  * UNSAFE when a bucket has several files — the layout this writer rules
  * out). The zero-EXCHANGE half holds regardless. This is how a routing
  * pipeline's hot dimension/fact co-location survives daily re-joins at
  * scale.
  *
  * Tables are EXTERNAL (explicit `path` option): data lives where the
  * caller says, only metadata (bucket spec) goes through the session
  * catalog — nothing lands in a warehouse directory. The Iceberg analog
  * is a `bucket(n, key)` partition transform on the same writeTo surface.
  */
object BucketedIO {

  /** Write `df` as a bucketed, per-bucket-sorted external table. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      path: String,
      buckets: Int,
      keyCols: Seq[String]): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(keyCols.nonEmpty, "need at least one bucket key")
    import org.apache.spark.sql.functions.col
    // one task per bucket → one FILE per bucket: multi-file buckets make
    // Spark discard the sortBy metadata and re-sort on every read
    df.repartition(buckets, keyCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(tableName)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog —
    * a plain `spark.read.parquet(path)` would lose the bucket spec and
    * re-shuffle on the next join).
    */
  def readTable(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)
}
