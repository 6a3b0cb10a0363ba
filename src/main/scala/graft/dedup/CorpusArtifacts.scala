package graft.dedup

import graft.Lineage
import graft.sources.BucketedIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted sealed-corpus artifacts for the INCREMENTAL dedup family —
  * the piece that turns "nightly ingest re-derives the corpus tables every
  * run" into "nightly ingest reads a bucketed artifact with zero
  * corpus-side exchange".
  *
  * [[Dedup.incrementalExact]] / [[Dedup.incrementalNearDupPairsFast]] are
  * correct at any scale but recompute the corpus's reduced tables (the
  * fingerprint→keeper table; the LSH band table and shingle-set table) on
  * every invocation. At 100 TB the sealed corpus is orders of magnitude
  * larger than any nightly increment, so those recomputations dominate the
  * job. The fix is the standard warehouse move: materialize each reduced
  * table ONCE, bucketed on its join key ([[BucketedIO]] — one file per
  * bucket, per-bucket sorted), and let every subsequent increment join
  * against it with the corpus side never leaving its buckets. Spark then
  * shuffles ONLY the increment (into the artifact's bucket layout); the
  * plan shows no Exchange above the corpus scans — asserted in
  * TableIOSpec, with values differentially pinned to the recompute-always
  * operators.
  *
  * The tables and probes are the batch family's own ([[Dedup.exactKeeperTable]]
  * / [[Dedup.incrementalExactProbe]], [[Dedup.XxHashFamily]] /
  * [[Dedup.corpusBandTable]] / [[Dedup.incrementalNearDupCore]]), fed a
  * stored table instead of an inline one, so an artifact and a probe
  * cannot drift; [[NearDupSpec]] pins the parameters both must share.
  */
object CorpusArtifacts {

  /** LSH parameters shared by the artifact writer and every probe against
    * it — persist alongside the tables (e.g. in the table comment / a
    * manifest) and construct probes from the SAME instance.
    */
  final case class NearDupSpec(
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      maxBucket: Int = 1000) {
    require(numHashes % bands == 0, "numHashes must divide into bands")
  }

  /** Write the sealed corpus's exact-dedup fingerprint table: one
    * (text_fp, corpus_keeper) row per distinct text ([[Dedup.exactKeeperTable]],
    * keeper = min id), bucketed on the primitive-long fingerprint. The
    * corpus text reduces through ONE partial+final aggregate at write time
    * and never shuffles again.
    */
  def writeExactFingerprints(
      corpus: DataFrame,
      tableName: String,
      path: String,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    BucketedIO.writeBucketed(Dedup.exactKeeperTable(corpus, idCol, textCol, "text_fp"),
      tableName, path, buckets, Seq("text_fp"))

  /** [[Dedup.incrementalExact]] against a prepared fingerprint table
    * ([[writeExactFingerprints]] output, read via [[BucketedIO.readTable]]),
    * through the same probe. Same contract: newDocs + (corpus_keeper:
    * keeper id or -1, in_corpus). With the bucketed table, the join's
    * corpus side is exchange-free — only the increment's (rows × one long)
    * shuffles into the bucket layout.
    */
  def incrementalExactPrepared(
      newDocs: DataFrame,
      fpTable: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Dedup.incrementalExactProbe(newDocs, idCol, textCol,
      fpTable.withColumnRenamed("text_fp", _))

  /** Write the sealed corpus's near-dup artifacts (production xxhash64
    * family, parameters from `spec`):
    *
    *  - `<prefix>_bands` at `<pathPrefix>_bands`: (band_key, id_c),
    *    bucketed on band_key. The saturation cap is baked in AT WRITE
    *    TIME — buckets larger than `spec.maxBucket` are dropped through
    *    the bounded [[graft.expressions.CappedCollectList]] gather exactly
    *    as the recompute-always probe drops them, so a boilerplate band
    *    key shared by 10^8 corpus docs costs maxBucket+1 buffer slots once
    *    at write and nothing ever after.
    *  - `<prefix>_sets` at `<pathPrefix>_sets`: (id_c, sh: array<long>),
    *    bucketed on id_c — the verification side.
    *
    * Both writes pay their one bucketing shuffle here; every nightly
    * probe after reads them exchange-free.
    */
  def writeNearDupArtifacts(
      corpus: DataFrame,
      spec: NearDupSpec,
      tablePrefix: String,
      pathPrefix: String,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val (bandTable, sets) = nearDupCorpusTables(corpus, spec, idCol, textCol)
    BucketedIO.writeBucketed(bandTable, s"${tablePrefix}_bands",
      s"${pathPrefix}_bands", buckets, Seq("band_key"))
    BucketedIO.writeBucketed(sets, s"${tablePrefix}_sets",
      s"${pathPrefix}_sets", buckets, Seq("id_c"))
  }

  /** The two corpus-side frames the near-dup artifacts persist —
    * (band table (band_key, id_c) with the saturation cap baked in,
    * shingle-set table (id_c, sh)) — as unpersisted plans: the same
    * tables [[Dedup.incrementalNearDupPairsFast]] builds inline, so the
    * stored and recomputed tables cannot drift.
    */
  def nearDupCorpusTables(
      corpus: DataFrame,
      spec: NearDupSpec,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val sets = Dedup.XxHashFamily.sets(corpus, idCol, "id_c", textCol, spec)
    (Dedup.corpusBandTable(Dedup.XxHashFamily, sets, spec), sets)
  }

  /** [[Dedup.incrementalNearDupPairsFast]] against prepared artifacts —
    * the same probe, the stored sets as its verify side. Same output
    * contract ((idCol, corpus_id, jaccard_ppm), verified pairs only), same
    * asymmetry (corpus-internal pairs never materialize). The two
    * corpus-side joins (band probe on band_key, verification on id_c) run
    * with ZERO exchange above the bucketed scans; only the increment's
    * band keys and candidate rows shuffle.
    *
    * @param bandTable `<prefix>_bands` via [[BucketedIO.readTable]]
    * @param setsTable `<prefix>_sets` via [[BucketedIO.readTable]]
    * @param spec      the SAME spec the artifacts were written with
    */
  def incrementalNearDupPrepared(
      newDocs: DataFrame,
      bandTable: DataFrame,
      setsTable: DataFrame,
      spec: NearDupSpec,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdPpm: Long = 700000L): DataFrame =
    Dedup.incrementalNearDupCore(newDocs, Dedup.XxHashFamily, spec, bandTable,
      setsTable.withColumnRenamed("sh", "sh_c"), identity, idCol, textCol, thresholdPpm)

  /** Mine-once CLUSTER artifact: return the (id, cluster_id) table for
    * `key`, reading the persisted copy when its manifest matches
    * (corpusFingerprint, minerKey) and mining + persisting it otherwise —
    * the [[graft.Checkpoint]] discipline applied to the most expensive
    * derived table in the pipeline, through the same [[graft.Lineage]]
    * manifest codec. Consumers that only need cluster KEYS (the
    * leakage-free split; governance rollups) read the artifact at
    * projection cost instead of re-mining pairs + components per query.
    *
    * Invalidation: the manifest `{corpus_fingerprint, miner_key}` stores the
    * corpus content fingerprint (recompute on data change; a directory
    * corpus's `versionId` is [[graft.Lineage.fingerprint]]) and the caller's
    * `minerKey`, which MUST encode the mining parameters and a version stamp
    * for the miner's semantics (bump it when the mining code changes — the
    * artifact cannot see code). A hit compares the parsed fields, so
    * manifests written by the earlier string template still hit.
    */
  def clustersCached(
      spark: SparkSession,
      corpusFingerprint: String,
      minerKey: String,
      baseDir: String,
      mine: () => DataFrame): DataFrame = {
    val keyHash = java.lang.Long.toHexString(graft.expressions.FnvHash64.hash(
      s"$corpusFingerprint:$minerKey".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val dir = java.nio.file.Paths.get(baseDir, s"clusters_$keyHash")
    val manifest = "_graft_manifest.json"
    val hit = java.nio.file.Files.exists(dir.resolve("_SUCCESS")) &&
      Lineage.readManifest(dir.resolve(manifest)).exists { m =>
        m.path("corpus_fingerprint").textValue == corpusFingerprint &&
          m.path("miner_key").textValue == minerKey
      }
    if (!hit) {
      val mined = mine()
      // ATOMIC PUBLICATION (r5 ADVICE): write data + manifest into a
      // private temp dir, then rename into place — a killed write leaves
      // only an unpublished temp dir, and two concurrent miners race on the
      // rename (the loser discards its copy and reads the winner's) instead
      // of interleaving writes into the shared path.
      val tmp = dir.resolveSibling(
        dir.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID())
      mined.write.mode("overwrite").parquet(tmp.toString)
      Dedup.releaseClusters(mined)
      Lineage.writeManifest(tmp.resolve(manifest), Lineage.newManifest()
        .put("corpus_fingerprint", corpusFingerprint).put("miner_key", minerKey))
      def deleteRecursively(p: java.nio.file.Path): Unit = {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
        finally s.close()
      }
      try {
        if (java.nio.file.Files.exists(dir)) deleteRecursively(dir) // stale key
        java.nio.file.Files.move(tmp, dir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException |
            _: java.nio.file.AccessDeniedException =>
          // a concurrent run published first — use its copy
          try deleteRecursively(tmp) catch { case _: Exception => }
      }
    }
    spark.read.parquet(dir.toString)
  }
}
