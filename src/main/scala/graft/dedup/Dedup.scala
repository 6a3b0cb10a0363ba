package graft.dedup

import graft.dedup.CorpusArtifacts.NearDupSpec
import graft.textops.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for a training-data pipeline, each designed for
  * the 100 TB shape:
  *
  *  - exact:   one shuffle on the 64-bit content fingerprint (no raw-text
  *             shuffle), window keeper election — no collect_list, so a
  *             degenerate 10^9-copy document cannot OOM a task.
  *  - MinHash: signature → banded LSH → bucket self-join → exact-Jaccard
  *             verification. Only (id, band_key, signature) rows shuffle;
  *             bucket-size capping bounds the worst-case quadratic bucket.
  *  - SimHash: 64-bit signature as a bitstring, 4×16-bit band blocking,
  *             Hamming verification.
  *  - n-gram Jaccard: block-join (same lang, length bucket) + exact
  *             set-overlap — the small-block exact fallback.
  *
  * All similarity outputs use parts-per-million longs (bit-stable for the
  * DuckDB oracle; no float hashing).
  */
object Dedup {

  /** Non-null JOIN-KEY fingerprint: null text maps to a reserved sentinel
    * instead of a null fingerprint. This keeps the all-nulls-are-ONE-group
    * semantics the null-safe (`<=>`) formulation had — null texts still
    * group together and elect a keeper — while letting every fingerprint
    * join be a plain equi-join on a non-nullable long, which is what
    * unlocks the hashed relation's primitive-long fast path (measured
    * ~2.5× faster broadcast probe than `<=>` even at toy scale; at 10^12
    * rows the probe is the per-row hot path). A real text fingerprinting
    * to the sentinel would merge with the null group — a 2^-64 event, the
    * SAME collision class a fingerprint-keyed join already accepts for any
    * pair of distinct texts.
    */
  private[graft] def fpKey(textCol: String): Column =
    coalesce(TextFunctions.fingerprint(col(textCol)), lit(Long.MinValue))

  /** Internal temp-column name guaranteed absent from `df` (underscores
    * appended until unique): an input frame that already carries `__fp` /
    * `__kfp` / `__norm` must not be clobbered or make the keeper join
    * ambiguous. (Output columns `keeper_id` / `is_dup` stay fixed — they
    * are the documented contract, not internals.)
    */
  private[dedup] def freshName(df: DataFrame, base: String): String = {
    var n = base
    while (df.columns.contains(n)) n += "_"
    n
  }

  /** Exact dedup: annotate every row with the elected keeper (min id among
    * identical texts) and a dup flag. Keeper election is `groupBy(fp).agg(min)`
    * — the partial (map-side) aggregate collapses every local copy of a
    * duplicated document to ONE row before the shuffle, so a document
    * duplicated 10^8 times (the common case in web corpora: boilerplate,
    * error pages) costs one row per map task, not one task holding all
    * copies. (The window formulation `min(id) over (partition by fp)` has no
    * partial step: the hot fingerprint's every copy lands in a single task.)
    * The join back is fp→keeper on the same key; AQE skew-join splits the
    * probe side of any residual hot key. Text itself never shuffles
    * (fingerprint only). Collision note: 64-bit FNV over 10^12 docs has
    * birthday-collision risk ~3%; for strict guarantees swap the fingerprint
    * for sha2(text, 256) — semantics are identical.
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = fpKey(textCol)
    val fpC = freshName(df, "__fp")
    val kfpC = freshName(df, "__kfp")
    val keepers = df
      .select(fp.as(kfpC), col(idCol).as("keeper_id"))
      .groupBy(kfpC).agg(min("keeper_id").as("keeper_id"))
    // equi-join on the non-null fpKey: null texts share the sentinel group
    // (the DuckDB oracle's `partition by text` puts all nulls in one group
    // too), so no row is dropped and the join key stays a primitive long
    df.withColumn(fpC, fp)
      .join(keepers, col(fpC) === col(kfpC))
      .withColumn("is_dup", col("keeper_id") =!= col(idCol))
      .drop(fpC, kfpC)
  }

  /** Normalization-insensitive exact dedup: [[exact]] keyed on
    * [[TextFunctions.normalizeText]] (case/punctuation/whitespace folded),
    * so trivially-reformatted copies of a document elect one keeper — the
    * standard first dedup pass on web corpora, where the same article
    * recurs with different casing and spacing. Same plan as [[exact]]
    * (partial+final fingerprint election, long equi-join back; the
    * normalized text itself never shuffles and never persists).
    */
  def exactNormalized(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val normC = freshName(df, "__norm")
    exact(df.withColumn(normC, TextFunctions.normalizeText(col(textCol))),
      idCol, normC)
      .drop(normC)
  }

  /** Source-priority exact dedup: like [[exact]], but the keeper of each
    * identical-text group is the copy from the most-preferred source
    * (lowest `prefCol`), with min-id as the tiebreak — the cross-source
    * discipline real curation runs use ("keep the curated-source copy,
    * drop the crawl copy"). Election is `groupBy(fp).agg(min(struct(pref,
    * id)))`: struct min orders lexicographically and has a partial
    * (map-side) step, so a 10^8-copy boilerplate page still collapses to
    * one row per map task before the shuffle; text never shuffles.
    *
    * @param prefCol integer preference, smaller = keep (e.g. a CASE over
    *                `source`, or a broadcast-joined priority dim).
    */
  def exactByPreference(
      df: DataFrame,
      prefCol: Column,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fp = fpKey(textCol)
    val fpC = freshName(df, "__fp")
    val kfpC = freshName(df, "__kfp")
    val keepers = df
      .select(fp.as(kfpC), struct(prefCol.as("p"), col(idCol).as("id")).as("__pk"))
      .groupBy(kfpC).agg(min("__pk").as("__pk"))
      .select(col(kfpC), col("__pk.id").as("keeper_id"))
    // equi-join on the non-null fpKey ([[fpKey]] doc): null texts share the
    // sentinel group and still elect a keeper
    df.withColumn(fpC, fp)
      .join(keepers, col(fpC) === col(kfpC))
      .withColumn("is_dup", col("keeper_id") =!= col(idCol))
      .drop(fpC, kfpC)
  }

  /** MinHash signature from a pre-hashed shingle array: for each of
    * `numHashes` hash functions, the min over the doc's shingle hashes. The
    * j-th function is xxhash64 re-seeded by j (no a*x+b mod p arithmetic →
    * no ANSI overflow).
    *
    * Production form: the codegen'd [[graft.expressions.MinHashSig]]
    * expression (one tight loop per row). The SQL-lambda formulation below
    * is bit-identical (differential-tested) but runs interpreted — Catalyst
    * does not codegen higher-order functions — and benched ~10× slower.
    */
  def minHashFromHashes(shingleHashes: Column, numHashes: Int): Column =
    graft.expressions.MinHashSig(shingleHashes, numHashes)

  /** Pure-built-in (SQL-lambda) formulation of [[minHashFromHashes]]: ONE
    * `aggregate` pass over the shingles with an n-wide array accumulator —
    * each shingle is hashed n ways exactly once. (The naive
    * `transform(0..n, j -> array_min(transform(hashes, ...)))` re-evaluates
    * the shingle-hash subtree once per hash function: n× the work, a 20×
    * bench slowdown.) Kept as the differential oracle for MinHashSig.
    */
  def minHashFromHashesSql(shingleHashes: Column, numHashes: Int): Column =
    aggregate(
      shingleHashes,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)), j => xxhash64(h, j)),
        (a, b) => least(a, b)))

  /** Candidate pairs from a banded (id, band_key) frame: bucket = docs
    * sharing a band key; pairs expand inside the bucket row (no self-join).
    * The gather is [[graft.expressions.CappedCollectList]] with
    * `limit = maxBucket + 1`, so a degenerate 10^8-member bucket (a
    * mass-duplicated boilerplate doc — an input a web crawl guarantees)
    * saturates its bounded buffer and is dropped by the size filter, while
    * any bucket within the cap is gathered COMPLETE — one pass, one
    * shuffle, and no aggregation buffer ever holds more than maxBucket + 1
    * entries. (A plain collect_list materializes the whole degenerate
    * bucket before any filter; a count + semi-join prune is buffer-safe
    * but executes the banded lineage — signatures, the dominant cost —
    * twice.) Shared by every LSH family: only (id, band_key) ever
    * shuffles here. A quadratic bucket is exact-duplicate territory
    * anyway; run [[exact]] first.
    */
  private[graft] def bandedPairs(banded: DataFrame, maxBucket: Int): DataFrame =
    cappedPairExpansion(banded, "band_key", "id", maxBucket).distinct()

  /** The capped gather + in-row unordered-pair expansion itself, ONE
    * definition (the cap/saturation invariant must not fork): gather ≤
    * maxBucket+1 ids per key through the bounded buffer, drop saturated
    * buckets, expand (id_a < id_b) pairs inside the bucket row. Callers
    * dedup ([[bandedPairs]]) or count ([[containmentPairs]]) downstream.
    */
  private def cappedPairExpansion(
      df: DataFrame, keyCol: String, idCol: String, maxBucket: Int): DataFrame =
    df
      .groupBy(keyCol)
      .agg(graft.expressions.CappedCollectList(col(idCol), maxBucket + 1).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      // one-pass codegen'd pair expansion — the nested-lambda form ran
      // O(bucket²) interpreted filter closures per bucket (identical pair
      // set and order; differential in SpanExprSpec)
      .select(explode(graft.expressions.UnorderedPairs(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

  /** Join candidate pairs back to their docs' TEXT and verify exact
    * Jaccard on sets built per candidate row — the verification stage
    * shared by both MinHash families. The set expression used to sit on
    * the join INPUT sides (`withSets` projections below the joins), which
    * evaluated it for every corpus row twice more (once per side) and
    * made the broadcast/shuffled verify side carry materialized sets;
    * after LSH the candidate pair set is orders of magnitude smaller than
    * the corpus, so computing sets AFTER the attach (guide §8: decide
    * with small rows, attach the payload once) does candidate-only work
    * and the verify side carries raw text. Row-for-row identical output:
    * only the evaluation site of a deterministic expression moves.
    */
  private def verifyJaccard(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      setOf: Column => Column, thresholdPpm: Long): DataFrame = {
    val ta = freshName(pairs, "__vtxt_a")
    val tb = freshName(pairs, "__vtxt_b")
    pairs
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as(ta)), Seq("id_a"))
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as(tb)), Seq("id_b"))
      .withColumn("jaccard_ppm", jaccardPpm(setOf(col(ta)), setOf(col(tb))))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select("id_a", "id_b", "jaccard_ppm")
  }

  /** One MinHash-LSH hash family: the ONE definition of a document's
    * shingle set (signature input AND exact-Jaccard verify set) and of its
    * band keys. Every LSH face — batch pairs, the incremental probes, the
    * persisted artifacts, the streaming probe — takes both from here, so a
    * stored band table and a probe's keys cannot drift.
    */
  private[graft] final case class MinHashFamily(
      shingleSet: (Column, Int) => Column,
      signature: (Column, Int) => Column,
      bandKey: (Int, Column) => Column) {
    /** (idAs, sh): one shingle set per document. */
    def sets(df: DataFrame, idCol: String, idAs: String, textCol: String,
        spec: NearDupSpec): DataFrame =
      df.select(col(idCol).as(idAs), shingleSet(col(textCol), spec.shingleSize).as("sh"))

    /** One row per (document, band): the `keep` columns of a frame carrying
      * `sh`, plus band_key. Two-step projection so the signature
      * materializes once per row: the band array references `mh` `bands`
      * times, which stops CollapseProject from inlining it back into the
      * per-band expressions (a once-referenced alias WOULD be inlined and
      * recomputed per band).
      */
    def bandKeys(withSets: DataFrame, spec: NearDupSpec, keep: String*): DataFrame = {
      val r = spec.numHashes / spec.bands
      val kept = keep.map(col)
      withSets.select(kept :+ signature(col("sh"), spec.numHashes).as("mh"): _*)
        .select(kept :+ explode(array((0 until spec.bands).map(b =>
          bandKey(b, slice(col("mh"), b * r + 1, r))): _*)).as("band_key"): _*)
    }
  }

  /** Production family: distinct xxhash64 shingle hashes (one-pass
    * codegen'd, differential-tested in SketchExprSpec), the
    * [[minHashFromHashes]] signature, band key = xxhash64(the band's
    * signature slice, band index).
    */
  private[graft] val XxHashFamily = MinHashFamily(
    graft.expressions.ShingleHashes(_, _), minHashFromHashes,
    (b, sigSlice) => xxhash64(sigSlice, lit(b)))

  /** Oracle-portable family: every hash the bucketing depends on is md5,
    * so any engine reproduces it bit-for-bit. Set = the distinct shingle
    * STRINGS (first-occurrence order, SpanExprSpec); signature j = min over
    * the set of hex(md5(j + ":" + s)) ([[graft.expressions.Md5MinHashSig]]);
    * band key = band index + ":" + the band's signature values joined by
    * "|".
    */
  private[graft] val Md5Family = MinHashFamily(
    graft.expressions.ShingleStrings(_, _, wholeIfShort = true, distinct = true),
    graft.expressions.Md5MinHashSig(_, _),
    (b, sigSlice) => concat(lit(s"$b:"), concat_ws("|", sigSlice)))

  /** MinHash + LSH near-duplicate pairs.
    *
    * @param maxBucket drop LSH buckets larger than this (a degenerate value,
    *                  e.g. the empty document, would otherwise go quadratic);
    *                  dropped buckets are exact-duplicate territory anyway —
    *                  run [[exact]] first.
    * @return (id_a, id_b, jaccard_ppm) with id_a < id_b, verified
    *         jaccard_ppm ≥ threshold (exact Jaccard over distinct shingle
    *         hashes, not the signature estimate).
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      thresholdPpm: Long = 700000L,
      maxBucket: Int = 1000): DataFrame =
    minHashPairs(XxHashFamily, NearDupSpec(numHashes, bands, shingleSize, maxBucket),
      df, idCol, textCol, thresholdPpm)

  /** The batch body of both families: only (id, band_key) shuffles — the
    * heavy sets stay behind and are rebuilt per candidate side in
    * [[verifyJaccard]].
    */
  private def minHashPairs(
      family: MinHashFamily, spec: NearDupSpec, df: DataFrame,
      idCol: String, textCol: String, thresholdPpm: Long): DataFrame = {
    val banded = family.bandKeys(family.sets(df, idCol, "id", textCol, spec), spec, "id")
    verifyJaccard(bandedPairs(banded, spec.maxBucket), df, idCol, textCol,
      family.shingleSet(_, spec.shingleSize), thresholdPpm)
  }

  /** Exact Jaccard (ppm) of two arrays (distinct-set semantics). Production
    * form: the one-pass codegen'd [[graft.expressions.JaccardPpmExpr]];
    * [[jaccardPpmSql]] is the built-in differential oracle.
    */
  def jaccardPpm(a: Column, b: Column): Column =
    graft.expressions.JaccardPpmExpr(a, b)

  /** Pure-built-in formulation of [[jaccardPpm]] (two intermediate arrays
    * per pair) — the semantics definition and differential oracle.
    */
  def jaccardPpmSql(a: Column, b: Column): Column =
    TextFunctions.ppm(size(array_intersect(a, b)), size(array_union(a, b)))

  /** 64-bit SimHash as a 64-char '0'/'1' string (string form avoids signed
    * long-overflow issues under ANSI and makes banding trivial). Bit j is 1
    * iff the sum over word hashes of ±1 (by that hash's bit j) is positive.
    * Counter order is MSB-first (bit 63 → position 0 of the string).
    *
    * Production form: the codegen'd [[graft.expressions.SimHashBits]]
    * expression; [[simHashBitsSql]] is the bit-identical SQL-lambda
    * differential oracle.
    */
  def simHashBits(text: Column): Column =
    graft.expressions.SimHashBits(graft.expressions.WordHashes(text))

  /** Pure-built-in formulation of [[simHashBits]]: single `aggregate` pass
    * with a 64-wide counter array — each word is hashed once (the transposed
    * form would hash every word 64 times). Interpreted (higher-order
    * functions don't codegen); kept as the differential oracle.
    */
  def simHashBitsSql(text: Column): Column = {
    val wordHashes = transform(TextFunctions.words(text), w => xxhash64(w))
    val counts = aggregate(
      wordHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(63), lit(0), lit(-1)),
          j => when(bit_get(h, j) === 1, 1L).otherwise(-1L)),
        (a, b) => a + b))
    array_join(
      transform(counts, c => when(c > 0, lit("1")).otherwise(lit("0"))), "")
  }

  /** SimHash banding + in-bucket Hamming verify, shared by both hash
    * families. Band b = 16-char slice at position 1 + 16b; signatures are
    * 64 chars — cheap enough to carry into the bucket and verify in place
    * (no join-back needed, unlike MinHash shingle sets). Hamming emitted as
    * long (oracle-schema friendly). The gather is the size-capped
    * aggregate, same rationale as [[bandedPairs]]: bounded buffers, one
    * pass, degenerate buckets saturate and are filtered out.
    */
  private def simHashBandedPairs(
      sigs: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val banded = sigs.select(
      struct(col("id"), col("sig")).as("ds"),
      explode(array((0 until 4).map(bd =>
        concat(lit(s"$bd:"), substring(col("sig"), 1 + bd * 16, 16))): _*)).as("band_key"))
    banded
      .groupBy("band_key")
      .agg(graft.expressions.CappedCollectList(col("ds"), maxBucket + 1).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      // one-pass codegen'd (id, sig) pair expansion — same rationale and
      // differential as cappedPairExpansion's
      .select(explode(graft.expressions.UnorderedPairs(col("ds"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sig_a").as("sig_a"), col("p.sig_b").as("sig_b"))
      // verify BEFORE the dedup shuffle: a pair's signatures are fixed, so
      // hamming-filter-then-distinct ≡ distinct-then-filter, but the
      // exchange now carries (id_a, id_b, hamming) survivors instead of
      // every candidate with two 64-char signatures (guide §2.3)
      .withColumn("hamming", hammingBits(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs: 4×16-bit band blocking, Hamming-distance
    * verification ≤ maxHamming. Same bucket-cap rationale as MinHash.
    * The signature projection keeps `sig` referenced 4× so it is not
    * inlined (see minHashLshPairs note).
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    simHashBandedPairs(
      df.select(col(idCol).as("id"), simHashBits(col(textCol)).as("sig")),
      maxHamming, maxBucket)

  /** Hamming distance between two equal-length bitstrings (one-pass
    * codegen'd expression; [[hammingBitsSql]] is the differential oracle).
    */
  def hammingBits(a: Column, b: Column): Column =
    graft.expressions.HammingDist(a, b)

  /** Pure-built-in formulation of [[hammingBits]]. */
  def hammingBitsSql(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, v) => acc + v)

  // ---- oracle-portable (md5-family) variants --------------------------------
  //
  // Same LSH shapes as the xxhash64 production paths above, but every hash
  // the BUCKETING depends on is md5 — computable bit-for-bit by any engine —
  // so the driver's DuckDB oracle can verify banding, bucket caps, pair
  // generation AND verification thresholds value-for-value (the xxhash64
  // paths only ever get rows-only checks). Plans are identical in shape:
  // only (id, band_key) shuffles, caps bound degenerate buckets.

  /** [[minHashLshPairs]] under the md5 hash family ([[Md5Family]]):
    * verification = exact Jaccard over the distinct shingle-STRING sets.
    */
  def minHashLshPairsPortable(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      thresholdPpm: Long = 700000L,
      maxBucket: Int = 1000): DataFrame =
    minHashPairs(Md5Family, NearDupSpec(numHashes, bands, shingleSize, maxBucket),
      df, idCol, textCol, thresholdPpm)

  /** [[simHashBits]] under the md5 hash family: word hash = first 8 bytes of
    * md5(word), big-endian (see [[graft.expressions.Md5WordHashes]]); the
    * voting/banding logic is the shared [[graft.expressions.SimHashBits]].
    */
  def simHashBitsPortable(text: Column): Column =
    graft.expressions.SimHashBits(graft.expressions.Md5WordHashes(text))

  /** [[simHashPairs]] under the md5 hash family; hamming emitted as long for
    * oracle-schema parity.
    */
  def simHashPairsPortable(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    simHashBandedPairs(
      df.select(col(idCol).as("id"), simHashBitsPortable(col(textCol)).as("sig")),
      maxHamming, maxBucket)

  /** Connected components over a near-dup pair graph: every document gets
    * the MINIMUM id reachable through the pairs — its cluster id, which is
    * also the cluster's elected keeper (`is_canonical = doc_id ==
    * cluster_id`). This is the stage that turns pairwise similarity output
    * into dedup DECISIONS: `pairs → clusters → keep one per cluster`.
    *
    * ONE CONTRACTION LOOP ([[hierarchicalLabels]], the 100 TB path): the
    * mined pairs are level 0's edge set, and every level runs the same
    * steps until one of them exits.
    *  1. FITS THE DRIVER: the level's edges have at most
    *     `min(edgesPerTask, budget)` rows → collect them and solve with a
    *     driver-local union-find. At level 0 these are the raw pairs (the
    *     common near-dup case: no contraction, no shuffle), tested only
    *     when `driverSolveMaxEdges > 0`.
    *  1. FIXPOINT (levels ≥ 1): the edge set did not shrink to ≤ 70% of
    *     the level below, or the level cap `maxIters` is hit → the
    *     diameter-bounded min-label fixpoint ([[distributedFixpointLabels]]
    *     — one co-partitioned join + partial+final min per round) finishes
    *     the by-then-much-smaller survivor graph; it is kept as the
    *     proven-correct fallback, not the primary path.
    *  1. CONTRACT: union-find over hash-by-source edge partitions (every
    *     node → its LOCAL set minimum; hash-by-s colocates each node's
    *     out-star so whole components collapse in-task) feeding ONE
    *     per-node rollup that carries both the canonical rep (min — the
    *     back-prop mapping) and the node's full rep set (bounded by
    *     partitions-touched). Then: the (node, rep) pairs fit `budget` →
    *     solve them on the driver; every node saw one partition → fully
    *     contracted, nothing above; otherwise the DEDUPLICATED glue graph,
    *     projected from the rep sets without any join, is the next level.
    *
    * Labels then propagate back down the per-level mappings. The serial
    * cost is two barriers per LEVEL (typically 2 levels end-to-end)
    * instead of one driver-scheduled round per component DIAMETER hop,
    * which is what kept the old per-round fixpoint under the 0.8 scaling
    * bar; contraction partitioning is data-sized, not core-proportional,
    * so a bigger cluster does the identical work faster rather than more
    * work (see the in-body comment). Invariant making the final min
    * election exact: a component's global-minimum id is the local minimum
    * of every partition set that contains it, so it survives every level as
    * its own rep — the top-level solve (or a fully-contracted component's
    * shared rep) always elects the true component minimum, which is what
    * the exact reachability oracle checks.
    *
    * @param docs  frame holding every document (singletons become their own
    *              cluster) — pass the same frame the pairs were mined from.
    * @param pairs (id_a, id_b) rows, any orientation, duplicates fine.
    * @param driverSolveMaxEdges the driver-solve `budget`: when a level's
    *              edges or contracted pairs have at most this many rows,
    *              finish with a driver-local union-find — the standard
    *              final phase of production CC (contract until small, then
    *              solve locally), threshold-gated exactly like a broadcast
    *              join. The default (1M 2-column rows ≈ low hundreds of MB
    *              of transient driver structures) is sized like a large
    *              broadcast; raise it only with driver heap to spare.
    *              Pass 0 to skip the level-0 test (every input runs at
    *              least one distributed contraction level); the loop then
    *              uses the default budget and still ends in a bounded
    *              ≤1M-row solve — contracting until the survivor graph fits
    *              the driver is the point of the design, and that final
    *              materialization is the same bet a broadcast join makes.
    *              Ids must be an atomic comparable type (string/numeric —
    *              not binary/struct): both phases key hash maps and elect
    *              min labels on them.
    * @param edgesPerTask memory budget for the contraction: each level's
    *              edges hash-partition by source into
    *              ceil(edges / edgesPerTask) tasks, bounding each task's
    *              union-find map (≈100 B/edge of boxed state); it also caps
    *              the edge sets step 1 hands to the driver. Exposed for
    *              executor-heap tuning and for tests.
    * @return one row per doc: (idCol, cluster_id).
    */
  def nearDupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 20,
      driverSolveMaxEdges: Long = DefaultDriverSolveEdges,
      edgesPerTask: Long = 500000L): DataFrame = {
    // materialize the MINED pairs once as level 0's (s, t) edge set: every
    // consumer below reads the checkpoint, never the mining pipeline
    // (banding → bucket join → verify). The pair count rides the
    // checkpoint action as an observe metric (no extra job) — it sizes the
    // contraction below
    val pObs = org.apache.spark.sql.Observation()
    val p = pairs.select(col("id_a").as("s"), col("id_b").as("t"))
      .observe(pObs, coalesce(count(lit(1)), lit(0L)).as("n"))
      .localCheckpoint()
    val labels = hierarchicalLabels(p, 2L * pObs.get("n").asInstanceOf[Long],
      docs.sparkSession.sessionState.conf.numShufflePartitions, maxIters,
      driverSolveMaxEdges, edgesPerTask)
    // singletons rejoin here: every doc absent from the edge-incident label
    // set is its own cluster. The returned frame stays backed by the final
    // labels (a LocalRelation on the driver path; 2 columns ×
    // edge-incident nodes of checkpoint blocks on the distributed path —
    // the big edge/intermediate blocks were released by the loop); call
    // [[releaseClusters]] when done to free checkpoint blocks immediately
    // instead of waiting for GC + ContextCleaner
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", "__lid"),
        col(idCol) === col("__lid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Default driver-solve budget of [[nearDupClusters]], in edge rows. */
  private val DefaultDriverSolveEdges = 1000000L

  /** Mutable union-find over opaque ids (HashMap parent forest, path
    * compression) — ONE implementation for the phase-1 task-local
    * contraction and the driver-local final solve; instantiated where it
    * runs, never serialized.
    */
  private final class UnionFind {
    private val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      if (!parent.containsKey(x)) { parent.put(x, x); x }
      else {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
    }
    def union(a: Any, b: Any): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { parent.put(ra, rb); () }
    }
    /** The min-label election: one Row(node, minimum of its set in Spark
      * order — [[sparkLt]]) per node.
      */
    def minLabelRows: Iterator[org.apache.spark.sql.Row] = {
      import scala.jdk.CollectionConverters._
      // frozen node list — find()'s path compression mutates the map, and
      // HashMap iteration under mutation throws
      val nodes = parent.keySet.asScala.toVector
      val minOf = new java.util.HashMap[Any, Any]()
      nodes.foreach { n =>
        val r = find(n)
        val m = minOf.get(r)
        if (m == null || sparkLt(n, m)) minOf.put(r, n)
      }
      nodes.iterator.map(n => org.apache.spark.sql.Row(n, minOf.get(find(n))))
    }
  }

  /** Spark-consistent "less than" for driver-side label election: STRING
    * ids compare as UTF-8 bytes (Spark's `min` on StringType is UTF8String
    * binary order, which diverges from java.lang.String's UTF-16 order on
    * supplementary characters); numeric/date ids via their natural
    * Comparable order, which matches Spark's.
    */
  private def sparkLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
  }

  /** Driver-local final phase: union-find over the (small, contracted,
    * already-collected) star edges with min-id label election — replaces
    * diameter-many distributed rounds with O(E α(E)) local work.
    */
  private def driverSolveLabels(
      spark: org.apache.spark.sql.SparkSession,
      starEdges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val uf = new UnionFind
    starEdges.foreach(row => uf.union(row.get(0), row.get(1)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(uf.minLabelRows.toVector.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** One contraction level: union-find per edge partition, emitting one
    * (node, rep) row per node PER PARTITION, rep = the partition-local set
    * MINIMUM in Spark order ([[sparkLt]]). Duplicate/self edges are
    * harmless to union-find, and correctness holds under ANY partitioning —
    * layout only affects how fast the graph shrinks. mapPartitions is
    * warranted: union-find's mutable parent forest has no Catalyst
    * equivalent.
    */
  private def contractMapping(edges: DataFrame): DataFrame = {
    val idType = edges.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("rep", idType)))
    edges.sparkSession.createDataFrame(
      edges.rdd.mapPartitions { it =>
        val uf = new UnionFind // instantiated per task, never serialized
        it.foreach(row => uf.union(row.get(0), row.get(1)))
        uf.minLabelRows
      }, schema)
  }

  /** Per-node rollup of the contraction mapping — (node, canonical rep =
    * min, full rep set) — as a partition-local HASH aggregation after one
    * hash-by-node exchange. The former
    * `groupBy(node).agg(min(rep), collect_set(rep))` ran through
    * ObjectHashAggregateExec, which falls back to SORT-BASED aggregation
    * past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128 keys) — so every contraction level paid an external
    * sort of the full mapping (measured 28 s/level at 64M docs,
    * local[16]). Here the same exchange feeds a mapPartitions hash map:
    * no sort, and per-task memory is bounded by the data-sized partition
    * count (each node's rep set is ≤ the number of edge partitions that
    * saw it — a handful). mapPartitions is warranted for the same reason
    * as [[contractMapping]]: Catalyst offers no sort-free object
    * aggregation at this cardinality.
    */
  private def aggregateMapping(mapping: DataFrame, parts: Int): DataFrame = {
    val idType = mapping.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("rep", idType),
      org.apache.spark.sql.types.StructField("__reps",
        org.apache.spark.sql.types.ArrayType(idType, containsNull = false))))
    mapping.sparkSession.createDataFrame(
      mapping.repartition(parts, col("node")).rdd.mapPartitions { it =>
        val m = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
        it.foreach { row =>
          val n = row.get(0)
          val r = row.get(1)
          var l = m.get(n)
          if (l == null) {
            l = new java.util.ArrayList[Any](2)
            m.put(n, l)
          }
          // set semantics; a node's reps are ≤ partitions-touched (tiny),
          // so the linear contains is cheaper than any set structure
          if (!l.contains(r)) { l.add(r); () }
        }
        import scala.jdk.CollectionConverters._
        m.entrySet().iterator().asScala.map { e =>
          val reps = e.getValue
          var minRep = reps.get(0)
          var i = 1
          while (i < reps.size) {
            if (sparkLt(reps.get(i), minRep)) minRep = reps.get(i)
            i += 1
          }
          org.apache.spark.sql.Row(e.getKey, minRep, reps.asScala.toSeq)
        }
      }, schema)
  }

  /** The one contraction loop of [[nearDupClusters]] (its scaladoc lists
    * the steps and exits). `p` is level 0's edge set — the checkpointed
    * pairs as (s, t), unsymmetrized; `nEdges` is twice its row count, the
    * symmetrized figure every level's size tests use. Each level's edge
    * checkpoint, `p` included, is released once consumed. Returns
    * (id, cluster_id) for every edge-incident node: a driver-side
    * LocalRelation when level 0 solves, otherwise one final checkpoint
    * (every intermediate — level edges, mappings, the top labels — is
    * released before return).
    */
  private def hierarchicalLabels(
      p: DataFrame,
      nEdges: Long,
      parts: Int,
      maxIters: Int,
      driverSolveMaxEdges: Long,
      edgesPerTask: Long): DataFrame = {
    val spark = p.sparkSession
    val idType = p.schema.head.dataType
    // with the level-0 test disabled (≤ 0) the loop still ends in a
    // bounded driver solve — that IS the design (see scaladoc)
    val budget =
      if (driverSolveMaxEdges > 0) driverSolveMaxEdges else DefaultDriverSolveEdges
    // Contraction partitioning is DATA-SIZED, not core-proportional: the
    // mapping/glue volume a level emits GROWS with its partition count
    // (each extra partition splits components and every split is a glue
    // edge), so sizing partitions to cores makes the 4N-executor run do
    // MORE total work than the N run — measured as a structural scaling
    // penalty (0.59 efficiency) before this was fixed. With a fixed
    // data-sized count, both cluster sizes contract the identical graph
    // into identical partitions and parallelism comes from scheduling
    // those tasks across more cores, which is the scalable axis.
    def dataSizedParts(n: Long): Int =
      math.max(1, math.ceil(n.toDouble / edgesPerTask).toInt)
    // collect a checkpointed edge set (releasing a projection of a
    // checkpoint releases the checkpoint) and solve it on the driver
    def solve(edges: DataFrame): Option[DataFrame] = {
      val rows = edges.collect()
      releaseLocalCheckpoint(edges)
      Some(driverSolveLabels(spark, rows, idType))
    }
    val mappings = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // one level over `edges` (nE rows symmetrized; nPrev = the level
    // below's count). Returns the top level's labels, None when every
    // component fully contracted.
    @scala.annotation.tailrec
    def level(i: Int, edges: DataFrame, nE: Long, nPrev: Long): Option[DataFrame] =
      if ((i > 0 || driverSolveMaxEdges > 0) &&
        nE <= math.min(edgesPerTask, budget)) {
        // the edges fit the driver: at level 0 the raw pairs straight off
        // the checkpoint (no repartition); above it the deduplicated glue,
        // where contracting first would buy one more level of barriers to
        // shrink a graph the solve bound already accepts
        solve(edges)
      } else if (i > 0 && (i >= maxIters || nE > (nPrev * 7) / 10)) {
        // pathological non-shrinking graph: finish the (by now much
        // smaller) survivor graph with the diameter-bounded min-label
        // fixpoint — proven correct on any symmetric edge set. Edges
        // re-lay-out hash-partitioned on the join key so every round's
        // edge⋈label join reuses the layout with NO per-round shuffle.
        val fx = edges.repartition(parts, col("s")).localCheckpoint()
        releaseLocalCheckpoint(edges)
        val top = distributedFixpointLabels(fx, parts, maxIters)
        releaseLocalCheckpoint(fx)
        Some(top)
      } else {
        // Edges hash-partition BY SOURCE NODE, which colocates each node's
        // out-star, so the task-local union-find collapses whole
        // components that fit a partition — measured on the 4M-doc bench
        // graph, the glue graph shrinks from ~0.75× the edge set
        // (round-robin level 0: almost no consolidation, instant
        // non-shrink fallback) to near-zero, which is the whole point of
        // contracting. Memory stays bounded by construction: the explicit
        // partition count caps EXPECTED edges per task (no AQE coalescing
        // into a few fat partitions — the 16M-doc OOM of round 4), and
        // per-node degree is capped by the pair MINERS themselves
        // (bandedPairs/cappedPairExpansion emit ≤ bands × maxBucket
        // neighbors per node); callers feeding UNCAPPED pair sets with
        // extreme hubs should raise edgesPerTask headroom accordingly. At
        // levels ≥ 1 hub degree is bounded by the previous level's
        // per-task node count. Level 0 is the UNSYMMETRIZED pair set
        // (union-find is orientation-blind; doubling the rows doubles the
        // task input for zero extra merging), so its partitions are sized
        // by its actual row count, nE / 2 — over-partitioning splits
        // components and every split becomes a glue edge.
        val rows = if (i == 0) nE / 2 else nE
        // ONE rollup per level carries everything the level needs: the
        // canonical rep (min over the node's per-partition reps — the
        // back-prop mapping) AND the full rep set (bounded by
        // partitions-touched ≤ partition count, NOT by degree), from which
        // the glue edges project without any join. Both row counts ride
        // the same checkpoint action as observe metrics; the rollup is the
        // sort-free hash aggregation of [[aggregateMapping]].
        val aObs = org.apache.spark.sql.Observation()
        val agg = aggregateMapping(
            contractMapping(edges.repartition(dataSizedParts(rows), col("s"))),
            dataSizedParts(nE))
          .observe(aObs,
            coalesce(count(lit(1)), lit(0L)).as("nodes"),
            coalesce(sum(size(col("__reps")).cast("long")), lit(0L)).as("pairs"))
          .localCheckpoint()
        val nNodes = aObs.get("nodes").asInstanceOf[Long]
        val nPairs = aObs.get("pairs").asInstanceOf[Long]
        releaseLocalCheckpoint(edges)
        if (nPairs <= budget) {
          // the full (node—rep) multi-mapping fits the driver: those rows
          // ARE edges of the survivor graph, solve locally
          solve(agg.select(col("node"), explode(col("__reps")).as("rep")))
        } else {
          mappings += agg.select(col("node"), col("rep")) // rides agg's ckpt
          if (nPairs == nNodes) {
            // every node saw exactly ONE partition → no node links two
            // partition-local sets → the glue graph is empty BY
            // ARITHMETIC (a node with several reps always glues its min
            // to another); labels come from the back-propagation
            None
          } else {
            // next level's edges: each node glues its canonical rep to
            // every other rep it saw — the graph shrinks to
            // cross-partition glue only. DEDUPLICATED BEFORE SYMMETRIZING:
            // the projection emits one (canonical, local-rep) row per
            // NODE, but the information is per REP PAIR — on the 4M-doc
            // bench graph the raw glue is ~4.6M rows whose distinct set is
            // far smaller, so skipping the distinct() "to save a shuffle"
            // feeds the next level a nearly-unshrunken graph and defeats
            // the contraction (measured: instant non-shrink fallback). The
            // distinct's partial+final aggregate collapses duplicates
            // map-side; symmetrization explodes AFTER it (the fixpoint
            // fallback requires symmetry).
            val eObs = org.apache.spark.sql.Observation()
            val glue = agg.where(size(col("__reps")) > 1)
              .select(col("rep").as("r1"), explode(col("__reps")).as("r2"))
              .where(col("r1") =!= col("r2"))
              .distinct()
              .select(explode(array(
                struct(col("r1").as("s"), col("r2").as("t")),
                struct(col("r2").as("s"), col("r1").as("t")))).as("e"))
              .select(col("e.s").as("s"), col("e.t").as("t"))
              .observe(eObs, coalesce(count(lit(1)), lit(0L)).as("n"))
              .localCheckpoint()
            level(i + 1, glue, eObs.get("n").asInstanceOf[Long], nE)
          }
        }
      }
    val top = level(0, p, nEdges, 0L)
    // back-propagate: a level-i node's label is its canonical rep's label
    // one level up, falling back to the rep itself — a rep with no label
    // above is a component that fully contracted, and a fully-contracted
    // component's shared rep IS its global minimum (scaladoc invariant).
    // With nothing above (the fully-contracted exit, the common case) the
    // step projects rep directly instead of joining the biggest mapping
    // against an empty frame (measured: one full shuffle join of the
    // level-0 mapping saved at 64M docs).
    val labels = mappings.foldRight(top) { (m, above) =>
      Some(above match {
        case None => m.select(col("node").as("id"), col("rep").as("cluster_id"))
        case Some(l) => m
          .join(l.select(col("id").as("__rid"), col("cluster_id")),
            col("rep") === col("__rid"), "left")
          .select(col("node").as("id"),
            coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      })
    }.get // defined: the only exit without labels adds a mapping first
    if (mappings.isEmpty) labels
    else {
      // one checkpoint materializes the whole back-prop chain, then every
      // intermediate (mappings, top-level labels) is released — the caller
      // holds 2 columns × edge-incident nodes, nothing else
      val out = labels.localCheckpoint()
      mappings.foreach(releaseLocalCheckpoint)
      top.foreach(releaseLocalCheckpoint)
      out
    }
  }

  /** Distributed min-label fixpoint over the (symmetric, co-partitioned,
    * checkpointed) edge frame — the fallback for survivor graphs that stop
    * shrinking under contraction. Returns (id, cluster_id) for every
    * edge-incident node, backed by the final round's checkpoint.
    */
  private def distributedFixpointLabels(
      edges: DataFrame, parts: Int, maxIters: Int): DataFrame = {
    var labels = edges.select(col("s").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id"))
      .repartition(parts, col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // aggregated messages: each node's label crosses its edges once and a
      // partial+final min folds map-side — no node's full neighborhood ever
      // concentrates in one task. The edge⋈label join is co-partitioned
      // (above); the label⋈message join arrives partitioned on the groupBy
      // key.
      val minMsgs = edges.join(labels, col("s") === col("id"))
        .groupBy(col("t")).agg(min("cluster_id").as("__m"))
      // fused convergence check: the SAME checkpoint action that
      // materializes the round delivers the changed-label count via
      // observe — one action per round (the previous separate join+isEmpty
      // probe doubled the per-round job count)
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(minMsgs, col("id") === col("t"), "left")
        .select(col("id"),
          when(col("__m") < col("cluster_id"), col("__m"))
            .otherwise(col("cluster_id")).as("cluster_id"),
          coalesce(col("__m") < col("cluster_id"), lit(false)).as("__chg"))
        .observe(obs,
          coalesce(sum(col("__chg").cast("long")), lit(0L)).as("changed"))
        .select("id", "cluster_id")
        .localCheckpoint()
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      releaseLocalCheckpoint(labels) // superseded round: free its blocks NOW
      labels = next
      iter += 1
    }
    // loud failure, not a warning: returning upper-bound labels would
    // surface as an inexplicable value mismatch against the exact-fixpoint
    // oracle, far from the root cause
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within maxIters=$maxIters " +
          "(component diameter exceeds the bound); raise maxIters")
    labels
  }

  /** Free the checkpoint blocks behind a [[nearDupClusters]] result. */
  def releaseClusters(clusters: DataFrame): Unit =
    releaseLocalCheckpoint(clusters)

  /** Unpersist the block-manager blocks behind a localCheckpoint'ed frame
    * (Dataset.unpersist does not reach them — the RDD was persisted by the
    * checkpoint machinery, not by cache()).
    */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  // ---- substring-level dedup / decontamination ------------------------------
  //
  // Document-level dedup (exact/MinHash/SimHash above) misses repeated LONG
  // SPANS inside otherwise-distinct documents — boilerplate, licenses,
  // quoted passages — which public work ("Deduplicating Training Data Makes
  // Language Models Better") removes at the substring level with suffix
  // arrays. The distributed shape here is the bucketed long-shingle
  // approximation: every k-word span fingerprints to md5 (oracle-portable),
  // only (id, pos, fp) rows ever shuffle, and cross-doc repetition is a
  // partial+final aggregate on the fingerprint.

  /** Per-row array of k-word span md5 fingerprints, position-ordered
    * (docs shorter than k words → empty array). The SINGLE definition of
    * "what a span is" — every span operator (flag, trim, decontaminate,
    * the streaming face) derives from it, so they cannot drift.
    */
  def spanFps(text: Column, k: Int): Column =
    // one-pass codegen'd builder; null text → empty (the lambda form's
    // `when` semantics). [[spanFpsSql]] is the differential oracle.
    coalesce(graft.expressions.Md5SpanFps(text, k),
      array().cast("array<string>"))

  /** Pure-built-in formulation of [[spanFps]] — kept as the semantics
    * definition and differential oracle (SpanExprSpec): the lambda
    * re-evaluates the word split per span (O(words²), interpreted), which
    * is why the one-pass expression replaced it on the hot path.
    */
  def spanFpsSql(text: Column, k: Int): Column = {
    val ws = TextFunctions.words(text)
    when(size(ws) >= k,
      transform(sequence(lit(1), size(ws) - (k - 1)),
        i => md5(concat_ws(" ", slice(ws, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** One row per k-word span occurrence: (doc_id, pos, span_fp). Docs
    * shorter than k words emit nothing — whole-doc duplication is
    * [[exact]]/[[minHashLshPairs]] territory.
    */
  private def spanOccurrences(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(spanFps(col(textCol), k)))
      .withColumnRenamed("col", "span_fp")

  /** Substring-level dedup: every occurrence of a k-word span that appears
    * in ≥ `minDocs` DISTINCT documents, with the span's document count —
    * the flag set a trim/removal pass consumes. 100 TB shape: spans carry
    * only (id, pos, 32-char fp); the distinct-doc count is a partial+final
    * aggregate over (fp, id) then (fp) — a span duplicated across 10^8 docs
    * collapses map-side, never concentrating in one task; the join back is
    * fp-keyed with AQE skew-split on boilerplate fingerprints.
    *
    * @return (doc_id, pos, span_fp, n_docs), pos = 0-based word offset.
    */
  def substringDupSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val spans = spanOccurrences(df, idCol, textCol, k)
    val dupFps = spans.select("span_fp", "doc_id").distinct()
      .groupBy("span_fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    spans.join(dupFps, Seq("span_fp"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("span_fp"), col("n_docs"))
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: flag each NEW-batch
    * document whose text already exists in the sealed corpus, with the
    * corpus keeper's id. The sealed side (orders of magnitude larger than
    * the increment) reduces to one fingerprint→min-id row per distinct
    * text via a partial+final aggregate — its text never shuffles and the
    * reduced frame is what the new batch joins (fp-keyed; at real scale
    * this is the join you bucket the sealed fingerprint table on, making
    * every nightly increment exchange-free on the corpus side). Null
    * semantics via [[fpKey]]: a null-text increment row matches the
    * corpus' null-text group, same as [[exact]], with the join still a
    * primitive-long equi-join.
    *
    * @return newDocs + (corpus_keeper: min corpus id with identical text,
    *         -1 if unseen; in_corpus: flag).
    */
  def incrementalExact(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    incrementalExactProbe(newDocs, idCol, textCol,
      exactKeeperTable(corpus, idCol, textCol, _))

  /** The sealed corpus's fingerprint → keeper table, one (keyAs,
    * corpus_keeper = min id) row per distinct text through ONE
    * partial+final aggregate: what [[incrementalExact]] joins inline and
    * [[CorpusArtifacts.writeExactFingerprints]] persists.
    */
  private[dedup] def exactKeeperTable(
      corpus: DataFrame, idCol: String, textCol: String, keyAs: String): DataFrame =
    corpus.select(fpKey(textCol).as(keyAs), col(idCol).as("corpus_keeper"))
      .groupBy(keyAs).agg(min("corpus_keeper").as("corpus_keeper"))

  /** The exact probe behind [[incrementalExact]] and
    * [[CorpusArtifacts.incrementalExactPrepared]]: the increment's [[fpKey]]
    * left-joins `keepers(k)`, the keeper table with its key renamed to `k`,
    * a name fresh in `newDocs` — an increment already carrying `__fp`,
    * `__cfp` or `text_fp` is neither clobbered nor made ambiguous.
    */
  private[dedup] def incrementalExactProbe(
      newDocs: DataFrame, idCol: String, textCol: String,
      keepers: String => DataFrame): DataFrame = {
    val fpC = freshName(newDocs, "__fp")
    val cfpC = freshName(newDocs, "__cfp")
    newDocs.withColumn(fpC, fpKey(textCol))
      .join(keepers(cfpC), col(fpC) === col(cfpC), "left")
      .withColumn("in_corpus", col("corpus_keeper").isNotNull)
      .withColumn("corpus_keeper", coalesce(col("corpus_keeper"),
        lit(-1L).cast(newDocs.schema(idCol).dataType))) // sentinel in id's type
      .drop(fpC, cfpC)
  }

  /** INCREMENTAL near-dup: LSH-probe a NEW batch against the sealed
    * corpus's MinHash band table — flag near-duplicates of existing
    * documents WITHOUT re-mining corpus-internal pairs (the daily-ingest
    * sibling of [[minHashLshPairsPortable]], md5 family so the oracle
    * reproduces every value). Asymmetric by design: candidates are
    * new×corpus band-key collisions only; corpus×corpus pairs never
    * materialize. 100 TB shape: the corpus band table (band_key, id) is
    * the precomputed artifact you bucket by band_key, so the nightly
    * increment shuffles only the new batch's (id, band_key) rows; each
    * corpus bucket is gathered once through the bounded
    * [[graft.expressions.CappedCollectList]] and saturated (degenerate)
    * buckets are dropped before any join — a boilerplate band key shared
    * by 10^8 corpus docs costs maxBucket+1 buffer slots, never a
    * quadratic candidate set. Verification is exact Jaccard over the
    * distinct shingle-string sets, same as the batch family.
    *
    * @return (idCol, corpus_id, jaccard_ppm): one row per verified
    *         (new doc, corpus doc) near-dup pair, jaccard_ppm ≥ threshold.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      thresholdPpm: Long = 700000L,
      maxBucket: Int = 1000): DataFrame =
    incrementalNearDupBatch(Md5Family,
      NearDupSpec(numHashes, bands, shingleSize, maxBucket),
      newDocs, corpus, idCol, textCol, thresholdPpm)

  /** [[incrementalNearDupPairs]] under the PRODUCTION xxhash64 hash family —
    * same plan shape, one codegen'd hash pass instead of one md5 per
    * shingle per signature slot (the md5 cost buys the portable variant its
    * full value oracle; this twin is what a deployment runs, pinned by the
    * shared-core structure + the family differentials in SketchExprSpec).
    */
  def incrementalNearDupPairsFast(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      thresholdPpm: Long = 700000L,
      maxBucket: Int = 1000): DataFrame =
    incrementalNearDupBatch(XxHashFamily,
      NearDupSpec(numHashes, bands, shingleSize, maxBucket),
      newDocs, corpus, idCol, textCol, thresholdPpm)

  /** [[incrementalNearDupCore]] with the corpus tables built inline. The
    * verify side attaches `(id_c, text)` and builds the set after the
    * attach (same guide-§8 move as [[verifyJaccard]]): the corpus pays one
    * set pass for the band table — every corpus doc must band — and only
    * LSH-candidate corpus rows pay the verify-side set.
    */
  private def incrementalNearDupBatch(
      family: MinHashFamily, spec: NearDupSpec, newDocs: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      thresholdPpm: Long): DataFrame = {
    val ctxtC = freshName(newDocs, "__ctxt")
    incrementalNearDupCore(newDocs, family, spec,
      corpusBandTable(family, family.sets(corpus, idCol, "id_c", textCol, spec), spec),
      corpus.select(col(idCol).as("id_c"), col(textCol).as(ctxtC)),
      family.shingleSet(_, spec.shingleSize), idCol, textCol, thresholdPpm)
  }

  /** The capped corpus band table (band_key, id_c): bounded gather per
    * bucket, saturated buckets dropped (exact-dup territory — run
    * incrementalExact first), re-exploded to a bounded probe table;
    * singleton buckets stay. ONE definition for the inline probes and the
    * persisted artifact, so the cap/saturation invariant cannot fork.
    */
  private[dedup] def corpusBandTable(
      family: MinHashFamily, corpusSets: DataFrame, spec: NearDupSpec): DataFrame =
    family.bandKeys(corpusSets, spec, "id_c")
      .groupBy("band_key")
      .agg(graft.expressions.CappedCollectList(col("id_c"), spec.maxBucket + 1).as("ids"))
      .filter(size(col("ids")) <= spec.maxBucket)
      .select(col("band_key"), explode(col("ids")).as("id_c"))

  /** The one incremental-LSH probe — increment band keys ⋈ a prebuilt
    * [[corpusBandTable]] → distinct new×corpus candidates → exact-Jaccard
    * verify — behind both families and
    * [[CorpusArtifacts.incrementalNearDupPrepared]]. Corpus-internal pairs
    * never materialize. The increment joins its own sets (small by
    * contract, already built for banding); the corpus verify side is
    * `corpusVerify` (id_c, x) with `corpusSetOf(x)` its set — text and the
    * set builder, or a stored set and identity.
    */
  private[dedup] def incrementalNearDupCore(
      newDocs: DataFrame, family: MinHashFamily, spec: NearDupSpec,
      corpusBands: DataFrame, corpusVerify: DataFrame, corpusSetOf: Column => Column,
      idCol: String, textCol: String, thresholdPpm: Long): DataFrame = {
    val newSets = family.sets(newDocs, idCol, "id_n", textCol, spec)
    val candidates = family.bandKeys(newSets, spec, "id_n")
      .join(corpusBands, "band_key")
      .select("id_n", "id_c").distinct()
    val x = corpusVerify.columns.filter(_ != "id_c").head
    candidates
      .join(newSets, "id_n")
      .join(corpusVerify, "id_c")
      .withColumn("jaccard_ppm", jaccardPpm(col("sh"), corpusSetOf(col(x))))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select(col("id_n").as(idCol), col("id_c").as("corpus_id"), col("jaccard_ppm"))
  }

  /** Cross-document CONTAINMENT pairs: documents sharing ≥ `minShared`
    * distinct k-word spans, scored by containment_ppm = shared /
    * min(n_spans_a, n_spans_b) — the asymmetric overlap measure that
    * catches quotation/wrapping (a short doc embedded in a much larger
    * one), which symmetric Jaccard under-scores precisely because the
    * union is dominated by the larger doc. 100 TB shape: per-doc span
    * sets collapse to (doc, fp) rows; each fp bucket gathers through the
    * bounded [[graft.expressions.CappedCollectList]] and expands pairs
    * in-row (a boilerplate span shared by 10^8 docs saturates the cap and
    * is dropped, never materialized); the shared-span count is a
    * partial+final aggregate over the expanded pairs; the two n_spans
    * join-backs are id-keyed.
    *
    * @return (id_a, id_b, shared_spans, containment_ppm), id_a < id_b.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      minShared: Int = 2,
      maxBucket: Int = 64): DataFrame = {
    val docSpans = spanOccurrences(df, idCol, textCol, k)
      .select(col("doc_id"), col("span_fp")).distinct()
    val nSpans = docSpans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val shared = cappedPairExpansion(docSpans, "span_fp", "doc_id", maxBucket)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_spans"))
      .filter(col("shared_spans") >= minShared)
    shared
      .join(nSpans.select(col("doc_id").as("id_a"), col("n_spans").as("n_spans_a")), Seq("id_a"))
      .join(nSpans.select(col("doc_id").as("id_b"), col("n_spans").as("n_spans_b")), Seq("id_b"))
      .withColumn("containment_ppm",
        expr("shared_spans * 1000000L div least(n_spans_a, n_spans_b)"))
      .select("id_a", "id_b", "shared_spans", "containment_ppm")
  }

  /** Remove duplicated spans (the published pipelines' "all but one copy"
    * rule): every word covered by a NON-CANONICAL duplicated-span
    * occurrence is dropped, where the canonical occurrence of a span is
    * the globally first one by (doc_id, pos). Disjoint duplicated
    * passages therefore keep exactly one copy; when duplicated spans
    * OVERLAP, a removal for one span can cut into another span's
    * canonical copy — the standard greedy behavior of span-level
    * trimming (per-fp canonical election does not model cross-span
    * coverage), mirrored exactly by the oracle. Cleaned text is
    * whitespace-normalized (words rejoined with single spaces); null
    * text cleans to "".
    *
    * 100 TB shape: the flag set is computed relationally (the SAME flag
    * pipeline as [[substringDupSpans]], plus a per-fp min-struct for the
    * canonical election — partial+final, no gather); the only per-doc
    * gather is each document's OWN removal positions, and the per-doc
    * rebuild is O(words + removals·k) — covered indices expand k-wide per
    * removal, and `array_except` (hash-set semantics) selects the kept
    * indices, so a fully-duplicated long document costs linear work, not
    * words × removals.
    *
    * @return one row per input doc: (doc_id, clean_text, n_removed).
    */
  def trimDupSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val flagged = substringDupSpans(df, idCol, textCol, k, minDocs)
    val canon = flagged.groupBy("span_fp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    val removePos = flagged.join(canon, Seq("span_fp"))
      .filter(!(col("doc_id") === col("c.doc_id") && col("pos") === col("c.pos")))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("__rp"))
      .withColumnRenamed("doc_id", "__rid")
    df.join(removePos, col(idCol) === col("__rid"), "left")
      .withColumn("__ws", TextFunctions.words(col(textCol)))
      .withColumn("__rps", coalesce(col("__rp"), array().cast("array<long>")))
      .withColumn("__cov", array_distinct(flatten(
        transform(col("__rps"), p => sequence(p, p + (k - 1))))))
      // sequence(0, -1) would DESCEND — guard the empty-words case
      .withColumn("__ki",
        when(size(col("__ws")) > 0,
          array_except(
            sequence(lit(0L), (size(col("__ws")) - 1).cast("long")),
            col("__cov")))
          .otherwise(array().cast("array<long>")))
      .withColumn("__kept",
        transform(col("__ki"), i => element_at(col("__ws"), (i + 1).cast("int"))))
      .select(col(idCol).as("doc_id"),
        coalesce(array_join(col("__kept"), " "), lit("")).as("clean_text"),
        (size(col("__ws")) - size(col("__ki"))).cast("long").as("n_removed"))
  }

  /** Benchmark decontamination: flag corpus documents whose k-word spans
    * overlap an eval set's span fingerprints. The eval fingerprint table is
    * BROADCAST (eval sets are orders of magnitude smaller than the corpus),
    * so the corpus side never shuffles — each task probes the broadcast
    * hash and a partial+final count folds per-doc overlaps map-side.
    *
    * @return one row per contaminated corpus doc: (doc_id, n_overlap) with
    *         n_overlap = number of DISTINCT eval span fingerprints hit.
    */
  def decontaminate(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8): DataFrame = {
    val evalFps = spanOccurrences(evalDocs, idCol, textCol, k)
      .select("span_fp").distinct()
    spanOccurrences(corpus, idCol, textCol, k)
      .select("doc_id", "span_fp").distinct()
      .join(broadcast(evalFps), Seq("span_fp"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Exact word-set Jaccard pairs within blocks (same blocking value and
    * close length) — small-block exact near-dup, SQL-mirrorable.
    *
    * @param maxBlock drop blocks larger than this before the self-join (same
    *                 rationale as [[minHashLshPairs]]'s `maxBucket`: one
    *                 degenerate block — every short doc of one lang/length
    *                 bucket — otherwise goes quadratic). The count comes from
    *                 a partial+final aggregate, so the hot block never
    *                 concentrates in one task; the semi-join back prunes it.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      lenCol: String,
      lenTolerance: Int = 16,
      thresholdPpm: Long = 500000L,
      maxBlock: Int = 1000): DataFrame = {
    val base0 = df.select(
      col(idCol).as("id"), col(blockCol).as("blk"), col(lenCol).as("len"),
      array_distinct(TextFunctions.words(col(textCol))).as("ws"))
    val liveBlocks = base0.groupBy("blk").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn").between(2, maxBlock))
      .select("blk")
    val base = base0.join(liveBlocks, Seq("blk"), "left_semi")
    val a = base.select(col("blk"), col("id").as("id_a"), col("len").as("len_a"), col("ws").as("ws_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("len").as("len_b"), col("ws").as("ws_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= lenTolerance)
      .withColumn("jaccard_ppm", jaccardPpm(col("ws_a"), col("ws_b")))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select("id_a", "id_b", "jaccard_ppm")
  }
}
