package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-adjacent corpus operators: frequency-vocabulary fit +
  * re-encode to integer ids, and fixed-budget context chunking. Both are
  * standard stages of a training-data pipeline (vocabulary consolidation
  * before training; context-window layout before batching) re-expressed as
  * Spark plans with the 100 TB shape:
  *
  *  - the vocabulary never routes the corpus through a global window: the
  *    raw token volume collapses through a partial+final `groupBy(word)`
  *    count, and only the AGGREGATED vocabulary reaches the top-K selection
  *    (`orderBy.limit` → Spark's TakeOrderedAndProject — per-partition
  *    heaps, no global sort). Id assignment windows over the ≤K selected
  *    rows only.
  *  - re-encode is a broadcast left join of the exploded corpus against the
  *    ≤K-row vocab: narrow, no corpus shuffle.
  *  - chunking is pure per-row arithmetic (sequence + explode): shuffle-free.
  */
object Vocab {

  /** Fit a frequency vocabulary of the `vocabK` most frequent words
    * (count desc, word asc — a total order) and re-encode every document
    * as (pos, token_id) rows. Ids are dense 0..K-1 in vocabulary order;
    * out-of-vocabulary words encode as -1 (the sentinel a real pipeline
    * maps to UNK).
    *
    * @return (idCol, pos, word, token_id) — one row per token occurrence,
    *         pos 0-based within the document.
    */
  def fitEncode(
      docs: DataFrame,
      vocabK: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(vocabK > 0, s"fitEncode vocabK must be positive, got $vocabK")
    val tok = docs.select(col(idCol),
      posexplode(TextFunctions.words(col("text"))).as(Seq("pos", "word")))
    val counts = tok.groupBy(col("word")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("word").asc).limit(vocabK)
    // the window ranks ONLY the ≤K selected vocabulary rows (bounded by
    // construction) — never the corpus
    val vocab = counts
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("__n").desc, col("word").asc))
          .cast("long") - 1L)
      .select(col("word"), col("token_id"))
    tok.join(broadcast(vocab), Seq("word"), "left")
      .select(col(idCol), col("pos").cast("long").as("pos"), col("word"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
  }

  /** Subword (BPE) vocabulary fit: learn `nMerges` byte-pair merges over
    * the corpus word-frequency table and re-encode every pre-token as its
    * word pieces — the merge-based subword stage real pipelines run where
    * [[fitEncode]] stops at whole words.
    *
    * Semantics (deterministic, integer/binary-exact in both engines):
    *  - pre-tokens are lowercase letter/digit runs
    *    (`[a-z]+|[0-9]+` — the safe-alphabet slice of
    *    [[TextFunctions.bpeTokenPattern]]; symbols never contain the
    *    internal cell delimiters);
    *  - each round counts ADJACENT SYMBOL PAIRS across the distinct-word
    *    table weighted by word frequency (one count per occurrence, the
    *    classic BPE statistic), elects the (count desc, left asc, right
    *    asc) maximum — a total order, so ties are deterministic — and
    *    applies the merge greedily LEFT-TO-RIGHT within every word;
    *  - greedy application rides a plain string `replace` over the
    *    wrapped-cell encoding `",sym;,sym;…"`: a match consumes both
    *    cells and the standard scan-continues-after-replacement semantics
    *    (identical in Spark and DuckDB) IS BPE's non-overlapping
    *    left-to-right rule.
    *
    * 100 TB shape: the corpus collapses to the distinct-word frequency
    * table via one partial+final count — the merge loop never touches the
    * corpus again. Each round is one aggregate over that (vocabulary-
    * sized) table plus a 1-row TakeOrdered election, materialized per
    * round via localCheckpoint exactly like the CC fixpoint (bounded
    * driver loop, superseded rounds released). Re-encode joins the
    * corpus's pre-tokens against the ≤|vocab| word→pieces map once;
    * piece ids broadcast from a ≤(alphabet+nMerges)-row table.
    *
    * @return (idCol, word_pos, piece_pos, piece, piece_id) — one row per
    *         word piece; piece_id dense 0..V-1 in piece lexicographic
    *         order.
    */
  def bpeFitEncode(
      docs: DataFrame,
      nMerges: Int,
      idCol: String = "doc_id",
      driverFitMaxWords: Long = 2000000L): DataFrame = {
    require(nMerges >= 0, s"bpeFitEncode nMerges must be >= 0, got $nMerges")
    val pretok = docs.select(col(idCol),
      posexplode(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)"))
        .as(Seq("word_pos", "word")))
    val wordFreq = pretok.groupBy(col("word")).agg(count(lit(1)).as("__n"))
    // DRIVER-LOCAL FIT (the production shape): the word-frequency table is
    // vocabulary-sized — the same bounded-materialization bet
    // Dedup.driverSolveLabels makes — so collect it ONCE (threshold-gated
    // exactly like a broadcast join: limit(max+1) proves completeness in
    // the same action) and learn every merge in-process. The former
    // distributed loop ran 2 Spark actions PER MERGE over the distributed
    // vocab table — 8 merges was a demo; a production 30-50k-merge fit
    // would be 60-100k driver-scheduled jobs. Under the threshold the fit
    // is ONE Spark action total; above it the distributed loop below
    // remains the fallback.
    val probe =
      if (driverFitMaxWords > 0 && driverFitMaxWords < Int.MaxValue)
        wordFreq.limit(driverFitMaxWords.toInt + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (probe.nonEmpty && probe.length <= driverFitMaxWords)
      return bpeEncodeFromDriverFit(docs.sparkSession, pretok, idCol,
        probe.map(r => (r.getString(0), r.getLong(1))), nMerges)
    var words = wordFreq
      .withColumn("cells", regexp_replace(col("word"), "(.)", ",$1;"))
      .localCheckpoint()
    val symsOf = expr("split(substring(cells, 2, length(cells) - 2), ';,')")
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val best = words
        .select(col("__n"), symsOf.as("__syms"))
        // single-symbol words contribute no pairs — and must be filtered
        // BEFORE the index expression: Spark's sequence(1, 0) counts DOWN
        // ([1, 0]), so an unguarded transform would evaluate
        // element_at(syms, 0) and error under ANSI indexing
        .where(size(col("__syms")) >= 2)
        .select(col("__n"), explode(expr(
          "transform(sequence(1, size(__syms) - 1), " +
            "i -> struct(element_at(__syms, i) AS l, element_at(__syms, i + 1) AS r))"))
          .as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        // symbols are [a-z0-9]+ by the pre-tokenizer contract, so the cell
        // pattern needs no escaping and cannot straddle cell boundaries
        val next = words.withColumn("cells",
          expr(s"replace(cells, ',$l;,$r;', ',$l$r;')")).localCheckpoint()
        graft.dedup.Dedup.releaseLocalCheckpoint(words)
        words = next
      }
      round += 1
    }
    val pieces = words.select(col("word"), symsOf.as("pieces"))
    // piece inventory is bounded by |alphabet| + nMerges — the window
    // ranks only that bounded table, never the corpus
    val vocab = pieces.select(explode(col("pieces")).as("piece")).distinct()
      .withColumn("piece_id",
        row_number().over(Window.orderBy(col("piece").asc)).cast("long") - 1L)
    val out = pretok
      .join(pieces, "word")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        posexplode(col("pieces")).as(Seq("piece_pos", "piece")))
      .join(broadcast(vocab), "piece")
      .select(col(idCol), col("word_pos"),
        col("piece_pos").cast("long").as("piece_pos"), col("piece"),
        col("piece_id"))
    // the words checkpoint must survive until the returned plan is
    // evaluated; it is vocabulary-sized (the superseded rounds were the
    // transient cost, and those are already released). Only the
    // above-threshold fallback pays this; the driver-local path holds no
    // checkpoints at all.
    out
  }

  /** Learn all merges in-process over the collected word-frequency table and
    * return the re-encode plan: ONE `(word → [(piece, piece_id)])` local
    * relation joined to the pre-token stream (AQE broadcasts it when it
    * fits). Semantics are bit-identical to the distributed loop — weighted
    * adjacent-pair counts, (count desc, left asc, right asc) election
    * (symbols are [a-z0-9]+, so JVM String order IS UTF8String binary
    * order), greedy left-to-right application with the standard
    * scan-continues-after-replacement rule — pinned by the differential
    * test against the local reference and by the driver's value oracle.
    */
  private def bpeEncodeFromDriverFit(
      spark: org.apache.spark.sql.SparkSession,
      pretok: DataFrame,
      idCol: String,
      wordFreq: Array[(String, Long)],
      nMerges: Int): DataFrame = {
    val n = wordFreq.length
    val syms = new Array[Array[String]](n)
    var wi = 0
    while (wi < n) {
      val w = wordFreq(wi)._1
      val a = new Array[String](w.length)
      var c = 0
      while (c < w.length) { a(c) = String.valueOf(w.charAt(c)); c += 1 }
      syms(wi) = a
      wi += 1
    }
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      // weighted adjacent-pair counts (every index position counts, same as
      // the distributed transform over sequence(1, size-1))
      val cnt = new java.util.HashMap[String, Long]() // "l r" -> count
      wi = 0
      while (wi < n) {
        val s = syms(wi)
        val f = wordFreq(wi)._2
        var i = 0
        while (i < s.length - 1) {
          val k = s(i) + " " + s(i + 1)
          cnt.put(k, cnt.getOrDefault(k, 0L) + f)
          i += 1
        }
        wi += 1
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bestL: String = null
        var bestR: String = null
        var bestC = Long.MinValue
        val it = cnt.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val sep = e.getKey.indexOf(' ')
          val l = e.getKey.substring(0, sep)
          val r = e.getKey.substring(sep + 1)
          val c = e.getValue
          // (count desc, l asc, r asc) — ASCII symbols, String order is exact
          if (c > bestC || (c == bestC &&
            (l.compareTo(bestL) < 0 ||
              (l == bestL && r.compareTo(bestR) < 0)))) {
            bestL = l; bestR = r; bestC = c
          }
        }
        val merged = bestL + bestR
        wi = 0
        while (wi < n) {
          val s = syms(wi)
          if (s.length >= 2) {
            // greedy left-to-right, non-overlapping, scan continues AFTER a
            // replacement (the `replace` semantics of the cell encoding)
            var hit = false
            var i = 0
            while (!hit && i < s.length - 1) {
              hit = s(i) == bestL && s(i + 1) == bestR
              i += 1
            }
            if (hit) {
              val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
              i = 0
              while (i < s.length) {
                if (i + 1 < s.length && s(i) == bestL && s(i + 1) == bestR) {
                  out += merged; i += 2
                } else { out += s(i); i += 1 }
              }
              syms(wi) = out.toArray
            }
          }
          wi += 1
        }
      }
      round += 1
    }
    // piece inventory: distinct pieces, ids dense in lexicographic order
    // (ASCII-only symbols: JVM sort == UTF8String binary order)
    val pieceId = new java.util.HashMap[String, Long]()
    val distinct = {
      val set = new java.util.TreeSet[String]()
      syms.foreach(_.foreach(set.add))
      set
    }
    var id = 0L
    distinct.forEach { p => pieceId.put(p, id); id += 1 }
    val rows: java.util.List[org.apache.spark.sql.Row] = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      wi = 0
      while (wi < n) {
        l.add(org.apache.spark.sql.Row(
          wordFreq(wi)._1,
          syms(wi).toSeq.map(p => org.apache.spark.sql.Row(p, pieceId.get(p)))))
        wi += 1
      }
      l
    }
    import org.apache.spark.sql.types._
    val piecesDf = spark.createDataFrame(rows, StructType(Seq(
      StructField("word", StringType),
      StructField("__pieces", ArrayType(StructType(Seq(
        StructField("piece", StringType),
        StructField("piece_id", LongType))))))))
    pretok
      .join(piecesDf, "word")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        posexplode(col("__pieces")).as(Seq("piece_pos", "__p")))
      .select(col(idCol), col("word_pos"),
        col("piece_pos").cast("long").as("piece_pos"),
        col("__p.piece").as("piece"), col("__p.piece_id").as("piece_id"))
  }

  /** Lay each document's token stream out as fixed-budget context chunks:
    * chunk `i` covers word positions [i·chunkSize, min((i+1)·chunkSize, n)).
    * Documents with zero tokens produce no chunks. Pure narrow arithmetic —
    * `sequence` generates the per-doc chunk indices, `explode` flattens;
    * nothing shuffles.
    *
    * @return (idCol, chunk_id, chunk_len, head_word) — head_word is the
    *         first word of the chunk (the spot-checkable anchor).
    */
  def chunk(
      docs: DataFrame,
      chunkSize: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0, s"chunk size must be positive, got $chunkSize")
    val n = size(TextFunctions.words(col("text")))
    docs
      .select(col(idCol), TextFunctions.words(col("text")).as("__ws"),
        n.cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(__n - 1L) div $chunkSize"))))
      .select(col(idCol), col("chunk_id"),
        least(lit(chunkSize.toLong), col("__n") - col("chunk_id") * chunkSize)
          .as("chunk_len"),
        element_at(col("__ws"), (col("chunk_id") * chunkSize + 1L).cast("int"))
          .as("head_word"))
  }
}
