package graft

import graft.dedup.Dedup
import graft.textops.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd sketch expressions must be bit-identical to their
  * SQL-lambda formulations (which in turn define the semantics — pure Spark
  * built-ins). Also pins the xxhash64 replication: Spark's
  * `xxhash64(h: long, j: int)` ≡ XXH64.hashInt(j, XXH64.hashLong(h, 42)).
  */
class SketchExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog", // exact dup
    "the quick brown fox leaps over the lazy dog", // near dup
    "completely different content with unique words here",
    "short",
    "",
    "  spaced   out   tokens  ",
    "unicode: žluťoučký kůň úpěl ďábelské ódy",
    (1 to 200).map(i => s"w$i").mkString(" ") // long doc
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("xxhash64(long, int) replication via XXH64") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val rows = Seq((123456789L, 0), (-987654321L, 7), (0L, 31))
      .toDF("h", "j")
      .select(col("h"), col("j"), xxhash64(col("h"), col("j")).as("spark_hash"))
      .collect()
    rows.foreach { r =>
      val expect = XXH64.hashInt(r.getInt(1), XXH64.hashLong(r.getLong(0), 42L))
      assert(r.getLong(2) == expect, s"h=${r.getLong(0)} j=${r.getInt(1)}")
    }
  }

  test("MinHashSig ≡ SQL-lambda minhash, every row, several widths") {
    val df = texts.toDF("id", "text").withColumn("sh",
      array_distinct(transform(TextFunctions.shingles(col("text"), 3),
        s => xxhash64(s))))
    for (n <- Seq(1, 8, 32)) {
      val out = df.select(
        Dedup.minHashFromHashes(col("sh"), n).as("fast"),
        Dedup.minHashFromHashesSql(col("sh"), n).as("ref")).collect()
      out.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n")
      }
    }
  }

  test("ShingleHashes ≡ distinct(xxhash64(shingles)) lambda, every row") {
    val df = texts.toDF("id", "text")
    for (n <- Seq(1, 3, 5)) {
      val out = df.select(
        graft.expressions.ShingleHashes(col("text"), n).as("fast"),
        array_distinct(transform(TextFunctions.shingles(col("text"), n),
          s => xxhash64(s))).as("ref")).collect()
      out.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n id row mismatch: ${r.getSeq[Long](0).take(5)} vs ${r.getSeq[Long](1).take(5)}")
      }
    }
  }

  test("JaccardPpmExpr ≡ built-in intersect/union ppm (strings and longs)") {
    val pairs = Seq(
      ("a b c d", "a b c d"),
      ("a b c d", "c d e f"),
      ("a b c d", "x y z"),
      ("a a a b", "a b b c"), // duplicates must collapse
      ("", "a b"),
      ("", ""))
    val df = pairs.zipWithIndex.map { case ((x, y), i) => (i, x, y) }
      .toDF("id", "ta", "tb")
      .withColumn("wa", array_distinct(TextFunctions.words(col("ta"))))
      .withColumn("wb", split(col("tb"), " ")) // NOT distinct: dup handling
    val out = df.select(
      Dedup.jaccardPpm(col("wa"), col("wb")).as("fast"),
      Dedup.jaccardPpmSql(col("wa"), col("wb")).as("ref")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // long arrays (the minhash verify path)
    val dfl = texts.toDF("id", "text")
      .withColumn("sh", graft.expressions.ShingleHashes(col("text"), 3))
    val cross = dfl.as("x").crossJoin(dfl.select(col("sh").as("sh2")).as("y"))
    val outL = cross.select(
      Dedup.jaccardPpm(col("sh"), col("sh2")).as("fast"),
      Dedup.jaccardPpmSql(col("sh"), col("sh2")).as("ref")).collect()
    outL.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("WordHashes ≡ transform(words, xxhash64); DotDouble ≡ zip_with fold") {
    import graft.expressions.{DotDouble, WordHashes}
    val wh = texts.toDF("id", "text").select(
      WordHashes(col("text")).as("fast"),
      transform(TextFunctions.words(col("text")), w => xxhash64(w)).as("ref"))
      .collect()
    wh.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))

    val vecs = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (Array(1e30f, -1e30f, 1.0f), Array(1e30f, 1e30f, 1.0f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val dots = vecs.select(
      DotDouble(col("a"), col("b")).as("fast"),
      graft.ann.Ann.dotSql(col("a"), col("b")).as("ref")).collect()
    dots.foreach { r =>
      // bit-exact (same IEEE order), incl. the catastrophic-cancellation row
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // mixed float × double-literal planes (the bucketKey path)
    val planeDots = vecs.select(
      DotDouble(col("a"), array(lit(0.25), lit(-0.5), lit(0.125))).as("fast"),
      graft.ann.Ann.dotSql(col("a"), array(lit(0.25), lit(-0.5), lit(0.125))).as("ref"))
      .collect()
    planeDots.foreach { r =>
      val bothNull = r.isNullAt(0) && r.isNullAt(1) // length-mismatch row
      assert(bothNull || java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("scanner kernels ≡ their SQL formulations on hostile text") {
    import graft.expressions.{Md5WordHashes, ShingleHashes, WordHashes}
    val df = TextEdgeCases.frame(spark)
    // the invalid rows reach the kernels as invalid UTF-8
    assert(df.filter(!expr("is_valid_utf8(text)")).count() ==
      TextEdgeCases.invalidHex.size)
    val ws = TextFunctions.words(col("text"))
    val kernels = Seq(1, 2, 3, 5).map(n => (s"shingle_hashes n=$n",
      ShingleHashes(col("text"), n),
      array_distinct(transform(TextFunctions.shinglesSql(col("text"), n),
        s => xxhash64(s))))) ++ Seq(
      ("word_hashes", WordHashes(col("text")), transform(ws, w => xxhash64(w))),
      // first 8 md5 bytes as a signed big-endian long
      ("md5_word_hashes", Md5WordHashes(col("text")),
        transform(ws, w => conv(substring(md5(w), 1, 16), 16, -10).cast("long"))))
    kernels.foreach { case (name, fast, ref) =>
      df.select(col("doc_id"), fast.as("fast"), ref.as("ref")).collect().foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"$name doc=${r.getLong(0)}")
      }
    }
  }

  test("scanner kernels read offset, off-heap and > 1 MB texts like fresh strings") {
    import graft.expressions._
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    // ShingleStrings runs before later kernels reload the scanner, so an
    // output that still pointed into the scanner's buffer would show here
    def kernels(t: UTF8String): Seq[Any] = Seq(
      ShingleHashes.compute(t, 1).toLongArray.toSeq,
      ShingleHashes.compute(t, 3).toLongArray.toSeq,
      ShingleStrings.compute(t, 2, true, true).toObjectArray(StringType).toSeq,
      ShingleStrings.compute(t, 2, false, false).toObjectArray(StringType).toSeq,
      WordHashes.compute(t).toLongArray.toSeq,
      Md5WordHashes.compute(t).toLongArray.toSeq,
      Md5SpanFps.compute(t, 2).toObjectArray(StringType).toSeq,
      QualityScoreExpr.compute(t))
    def unhexBytes(h: String) = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val texts = TextEdgeCases.strings.map(_.getBytes("UTF-8")) ++
      TextEdgeCases.invalidHex.map(unhexBytes)
    texts.foreach { b =>
      val want = kernels(UTF8String.fromBytes(b))
      for (pad <- Seq("x", " \t", "\u00e9")) {
        val p = pad.getBytes("UTF-8")
        val sliced = UTF8String.fromBytes(p ++ b ++ p, p.length, b.length)
        assert(kernels(sliced) == want, s"pad=${pad.map(_.toInt)}")
      }
      val addr = Platform.allocateMemory(math.max(1, b.length).toLong)
      try {
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr, b.length.toLong)
        assert(kernels(UTF8String.fromAddress(null, addr, b.length)) == want, "off-heap")
      } finally Platform.freeMemory(addr)
    }
    // a text over the 1 MiB a thread's scanner keeps gets its own scanner
    val big = (1 to 200000).map(i => s"w${i % 5000}").mkString(" ")
    assert(big.length > (1 << 20))
    val words = big.split(" ")
    val want = words.sliding(3).map { s =>
      val sb = s.mkString(" ").getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(sb, Platform.BYTE_ARRAY_OFFSET, sb.length, 42L)
    }.toSeq.distinct
    assert(ShingleHashes.compute(UTF8String.fromString(big), 3).toLongArray.toSeq == want)
    assert(WordHashes.compute(UTF8String.fromString(big)).numElements() == words.length)
    assert(kernels(UTF8String.fromString("after big")) ==
      kernels(UTF8String.fromBytes("after big".getBytes("UTF-8"))))
  }

  test("scanner kernels ≡ decode-and-regex-split on random bytes, valid or not") {
    import graft.expressions.{ShingleStrings, WordHashes}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    // what the kernels did before the byte scanner: decode, trim spaces,
    // regex-split, re-encode
    val ws = java.util.regex.Pattern.compile("\\s+")
    def words(b: Array[Byte]): Seq[Array[Byte]] = {
      val t = UTF8String.fromBytes(b).trim.toString
      if (t.isEmpty) Seq.empty else ws.split(t, -1).toSeq.map(_.getBytes("UTF-8"))
    }
    // lead, continuation and separator bytes at the UTF-8 range edges
    val alphabet = Array(0x20, 0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x41, 0x7f, 0x80,
      0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc1, 0xc2, 0xdf, 0xe0, 0xe1, 0xed,
      0xef, 0xf0, 0xf1, 0xf4, 0xf5, 0xff).map(_.toByte)
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 20000) {
      val b = Array.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
      val t = UTF8String.fromBytes(b)
      val want = words(b)
      val hashes = want.map(w => org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(w, Platform.BYTE_ARRAY_OFFSET, w.length, 42L))
      assert(WordHashes.compute(t).toLongArray.toSeq == hashes, b.mkString(","))
      def join(ws: Seq[Array[Byte]]): Seq[Byte] =
        ws.map(_.toSeq).reduceOption(_ ++ Seq(' '.toByte) ++ _).getOrElse(Seq.empty)
      val pairs = if (want.size < 2) Seq(join(want)) else want.sliding(2).map(join).toSeq
      assert(ShingleStrings.compute(t, 2, true, false).toObjectArray(StringType).toSeq
        .map(_.asInstanceOf[UTF8String].getBytes.toSeq) == pairs, b.mkString(","))
    }
  }

  test("JaccardPpmExpr long path ≡ jaccardPpmSql: extremes, dups, nulls, empties, size, reuse") {
    val ext = Seq(Long.MinValue, Long.MaxValue, 0L, -1L).map(Option(_))
    def some(xs: Seq[Long]) = xs.map(Option(_))
    val rnd = new scala.util.Random(5)
    val fixed: Seq[(Seq[Option[Long]], Seq[Option[Long]])] = Seq(
      (Seq.empty, Seq.empty), // must give 0
      (Seq.empty, some(Seq(1L))),
      (some(Seq(1L)), Seq.empty),
      (ext, ext),
      (ext ++ ext, some(Seq(0L, 0L, -1L, 5L, Long.MinValue))),
      (some(Seq(1L, 1L, 2L, 2L, 3L)), some(Seq(2L, 2L, 3L, 3L, 4L, 4L))),
      (Seq(Some(1L), None, Some(2L)), Seq(None, Some(2L), Some(3L), None)),
      (Seq(None, None), Seq(None)),
      (Seq(None), some(Seq(1L))),
      // larger than the table a thread starts with
      (some(0L until 12000L), some((6000L until 20000L) ++ (6000L until 7000L))),
      (some(Seq.fill(15000)(rnd.nextInt(20000).toLong)),
        some(Seq.fill(15000)(rnd.nextInt(20000).toLong))))
    // thousands of small rows over a 16-key universe, back to back on one
    // thread: a stamp left by an earlier row must never read as present
    val many = Seq.fill(3000)((
      some(Seq.fill(rnd.nextInt(12))(rnd.nextInt(16).toLong)),
      some(Seq.fill(rnd.nextInt(12))(rnd.nextInt(16).toLong))))
    val out = (fixed ++ many).toDF("a", "b").coalesce(1).select(
      Dedup.jaccardPpm(col("a"), col("b")).as("fast"),
      Dedup.jaccardPpmSql(col("a"), col("b")).as("ref")).collect()
    assert(out.length == fixed.length + many.length)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1), s"row $i")
    }
    assert(out(0).getLong(0) == 0L)
  }

  test("HammingDist ≡ built-in zip_with form, incl. unequal lengths") {
    val df = Seq(
      ("0101", "0101"), ("0101", "1010"), ("0101", "0111"),
      ("0101", "01"), ("", "11"), ("", "")).toDF("a", "b")
    val out = df.select(
      Dedup.hammingBits(col("a"), col("b")).as("fast"),
      Dedup.hammingBitsSql(col("a"), col("b")).as("ref")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("JaccardPpmExpr matches built-in set-ops on -0.0 vs 0.0 (distinct)") {
    // Spark's array_intersect/array_union do NOT normalize -0.0 to 0.0;
    // the custom expression must mirror that exactly (boxed equals does)
    val df = Seq((Array(0.0), Array(-0.0))).toDF("a", "b")
    val out = df.select(
      Dedup.jaccardPpm(col("a"), col("b")).as("fast"),
      Dedup.jaccardPpmSql(col("a"), col("b")).as("ref")).collect()(0)
    assert(out.getLong(0) == out.getLong(1) && out.getLong(0) == 0L)
  }

  test("Md5MinHashSig ≡ SQL-lambda md5-hex minhash, every row, several widths") {
    val df = texts.toDF("id", "text").withColumn("sh",
      array_distinct(TextFunctions.shingles(col("text"), 3)))
    for (n <- Seq(1, 4, 16)) {
      val ref = transform(sequence(lit(0), lit(n - 1)),
        j => array_min(transform(col("sh"),
          s => md5(concat(j.cast("string"), lit(":"), s)))))
      val out = df.select(
        graft.expressions.Md5MinHashSig(col("sh"), n).as("fast"),
        ref.as("ref")).collect()
      out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("Md5WordHashes ≡ first 8 md5 bytes big-endian (driver recompute)") {
    val rows = texts.toDF("id", "text")
      .select(col("text"), graft.expressions.Md5WordHashes(col("text")).as("h"))
      .collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val t = r.getString(0).trim
      val want =
        if (t.isEmpty) Seq.empty[Long]
        else t.split("\\s+").toSeq.map { w =>
          val d = md.digest(w.getBytes("UTF-8"))
          (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
        }
      assert(r.getSeq[Long](1) == want, s"text='${r.getString(0)}'")
    }
  }

  test("portable simhash ≡ conv-based bitstring votes (the oracle's formulation)") {
    // per-word bitstring exactly as the SQL mirror defines it:
    // lpad(conv(substr(md5(w),1,16),16,2),64,'0'), MSB-first majority votes
    def bits(w: org.apache.spark.sql.Column) =
      lpad(conv(substring(md5(w), 1, 16), 16, 2), 64, "0")
    val wordBits = transform(TextFunctions.words(col("text")), w => bits(w))
    val counts = aggregate(
      wordBits,
      array_repeat(lit(0L), 64),
      (acc, b) => zip_with(
        acc,
        transform(sequence(lit(1), lit(64)),
          p => when(b.substr(p, lit(1)) === "1", 1L).otherwise(-1L)),
        (a, v) => a + v))
    val ref = array_join(
      transform(counts, c => when(c > 0, lit("1")).otherwise(lit("0"))), "")
    val out = texts.toDF("id", "text").select(
      graft.dedup.Dedup.simHashBitsPortable(col("text")).as("fast"),
      ref.as("ref")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("SimHashBits ≡ SQL-lambda simhash, every row") {
    val out = texts.toDF("id", "text").select(
      Dedup.simHashBits(col("text")).as("fast"),
      Dedup.simHashBitsSql(col("text")).as("ref")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
    // sanity: near-dup texts land at small Hamming distance, distinct far
    val sigs = texts.toDF("id", "text")
      .select(Dedup.simHashBits(col("text"))).collect().map(_.getString(0))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sigs(0), sigs(1)) == 0)
    assert(ham(sigs(0), sigs(2)) < ham(sigs(0), sigs(3)))
  }

  test("CountByKeyAgg ≡ groupBy().count(), incl. via observe on an action") {
    val df = spark.range(1000).select(
      concat(lit("k"), pmod(col("id"), lit(7))).as("k"),
      when(pmod(col("id"), lit(13)) === 0, lit(null)).otherwise(lit("x")).as("nk"))
      .repartition(8)
    val want = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.select(graft.expressions.CountByKeyAgg(col("k")).as("m"))
      .collect()(0).getMap[String, Long](0)
    assert(got.toMap == want)
    // null keys count under "" (defensive; routed rows always have a tag)
    val gotNull = df.select(graft.expressions.CountByKeyAgg(col("nk")).as("m"))
      .collect()(0).getMap[String, Long](0)
    assert(gotNull.getOrElse("", 0L) == (0 until 1000).count(_ % 13 == 0).toLong)
    // the observe path: metrics delivered by the same action (the
    // single-pass sink-count shape Checkpoint.runResumable rides)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, graft.expressions.CountByKeyAgg(col("k")).as("m")).count()
    assert(obs.get("m").asInstanceOf[scala.collection.Map[String, Long]].toMap == want)
  }

  test("HeavyHittersAgg: exact when vocab <= m (any partitioning)") {
    val rnd = new scala.util.Random(11)
    val tokens = rnd.shuffle(
      (1 to 40).flatMap(i => Seq.fill(1 + 4000 / i)(f"t$i%03d")))
    val df = tokens.map(Tuple1(_)).toDF("t").repartition(9)
    val want = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = df.select(graft.expressions.HeavyHittersAgg(col("t"), 64).as("m"))
      .collect()(0).getMap[String, Long](0).toMap
    assert(got == want, "no decrement can fire below the vocab size: exact")
  }

  test("HeavyHittersAgg: Misra-Gries bound under overflow, multi-partition merge") {
    val rnd = new scala.util.Random(23)
    // Zipf-ish: 300 distinct tokens, frequency ~ 4000/i
    val tokens = rnd.shuffle(
      (1 to 300).flatMap(i => Seq.fill(1 + 4000 / i)(f"t$i%03d")))
    val n = tokens.size.toLong
    val truth = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (m <- Seq(8, 32); parts <- Seq(1, 11)) {
      val df = tokens.map(Tuple1(_)).toDF("t").repartition(parts)
      val est = df.select(graft.expressions.HeavyHittersAgg(col("t"), m).as("m"))
        .collect()(0).getMap[String, Long](0).toMap
      val bound = n / (m + 1)
      assert(est.size <= m)
      est.foreach { case (t, e) =>
        val tr = truth(t)
        assert(e <= tr, s"m=$m parts=$parts: over-estimate for $t: $e > $tr")
        assert(tr - e <= bound, s"m=$m parts=$parts: error ${tr - e} > $bound for $t")
      }
      truth.foreach { case (t, tr) =>
        if (tr > bound)
          assert(est.contains(t),
            s"m=$m parts=$parts: token $t with count $tr > bound $bound missing")
      }
    }
  }

  test("Kmv.overlapByGroup: exhaustive regime is exact; estimator regime bounded and consistent") {
    // exhaustive: k = 64 > every group's distinct count → union/intersection exact
    val rows =
      (1 to 20).map(i => ("a", s"v$i")) ++ // A = v1..v20
      (11 to 35).map(i => ("b", s"v$i")) ++ // B = v11..v35; |A ∩ B| = 10, |A ∪ B| = 35
      Seq(("a", "v1"), ("b", "v11")) // dup rows must not change distinct sets
    val out = graft.sketch.Kmv.overlapByGroup(
      rows.toDF("source", "text"), "source", "text", k = 64).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "a" && r.getString(1) === "b")
    assert(r.getLong(r.fieldIndex("m")) === 35L)
    assert(r.getLong(r.fieldIndex("j_num")) === 10L)
    assert(r.getLong(r.fieldIndex("union_est")) === 35L)
    assert(r.getLong(r.fieldIndex("inter_est")) === 10L) // 10 * 35 div 35
    // estimator regime: 500-distinct groups with 250 shared, k = 32
    val big =
      (1 to 500).map(i => ("x", s"w$i")) ++
      (251 to 750).map(i => ("y", s"w$i"))
    val e = graft.sketch.Kmv.overlapByGroup(
      big.toDF("source", "text"), "source", "text", k = 32).collect().head
    val (m, j, u, inter) = (e.getLong(2), e.getLong(3), e.getLong(4), e.getLong(5))
    assert(m === 32L && j <= m)
    assert(u > 500L && u < 1200L, s"union_est $u should be near 750")
    assert(inter === j * u / m, "integer-division consistency")
    assert(inter > 80L && inter < 600L, s"inter_est $inter should be near 250")
  }
}
