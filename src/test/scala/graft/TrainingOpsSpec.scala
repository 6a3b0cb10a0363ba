package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.textops.{TextFunctions, Vocab}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq(
      ("a", "hello world"), ("b", ""), ("c", "  x  "),
      ("d", "don't stop, it's 42!")).toDF("id", "text")
    val got = df.select(col("id"),
      TextFunctions.tokenCountWs(col("text")).as("ws"),
      TextFunctions.tokenCountBpe(col("text")).as("bpe"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got("a") == (2, 2))
    assert(got("b") == (0, 0))
    assert(got("c") == (1, 1))
    // don ' t stop , it ' s 42 !  → 10 BPE-ish tokens, 4 ws tokens
    assert(got("d") == (4, 10))
  }

  test("quality metrics exact integer arithmetic") {
    val df = Seq(("a", "The cat and the dog.")).toDF("id", "text")
    val m = df.select(TextFunctions.qualityMetrics(col("text"))
      .map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(m.getAs[Long]("n_chars") == 20L)
    assert(m.getAs[Long]("n_words") == 5L)
    assert(m.getAs[Long]("punct_ppm") == 50000L) // 1 of 20 chars
    assert(m.getAs[Long]("stopword_ppm") == 600000L) // the, and, the of 5 words
  }

  test("language ID heuristic picks marker language; CJK → zh") {
    val df = Seq(
      ("e", "the cat and the hat is back"),
      ("d", "der hund und die katze ist nicht da"),
      ("f", "le chat et la maison est pas loin"),
      ("s", "el gato y los perros no con nada"),
      ("z", "你好世界"),
      ("u", "zzz qqq www")).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("e" -> "en", "d" -> "de", "f" -> "fr", "s" -> "es",
      "z" -> "zh", "u" -> "und"))
  }

  test("fingerprint: FNV-1a matches reference vectors, codegen ≡ eval") {
    // published FNV-1a 64 test vectors
    assert(FnvVectors.check())
    val df = Seq(("a", "hello"), ("b", "")).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") == graft.expressions.FnvHash64.hash("hello".getBytes("UTF-8")))
    assert(got("b") == 0xcbf29ce484222325L) // offset basis for empty input
  }

  test("PII redaction: email, IPv4, phone → tokens; clean text untouched") {
    val df = Seq(
      ("a", "reach me at jane.doe+spam@sub.example.org today"),
      ("b", "server 192.168.1.250 timed out; retry 10.0.0.1"),
      ("c", "call +1 (555) 010-9999 or +44 20 7946 0958 now"),
      ("d", "nothing sensitive here, just 42 and v1.2 words"),
      ("e", "mixed: bob@x.io at 8.8.8.8 tel +1 555-010-1234"))
      .toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.redact(col("text")).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == "reach me at <EMAIL> today")
    assert(got("b") == "server <IP> timed out; retry <IP>")
    assert(got("c") == "call <PHONE> or <PHONE> now")
    assert(got("d") == "nothing sensitive here, just 42 and v1.2 words")
    assert(got("e") == "mixed: <EMAIL> at <IP> tel <PHONE>")
  }

  test("shingles") {
    val df = Seq(("a", "a b c d"), ("b", "x y")).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.shingles(col("text"), 3).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a") == Seq("a b c", "b c d"))
    assert(got("b") == Seq("x y")) // shorter than n → whole text
  }
}

object FnvVectors {
  import graft.expressions.FnvHash64.hash
  def check(): Boolean =
    hash("".getBytes) == 0xcbf29ce484222325L &&
      hash("a".getBytes) == 0xaf63dc4c8601ec8cL &&
      hash("foobar".getBytes) == 0x85944171f73967e8L
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the quick brown fox jumps over the lazy dog"), // exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy cat"), // near dup
    ("d4", "completely different text about spark engines"),
    ("d5", "completely different text about spark engines today"), // near dup of d4
    ("d6", "short"),
    ("d7", "the quick brown fox jumps over the lazy dog")) // exact dup of d1
    .toDF("doc_id", "text")

  test("exact dedup elects min-id keeper") {
    val out = Dedup.exact(corpus).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("keeper_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out("d1") == ("d1", false))
    assert(out("d2") == ("d1", true))
    assert(out("d7") == ("d1", true))
    assert(out("d4") == ("d4", false))
  }

  test("exact dedup keeps null-text rows as one dup group (SQL null semantics)") {
    import spark.implicits._
    val df = Seq(("n1", Option("x")), ("n2", None), ("n3", None))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("keeper_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out.size == 3, "null-text rows must never be dropped")
    assert(out("n2") == ("n2", false)) // keeper among the nulls
    assert(out("n3") == ("n2", true)) // null texts group together, like the oracle
    assert(out("n1") == ("n1", false))
  }

  test("priority dedup: preferred-source copy wins, min-id tiebreak") {
    val df = Seq(
      ("d1", "same text", "crawl"),
      ("d2", "same text", "curated"), // wins over lower-id crawl copies
      ("d3", "same text", "crawl"),
      ("d4", "other", "crawl"),
      ("d5", "third", "curated"),
      ("d6", "third", "curated")) // equal preference → min-id tiebreak
      .toDF("doc_id", "text", "source")
    val pref = when(col("source") === "curated", 0L).otherwise(1L)
    val out = Dedup.exactByPreference(df, pref).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("keeper_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out("d2") == ("d2", false))
    assert(out("d1") == ("d2", true))
    assert(out("d3") == ("d2", true))
    assert(out("d4") == ("d4", false))
    assert(out("d5") == ("d5", false))
    assert(out("d6") == ("d5", true))
  }

  test("minhash LSH finds near-dup pairs and verifies jaccard") {
    val pairs = Dedup.minHashLshPairs(corpus, thresholdPpm = 500000L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2"))) // identical → jaccard 1.0
    assert(pairs.contains(("d1", "d3")) || pairs.contains(("d2", "d3")),
      s"near-dup d3 not found in $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set("d1", "d4") })
  }

  test("simhash: identical docs distance 0, near dups small hamming") {
    val sigs = corpus.select(col("doc_id"), Dedup.simHashBits(col("text")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sigs("d1").length == 64 && sigs("d1").forall(c => c == '0' || c == '1'))
    assert(sigs("d1") == sigs("d2"))
    val hamming13 = sigs("d1").zip(sigs("d3")).count { case (a, b) => a != b }
    val hamming14 = sigs("d1").zip(sigs("d4")).count { case (a, b) => a != b }
    assert(hamming13 < hamming14)
    val pairs = Dedup.simHashPairs(corpus, maxHamming = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2")) && pairs.contains(("d1", "d7")))
  }

  test("portable (md5) minhash LSH finds the same near-dup structure") {
    val pairs = Dedup.minHashLshPairsPortable(corpus, thresholdPpm = 500000L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2")))
    assert(pairs.contains(("d1", "d3")) || pairs.contains(("d2", "d3")),
      s"near-dup d3 not found in $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set("d1", "d4") })
  }

  test("portable (md5) simhash pairs exact dups at hamming 0") {
    val pairs = Dedup.simHashPairsPortable(corpus, maxHamming = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains(("d1", "d2")) && keys.contains(("d1", "d7")))
    assert(pairs.filter(p => (p._1, p._2) == ("d1", "d2")).forall(_._3 == 0L))
  }

  test("degenerate block is capped out of the n-gram self-join") {
    import spark.implicits._
    val hot = (1 to 30).map(i => (s"h$i", "same boilerplate text here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val capped = Dedup.ngramJaccardPairs(hot, "doc_id", "text", "lang", "n_chars",
      lenTolerance = 16, thresholdPpm = 1L, maxBlock = 10)
    assert(capped.count() == 0L, "block of 30 must be dropped at maxBlock=10")
    val uncapped = Dedup.ngramJaccardPairs(hot, "doc_id", "text", "lang", "n_chars",
      lenTolerance = 16, thresholdPpm = 1L, maxBlock = 1000)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("blocked n-gram jaccard pairs") {
    val df = corpus.withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", "lang", "n_chars",
      lenTolerance = 16, thresholdPpm = 500000L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2")))
    assert(pairs.contains(("d4", "d5")))
  }

  test("substring dedup: shared 8-word span flagged at exact positions") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val df = Seq(
      ("a", s"intro words here $shared trailing stuff"), // span at pos 3
      ("b", s"$shared completely different continuation text"), // at pos 0
      ("c", "no overlap at all in this document text here now"),
      ("d", "too short")) // < 8 words: emits nothing
      .toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(df, k = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == Set(("a", 3L, 2L), ("b", 0L, 2L)))
  }

  test("span trim: one copy of a duplicated passage survives, unique text intact") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val df = Seq(
      ("a", s"intro words here $shared trailing stuff"), // canonical (min doc, pos 3)
      ("b", s"$shared completely different continuation text"), // trimmed at pos 0
      ("c", "no overlap at all in this document text here now"))
      .toDF("doc_id", "text")
    val got = Dedup.trimDupSpans(df, k = 8).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got("a") == (s"intro words here $shared trailing stuff", 0L),
      "the canonical occurrence of a DISJOINT duplicated passage survives untouched")
    assert(got("b") == ("completely different continuation text", 8L),
      "the duplicate occurrence's 8 words must be removed")
    assert(got("c")._2 == 0L)
    // overlap semantics are GREEDY and documented: per-fp canonical
    // election does not model cross-span coverage, so a removal for one
    // span may cut into an overlapping span's canonical copy — pin the
    // behavior (shared mirror logic in the oracle) rather than leaving it
    // unstated
    val x = "x1 x2 x3 x4 x5 x6 x7 x8"
    val overlap = Seq(
      ("o1", x), // canonical X
      ("o2", s"$x y9 y10 y11 y12"), // X at 0; Y = words 4..11 (canonical Y)
      ("o3", s"x5 x6 x7 x8 y9 y10 y11 y12 unique tail here")) // Y at 0
      .toDF("doc_id", "text")
    val og = Dedup.trimDupSpans(overlap, k = 8).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(og("o1") == 0L, "globally-first X copy survives")
    assert(og("o2") == 8L, "non-canonical X removal cuts into Y's canonical copy")
    assert(og("o3") == 8L, "o3's Y occurrence is non-canonical and removed")
  }

  test("incremental dedup: corpus keeper surfaced, unseen flagged, nulls group") {
    import spark.implicits._
    val corpus = Seq(("c2", Option("alpha")), ("c1", Option("alpha")),
      ("c3", Option("beta")), ("c4", None)).toDF("doc_id", "text")
    val fresh = Seq(("n1", Option("alpha")), ("n2", Option("gamma")),
      ("n3", None)).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(fresh, corpus).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("corpus_keeper"), r.getAs[Boolean]("in_corpus"))).toMap
    assert(out.size == 3)
    assert(out("n1") == (("c1", true))) // min corpus id among identical texts
    assert(out("n2") == (("-1", false)))
    assert(out("n3") == (("c4", true))) // null text matches the corpus null group
  }

  test("incremental near-dup: new batch probes corpus; corpus-internal pairs absent") {
    import spark.implicits._
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (101L, base),                         // c-near-dup of 102 (must NOT pair)
      (102L, base + " w13"),
      (103L, (50 to 65).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, base + " w14"),                  // near-dup of 101 and 102
      (2L, (80 to 95).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDupPairs(fresh, corpus, thresholdPpm = 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 101L)) && out.contains((1L, 102L)),
      s"new doc 1 must match both corpus twins, got $out")
    assert(!out.exists(p => p._1 == 2L), "unique new doc must not match")
    assert(out.forall(p => Set(1L, 2L)(p._1)),
      s"left side must always be the NEW batch (no corpus-internal pairs): $out")
  }

  test("normalized dedup: case/punct/space variants collide; distinct texts survive") {
    import spark.implicits._
    val d = Seq(
      ("a1", "Hello,  World!"), ("a2", "hello world"), ("a3", "HELLO WORLD  "),
      ("b1", "something else"), ("n1", null), ("n2", null))
      .toDF("doc_id", "text")
    val out = Dedup.exactNormalized(d).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("keeper_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out("a1") == (("a1", false)) && out("a2") == (("a1", true))
      && out("a3") == (("a1", true)), s"variants must fold: $out")
    assert(out("b1") == (("b1", false)))
    assert(out("n1") == (("n1", false)) && out("n2") == (("n1", true)),
      "null texts form one normalized group")
    assert(!out.keySet.contains("__norm"))
  }

  test("incremental near-dup fast (xxhash64): same contract as the portable family") {
    import spark.implicits._
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val corpus = Seq((101L, base), (102L, base + " w13"),
      (103L, (50 to 65).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val fresh = Seq((1L, base + " w14"),
      (2L, (80 to 95).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDupPairsFast(fresh, corpus, thresholdPpm = 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 101L)) && out.contains((1L, 102L)))
    assert(out.forall(p => Set(1L, 2L)(p._1)) && !out.exists(_._1 == 2L))
  }

  test("containment pairs: embedded doc scores full containment; strangers absent") {
    import spark.implicits._
    val a = (1 to 10).map(i => s"w$i").mkString(" ") // 3 8-word spans
    val df = Seq(
      (1L, a),
      (2L, ((1 to 5).map(i => s"x$i") ++ (1 to 10).map(i => s"w$i") ++
        (1 to 5).map(i => s"y$i")).mkString(" ")), // contains all of doc 1
      (3L, (1 to 10).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("shared_spans"), r.getAs[Long]("containment_ppm"))).toMap
    assert(out.size == 1)
    // doc 1 has 3 spans, all shared → containment 3/min(3,13) = 100%
    assert(out((1L, 2L)) == ((3L, 1000000L)))
  }

  test("decontaminate: eval-span overlap counts, clean docs absent") {
    import spark.implicits._
    val leak = "one two three four five six seven eight nine ten"
    val evalDocs = Seq(("e1", leak)).toDF("doc_id", "text") // spans at 0,1,2
    val corpus = Seq(
      ("c1", s"prefix $leak suffix words"), // contains all 3 eval spans
      ("c2", s"one two three four five six seven eight different tail"), // 1 span
      ("c3", "entirely clean document with no overlap whatsoever in it"))
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, evalDocs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("c1" -> 3L, "c2" -> 1L))
  }

  test("connected components: chains, cliques, singletons, symmetry") {
    import spark.implicits._
    // component {1,2,3,4} as a CHAIN (needs multiple propagation rounds),
    // component {10,11,12} as a clique, singletons 20 and 21
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L).toDF("doc_id")
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), // chain, mixed orientation
      (10L, 11L), (11L, 12L), (10L, 12L), (10L, 11L)) // clique + dup edge
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L)
    // default budget: the raw pairs fit the driver at level 0 → solved
    // there, no contraction
    val got = Dedup.nearDupClusters(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // threshold 0 skips the level-0 test: one distributed contraction
    // level, whose (node, rep) pairs fit the default budget → driver solve
    val gotDist = Dedup.nearDupClusters(nodes, pairs, driverSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == want)
    // a chain (diameter 9) on the same two paths
    val chainNodes = (0L until 10L).toDF("doc_id")
    val chainPairs = (0L until 9L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    for (threshold <- Seq(Long.MaxValue, 0L)) {
      val chain = Dedup.nearDupClusters(chainNodes, chainPairs,
        driverSolveMaxEdges = threshold).collect()
      assert(chain.forall(_.getLong(1) == 0L), s"threshold=$threshold")
    }
    // budgets that steer the chain through the contraction loop's other
    // exits:
    //  (100, 4): edges exceed the per-task budget, so level 0 contracts
    //            (hash-partitioned by source); its (node, rep) pairs fit
    //            the threshold → driver solve
    //  (2, 4):   level 0 glues into a second level, which ends fully
    //            contracted (labels = the reps)
    //  (2, 3):   two contraction levels, then level 2's glue fits
    //            min(edgesPerTask, threshold) → driver solve
    //  (2, 2):   level 0's glue stays above 70% of its edges → level 1
    //            hands it to the distributed min-label fixpoint
    for ((threshold, perTask) <- Seq((100L, 4L), (2L, 4L), (2L, 3L), (2L, 2L))) {
      val labels = Dedup.nearDupClusters(chainNodes, chainPairs,
        driverSolveMaxEdges = threshold, edgesPerTask = perTask).collect()
      assert(labels.length == 10 && labels.forall(_.getLong(1) == 0L),
        s"threshold=$threshold edgesPerTask=$perTask")
    }
  }

  test("connected components: multi-level hierarchical contraction matches local union-find") {
    import spark.implicits._
    // a random graph big enough (and budgets small enough) that the
    // hierarchical path runs ≥2 contraction levels before the bounded
    // final solve, exercising mapping back-propagation end to end
    val rnd = new scala.util.Random(7)
    val n = 400
    val pairSeq = Seq.fill(500) {
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    }.filter(p => p._1 != p._2)
    // reference: plain local union-find with min-label election
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairsDf = pairSeq.toDF("id_a", "id_b")
    // tiny budgets force: no level-0 driver solve, per-level survivor
    // graphs above the collect bar for at least one level, bounded tasks
    val got = Dedup.nearDupClusters(nodes, pairsDf,
      driverSolveMaxEdges = 60L, edgesPerTask = 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // string ids through the same forced-hierarchical path (UTF8 min order)
    val sNodes = (0 until n).map(i => f"d$i%04d").toDF("doc_id")
    val sPairs = pairSeq.map { case (a, b) => (f"d$a%04d", f"d$b%04d") }
      .toDF("id_a", "id_b")
    val sGot = Dedup.nearDupClusters(sNodes, sPairs,
      driverSolveMaxEdges = 60L, edgesPerTask = 50L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot == want.map { case (k, v) => f"d$k%04d" -> f"d$v%04d" })
  }

  test("connected components: the fixpoint fails loudly past maxIters rounds") {
    import spark.implicits._
    // 1-row budgets send a 30-node chain to the fixpoint, whose diameter
    // (29) exceeds maxIters = 20
    val nodes = (0L until 30L).toDF("doc_id")
    val pairs = (0L until 29L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException] {
      Dedup.nearDupClusters(nodes, pairs, driverSolveMaxEdges = 1L, edgesPerTask = 1L)
    }
    assert(err.getMessage.contains("did not converge within maxIters=20"))
  }

  test("exact dedup: input frames already carrying __fp/__kfp/__norm are not clobbered") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text", "keepme1", 11L),
      (2L, "same text", "keepme2", 22L),
      (3L, "other", "keepme3", 33L))
      .toDF("doc_id", "text", "__fp", "__kfp")
    val got = Dedup.exact(df).orderBy("doc_id")
      .select("doc_id", "keeper_id", "is_dup", "__fp", "__kfp").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
    // the caller's columns survive untouched
    assert(got.map(_.getString(3)).toSeq == Seq("keepme1", "keepme2", "keepme3"))
    val dfn = Seq((1L, "Same  Text!", "n1"), (2L, "same text", "n2"))
      .toDF("doc_id", "text", "__norm")
    val gotN = Dedup.exactNormalized(dfn).orderBy("doc_id")
      .select("doc_id", "keeper_id", "__norm").collect()
    assert(gotN.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 1L, "n1"), (2L, 1L, "n2")))
  }

  test("degenerate LSH bucket is pruned, live pairs survive (MinHash + SimHash)") {
    // 500 copies of one boilerplate doc — the exact input a web crawl
    // guarantees — must be dropped by the cap WITHOUT ever being gathered;
    // a genuinely duplicated pair outside the hot bucket must survive
    val rows = (0 until 500).map(i =>
      (f"hot$i%04d", "same boilerplate error page text served everywhere")) ++
      Seq(("pair_a", "a unique document about spark query engines"),
        ("pair_b", "a unique document about spark query engines"))
    val df = rows.toDF("doc_id", "text").repartition(8)
    val mh = Dedup.minHashLshPairsPortable(df, maxBucket = 50, thresholdPpm = 400000L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(mh == Set(("pair_a", "pair_b")),
      s"hot bucket must be capped out, live pair kept: $mh")
    val sh = Dedup.simHashPairsPortable(df, maxHamming = 4, maxBucket = 50)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sh == Set(("pair_a", "pair_b")), s"simhash twin: $sh")
  }
}

class SynthDocumentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("documents synthesis: deterministic, controlled dup structure") {
    val d = Synth.documents(spark, 800)
    val rows = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.size == 800)
    // ids 0,1,2 (mod 8) share a text; 3 is a near-dup; 4..7 unique
    assert(rows(0L) == rows(1L) && rows(1L) == rows(2L))
    assert(rows(3L) == rows(0L) + " zz3")
    assert(rows(4L) != rows(5L) && rows(4L) != rows(0L))
    assert(rows(8L) == rows(9L) && rows(8L) != rows(0L))
    // identical across invocations and partitionings
    val again = Synth.documents(spark, 800, partitions = 7).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(again == rows)
    // the dedup ops find exactly the planted structure
    val dups = graft.dedup.Dedup.exact(d, "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("is_dup")).count()
    assert(dups == 200) // 2 dups per 8-row block
  }
}

class AnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("recallAtK: hit counting, missed-query zero, answer-sized join") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 99L), (1L, 12L)) // query 2 missed entirely
      .toDF("query_id", "neighbor_id")
    val out = Ann.recallAtK(approx, exact).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 3L, 666666L))) // 2 of 3 true neighbors found
    assert(out(2L) == ((0L, 2L, 0L)))      // missed query reports 0, not absence
  }

  test("brute force top-k: ranks are exact vs driver-side recomputation") {
    val queries = emb.filter(col("vec_id") < 2)
    val got = Ann.bruteForceTopK(emb, queries, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq)
      .toMap

    // driver-side oracle
    val all = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- Seq(0L, 1L)) {
      val want = all.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, math.floor(cos(all(q), v) * 1000000.0).toLong) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      assert(got(q) == want, s"query $q")
    }
  }

  test("aggregate top-k ≡ two-stage window top-k, every (rank, id, sim)") {
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("sim_ppm"))
    val agg = Ann.bruteForceTopK(emb, queries, k = 7).collect().map(key).toSet
    val win = Ann.bruteForceTopKWindow(emb, queries, k = 7).collect().map(key).toSet
    assert(agg == win)
    assert(agg.size == 70)
  }

  test("LSH ANN: same-bucket candidates, multi-probe lifts recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def recallAt(probes: Int): Double = {
      val approx = Ann.lshTopK(emb, queries, k = 10, numPlanes = 4, probes = probes)
        .collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
      assert(approx.values.forall(_.size <= 10))
      exact.keys.toSeq.map { q =>
        approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
      }.sum / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    info(f"LSH recall@10, 4 planes: probes=1 $r1%.2f, probes=4 $r4%.2f")
    assert(r1 > 0.2, s"single-probe recall collapsed: $r1") // 16 buckets, 100 vecs
    assert(r4 >= r1, "multi-probe must never lose recall")
    assert(r4 > 0.4, s"4-probe recall floor: $r4")
    // single-bit flips reach exactly numPlanes+1 buckets; asking for more
    // must fail loudly, not silently probe fewer
    assertThrows[IllegalArgumentException](
      Ann.lshTopK(emb, queries, numPlanes = 4, probes = 6))
  }

  test("cosine near-dup pairs are symmetric-free and above threshold") {
    val pairs = Ann.cosineNearDupPairs(emb, thresholdPpm = 700000L,
      numPlanes = 4, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.forall { case (a, b, s) => a < b && s >= 700000L })
  }

  test("near-dup banding is OR-amplified: more bands never lose pairs") {
    // maxBucket is set above the corpus size: with pruning out of play,
    // bands=1 candidates (full 8-bit key agreement) are a subset of
    // bands=4 candidates (agreement on any 2-bit slice) BY CONSTRUCTION —
    // with pruning active a coarse band could saturate and lose pairs the
    // finer single table keeps, so the invariant only holds uncapped
    def pairsAt(bands: Int) =
      Ann.cosineNearDupPairs(emb, thresholdPpm = 600000L,
        numPlanes = 8, bands = bands, maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairsAt(1) // single 8-bit bucket table
    val four = pairsAt(4) // four 2-bit tables: strict superset of candidates
    assert(one.subsetOf(four),
      s"band-0 keys extend the single-table keys, so candidates only grow: " +
        s"missing ${one.diff(four)}")
  }

  test("IVF ANN: exact rerank within probed cells, nProbe lifts recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def recallAt(nProbe: Int): Double = {
      val approx = Ann.ivfTopK(emb, queries, k = 10, numCentroids = 16,
        nProbe = nProbe).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
      assert(approx.values.forall(_.size <= 10))
      exact.keys.toSeq.map { q =>
        approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
      }.sum / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    val r16 = recallAt(16) // probing every cell = exact search
    info(f"IVF recall@10, 16 centroids: nProbe=1 $r1%.2f, 4 $r4%.2f, 16 $r16%.2f")
    assert(r4 >= r1, "probing more cells must never lose recall")
    assert(r16 == 1.0, "nProbe = numCentroids degenerates to exact search")
    assertThrows[IllegalArgumentException](
      Ann.ivfTopK(emb, queries, numCentroids = 16, nProbe = 17))
  }

  test("int8 quantization: exact values, max element ±127, zero vector → zeros") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Ann.quantizeInt8(df, "embedding", "qv").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](2)).toMap
    // scale=1.0: round(63.5)=64 (half-up), -127 exact, round(31.75)=32
    assert(q(1L) == Seq(64L, -127L, 32L))
    assert(q(2L) == Seq(0L, 0L, 0L))
  }

  test("embed dedup: re-scaled copies collide (scale-invariant quantization), zeros group") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f)), (2L, Array(1.0f, -2.0f)), // same direction/ratio
      (3L, Array(1.0f, 1.0f)),
      (4L, Array(0f, 0f)), (5L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val out = Ann.embedExactDedup(df).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true))) // per-vector max-abs scale is scale-invariant
    assert(out(3L) == ((3L, false)))
    assert(out(4L) == ((4L, false)))
    assert(out(5L) == ((4L, true)))
  }

  test("quantized diversity: sum-vector identity matches the explicit pair sum") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0f), 1), (2L, Array(0f, 1.0f), 1), (3L, Array(1.0f, 1.0f), 1),
      (4L, Array(1.0f, 0f), 2)) // singleton label → excluded
      .toDF("vec_id", "embedding", "label")
    // label 1 quantized: (127,0),(0,127),(127,127); S=(254,254) → sum_sq=129032
    // self_sq = 16129+16129+32258 = 64516; ordered-pair dot sum = 129032-64516
    // = 64516 = 2·(0 + 16129 + 16129) ✓; mean_milli = floor(64516000/6)
    val out = Ann.quantizedDiversity(df).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_sq"), r.getAs[Long]("self_sq"),
          r.getAs[Long]("mean_pair_dot_milli"))).toMap
    assert(out.size == 1)
    assert(out(1) == ((3L, 129032L, 64516L, 10752666L)))
  }

  test("quantized centroids: exact integer sums per (label, dim)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -0.5f), 7),
      (2L, Array(0.5f, 1.0f), 7),
      (3L, Array(0f, 0f), 8)).toDF("vec_id", "embedding", "label")
    // quantized: v1=(127,-64) [round(-63.5) half-up → -64], v2=(64,127), v3=(0,0)
    val out = Ann.quantizedCentroids(df).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("dim")) ->
        (r.getAs[Long]("sum_q"), r.getAs[Long]("n"), r.getAs[Long]("centroid_milli"))).toMap
    assert(out((7, 0L)) == ((191L, 2L, 95500L)))
    assert(out((7, 1L)) == ((63L, 2L, 31500L)))
    assert(out((8, 0L)) == ((0L, 1L, 0L)))
    assert(out((8, 1L)) == ((0L, 1L, 0L)))
  }

  test("quantized top-k matches driver-side integer recompute") {
    val queries = emb.filter(col("vec_id") < 2)
    val got = Ann.quantizedTopK(emb, queries, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("qsim_ppm"))).toSeq)
      .toMap

    val all = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def quant(v: Array[Float]): Array[Long] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      if (s == 0.0) v.map(_ => 0L)
      else v.map(x => java.math.BigDecimal.valueOf(127.0 * x.toDouble / s)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()) // Spark round semantics
    }
    def sim(a: Array[Long], b: Array[Long]): Long = {
      val qdot = a.indices.map(i => a(i) * b(i)).sum.toDouble
      val qn = a.map(x => x * x).sum.toDouble
      val cn = b.map(x => x * x).sum.toDouble
      if (qn == 0 || cn == 0) 0L
      else math.floor(qdot * 1000000.0 / (math.sqrt(qn) * math.sqrt(cn))).toLong
    }
    val q8 = all.view.mapValues(quant).toMap
    for (q <- Seq(0L, 1L)) {
      val want = q8.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, sim(q8(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
      assert(got(q) == want, s"query $q")
    }
  }

  test("caller-supplied dim skips the dimension-probe job entirely") {
    // an EMPTY corpus makes the probe observable: first() on it throws, so
    // plan construction succeeding proves no probe job ran
    val empty = emb.filter(lit(false))
    Ann.lshTopK(empty, empty, k = 3, numPlanes = 4, dim = 16)
    Ann.cosineNearDupPairs(empty, numPlanes = 4, bands = 2, dim = 16)
    Ann.ivfTopK(empty, empty, k = 3, numCentroids = 4, dim = 16)
    // and the fallback still probes when dim is not given
    assertThrows[NoSuchElementException](
      Ann.lshTopK(empty, empty, k = 3, numPlanes = 4))
  }
}

class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fitEncode: dense frequency ids, OOV -1, empty docs contribute nothing") {
    val df = Seq(("a", "x y x z"), ("b", "x q"), ("c", "")).toDF("doc_id", "text")
    // counts: x=3, q=1, y=1, z=1 → (n desc, word asc): x→0, q→1, y→2; z is OOV at K=3
    val out = Vocab.fitEncode(df, vocabK = 3).collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("pos")) ->
        (r.getAs[String]("word"), r.getAs[Long]("token_id"))).toMap
    assert(out.size == 6)
    assert(out(("a", 0L)) == ("x", 0L))
    assert(out(("a", 1L)) == ("y", 2L))
    assert(out(("a", 2L)) == ("x", 0L))
    assert(out(("a", 3L)) == ("z", -1L))
    assert(out(("b", 0L)) == ("x", 0L))
    assert(out(("b", 1L)) == ("q", 1L))
  }

  test("chunk: fixed-budget layout, remainder tail, empty docs skipped") {
    val df = Seq(("a", "w0 w1 w2 w3 w4"), ("b", "u0 u1"), ("c", ""))
      .toDF("doc_id", "text")
    val out = Vocab.chunk(df, chunkSize = 2).collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("chunk_len"), r.getAs[String]("head_word"))).toMap
    assert(out.size == 4)
    assert(out(("a", 0L)) == (2L, "w0"))
    assert(out(("a", 1L)) == (2L, "w2"))
    assert(out(("a", 2L)) == (1L, "w4")) // remainder chunk
    assert(out(("b", 0L)) == (2L, "u0"))
  }

  test("bpeFitEncode matches a local reference BPE (weighted counts, greedy left-to-right, overlap rule)") {
    // "aaaa aa aaa" exercises the overlap rule: merge (a,a) on "aaaa" must
    // give [aa, aa] (greedy non-overlapping), on "aaa" → [aa, a]
    val corpus = Seq(
      (1L, "low lower lowest Low, LOW!"),
      (2L, "newer newest new low 42 low42x"),
      (3L, "aaaa aa aaa aaaa aaaa"))
    val docs = corpus.toDF("doc_id", "text")
    val nMerges = 6

    // local reference implementation (same published semantics)
    def pretoks(t: String): List[String] =
      "[a-z]+|[0-9]+".r.findAllIn(t.toLowerCase).toList
    def applyMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val wordCounts = corpus.flatMap(d => pretoks(d._2))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    var wordSyms: Map[String, List[String]] =
      wordCounts.keys.map(w => w -> w.split("").toList).toMap
    for (_ <- 1 to nMerges) {
      val pairCounts = wordSyms.toSeq.flatMap { case (w, syms) =>
        syms.zip(syms.tail).map(p => p -> wordCounts(w))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      if (pairCounts.nonEmpty) {
        val ((l, r), _) = pairCounts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }
        wordSyms = wordSyms.map { case (w, s) => w -> applyMerge(s, l, r) }
      }
    }
    val pieceIds = wordSyms.values.flatten.toSeq.distinct.sorted
      .zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    val want = corpus.flatMap { case (id, t) =>
      pretoks(t).zipWithIndex.flatMap { case (w, wp) =>
        wordSyms(w).zipWithIndex.map { case (p, pp) =>
          (id, wp.toLong, pp.toLong, p, pieceIds(p))
        }
      }
    }.toSet

    val got = Vocab.bpeFitEncode(docs, nMerges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == want, s"got ${got.toSeq.sorted.take(10)}…")
    // the overlap rule actually fired: after merge (a,a), "aaa" must be
    // [aa, a] (greedy left-to-right), never [a, aa]
    val aaa = got.filter(g => g._1 == 3L && g._2 == 2L).toSeq.sortBy(_._3)
    assert(aaa.map(_._4) == Seq("aa", "a"),
      s"greedy left-to-right on aaa: $aaa")
  }
}

class KmvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.sketch.Kmv
  import spark.implicits._

  test("KMinStringsAgg: k smallest DISTINCT values, sorted, merge-correct") {
    val vals = (1 to 500).map(i => f"v${i % 97}%03d") // 97 distinct, many dups
    val df = vals.toDF("v").repartition(13) // force partial/final merging
    val got = df.agg(graft.expressions.KMinStringsAgg(col("v"), 10).as("kmin"))
      .collect()(0).getSeq[String](0)
    val want = vals.distinct.sorted.take(10)
    assert(got == want)
    // fewer distinct values than k → all of them
    val small = Seq("b", "a", "b", "c").toDF("v")
      .agg(graft.expressions.KMinStringsAgg(col("v"), 10))
      .collect()(0).getSeq[String](0)
    assert(small == Seq("a", "b", "c"))
  }

  test("KMV distinct estimate: exact under k, ~1/sqrt(k) accuracy over it") {
    val n = 20000
    val trueDistinct = 3000
    val df = spark.range(n).select(
      lit("g").as("g"), concat(lit("doc"), pmod(col("id"), lit(trueDistinct))).as("text"))
    val est = Kmv.distinctByGroup(df, "g", "text", k = 64)
      .collect()(0).getAs[Long]("distinct_est")
    val err = math.abs(est - trueDistinct).toDouble / trueDistinct
    info(f"KMV k=64: est=$est true=$trueDistinct err=${err * 100}%.1f%%")
    assert(err < 0.4, s"estimate too far off: $est vs $trueDistinct")
    // exact path: < k distinct values in the group
    val exact = Kmv.distinctByGroup(
      spark.range(500).select(lit("g").as("g"),
        concat(lit("x"), pmod(col("id"), lit(40))).as("text")),
      "g", "text", k = 64).collect()(0)
    assert(exact.getAs[Long]("distinct_est") == 40L)
    assert(exact.getAs[Long]("n_rows") == 500L)
  }
}

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.textops.Sampling

  private lazy val ids = spark.range(0, 20000).toDF("id")

  test("hash split: deterministic, exhaustive, fraction-accurate") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val once = Sampling.hashSplit(ids, "id", splits)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(once.values.sum == 20000L) // every row labeled
    // md5 buckets are uniform: 80/10/10 ±1.5 percentage points at n=20k
    assert(math.abs(once("train") - 16000L) < 300, once.toString)
    assert(math.abs(once("val") - 2000L) < 300, once.toString)
    assert(math.abs(once("test") - 2000L) < 300, once.toString)
    // identical assignment on re-run (same salt), disjoint labels per id
    val a = Sampling.hashSplit(ids, "id", splits).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(ids, "id", splits).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // a different salt re-rolls the split
    val c = Sampling.hashSplit(ids, "id", splits, salt = "other").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c)
  }

  test("hash split: validation and threshold exposure") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assertThrows[IllegalArgumentException](
      Sampling.thresholds(Seq("a" -> 0.5, "b" -> 0.4)))
    assertThrows[IllegalArgumentException](Sampling.thresholds(Nil))
    assert(Sampling.thresholds(Seq("t" -> 0.8, "v" -> 0.2)) ==
      Seq("t" -> 52428, "v" -> 65536))
    // pure projection: no shuffle anywhere in the plan
    val plan = Sampling.hashSplit(ids, "id", Seq("a" -> 0.5, "b" -> 0.5))
      .queryExecution.executedPlan
    assert(!plan.exists(_.isInstanceOf[ShuffleExchangeLike]))
  }

  test("mix sample: per-group rates, determinism, rate-1 keeps all, rate-0 drops all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("grp", concat(lit("g"), pmod(col("id"), lit(4))))
    val out = Sampling.mixSample(df, "grp", "id",
      rates = Map("g0" -> 1.0, "g1" -> 0.0, "g2" -> 0.5), defaultRate = 0.25)
    val counts = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("g0") == 2000L)             // rate 1.0: every row
    assert(!counts.contains("g1"))            // rate 0.0: none
    assert(math.abs(counts("g2") - 1000L) < 120, counts.toString)  // ~0.5
    assert(math.abs(counts("g3") - 500L) < 90, counts.toString)    // default 0.25
    // deterministic: same survivors on re-run; salt re-rolls the decision
    val a = out.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixSample(df, "grp", "id",
      rates = Map("g0" -> 1.0, "g1" -> 0.0, "g2" -> 0.5), defaultRate = 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val c = Sampling.mixSample(df, "grp", "id",
      rates = Map("g0" -> 1.0, "g1" -> 0.0, "g2" -> 0.5), defaultRate = 0.25,
      salt = "other").select("id").collect().map(_.getLong(0)).toSet
    assert(a != c)
    // rejects out-of-range rates; stays shuffle-free
    assertThrows[IllegalArgumentException](
      Sampling.mixSample(df, "grp", "id", Map("g0" -> 1.5), 0.5))
    assert(!out.queryExecution.executedPlan.exists(_.isInstanceOf[ShuffleExchangeLike]))
  }

  test("sequence packing: exclusive prefix offsets, shard independence, straddle") {
    import graft.textops.Packing
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 2 shards (ids mod 2); shard 0: docs 0(3 tok),2(4),4(2); shard 1: 1(5),3(1)
    val docs = Seq(
      (0L, "a b c"), (1L, "p q r s t"), (2L, "d e f g"),
      (3L, "u"), (4L, "h i")).toDF("doc_id", "text")
    val out = Packing.packSequences(docs, budget = 5L, shards = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ((0L, 3L, 0L, 0L)))  // shard 0 starts at offset 0
    assert(out(2L) == ((0L, 4L, 3L, 0L)))  // starts inside pack 0, straddles into 1
    assert(out(4L) == ((0L, 2L, 7L, 1L)))  // 7 div 5 = pack 1
    assert(out(1L) == ((1L, 5L, 0L, 0L)))  // shard 1 is an independent stream
    assert(out(3L) == ((1L, 1L, 5L, 1L)))  // exactly at the boundary → next pack
    // empty text costs zero tokens and does not advance the offset
    val withEmpty = Seq((0L, ""), (2L, "x y")).toDF("doc_id", "text")
    val e = Packing.packSequences(withEmpty, budget = 5L, shards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(e(0L) == 0L && e(2L) == 0L)
    assertThrows[IllegalArgumentException](Packing.packSequences(docs, 0L, 2))
    assertThrows[IllegalArgumentException](Packing.packSequences(docs, 5L, 0))
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    ("m1", "some text payload standing in for bytes"),
    ("m2", "another payload with different content entirely"),
    ("m3", "x")).toDF("doc_id", "text")

  test("media table schema and deterministic metadata") {
    val media = Multimodal.fromDocuments(docs)
    val rows = media.collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(media.schema("media").dataType.typeName == "binary")
    assert(rows("m1").getAs[Long]("n_bytes") ==
      "some text payload standing in for bytes".getBytes("UTF-8").length.toLong)
    assert(Set("image", "audio", "video").contains(rows("m1").getAs[String]("media_type")))
    // deterministic across runs
    val again = Multimodal.fromDocuments(docs).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("media_type")).toMap
    assert(rows.view.mapValues(_.getAs[String]("media_type")).toMap == again)
  }

  test("batched decode stub: typed output, deterministic features") {
    val feats = Multimodal.decodeFeatures(spark,
      Multimodal.fromDocuments(docs), featureDim = 8).collect()
    assert(feats.length == 3)
    assert(feats.forall(_.feature.length == 8))
    assert(feats.forall(_.feature.forall(v => v >= 0f && v < 1f)))
    val again = Multimodal.decodeFeatures(spark,
      Multimodal.fromDocuments(docs), featureDim = 8).collect()
    assert(feats.map(f => f.doc_id -> f.feature.toSeq).toMap ==
      again.map(f => f.doc_id -> f.feature.toSeq).toMap)
  }

  test("BMP codec: header fields and stride-aware pixel sum, every stride remainder") {
    // ids 0..15 sweep width 1..16, hitting all four (3*w % 4) padding cases
    for (id <- 0L until 16L) {
      val bytes = Multimodal.synthesizeBmp(id)
      assert(bytes(0) == 'B' && bytes(1) == 'M')
      val m = Multimodal.decodeBmp(id, bytes)
      val w = (1 + id % 16).toInt
      val h = (1 + (id * 3) % 16).toInt
      assert(m.width == w && m.height == h && m.bpp == 24)
      // closed form: every channel byte of image row y is (id + y) % 256,
      // padding (0xAA) excluded by the stride walk
      val want = 3L * w * (0 until h).map(y => (id + y) % 256).sum
      assert(m.pixel_sum == want, s"doc $id: got ${m.pixel_sum}, want $want")
    }
    // padding-skip is load-bearing: a decoder summing whole file rows
    // (stride instead of 3*w) would differ whenever 3*w % 4 != 0
    val m3 = Multimodal.decodeBmp(3, Multimodal.synthesizeBmp(3)) // w=4, 3*w=12 pad 0
    val m2 = Multimodal.decodeBmp(2, Multimodal.synthesizeBmp(2)) // w=3, 3*w=9 pad 3
    assert(m3.width == 4 && m2.width == 3)
  }

  test("PNG codec: JDK imageio decode matches closed-form synthesis") {
    // our writer, the JDK's reader: inflate + defilter + pixel walk must
    // reproduce the generation parameters exactly (PNG is lossless)
    for (id <- 0L until 16L) {
      val m = Multimodal.decodeImage(id, Multimodal.synthesizePng(id))
      val w = (1 + (id * 13) % 16).toInt
      val h = (1 + (id * 9) % 16).toInt
      assert(m.width == w && m.height == h, s"doc $id dims")
      val want = 3L * w * (0 until h).map(y => (id * 7 + y) % 256).sum
      assert(m.pixel_sum == want, s"doc $id: got ${m.pixel_sum}, want $want")
    }
    // non-image payloads must error loudly, not return garbage metadata
    assertThrows[IllegalArgumentException](
      Multimodal.decodeImage(0, "definitely not an image".getBytes("UTF-8")))
  }

  test("JPEG round-trip through the JDK codec: exact dims, deterministic decode") {
    for (id <- Seq(0L, 3L, 7L, 11L)) {
      val bytes = Multimodal.synthesizeJpeg(id)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "JFIF magic")
      val m = Multimodal.decodeImage(id, bytes)
      assert(m.width == (1 + (id * 13) % 16).toInt)
      assert(m.height == (1 + (id * 9) % 16).toInt)
      assert(m == Multimodal.decodeImage(id, bytes), "decode must be deterministic")
      // lossy, but a uniform-gray image must stay near its source mean:
      // per-channel-byte error bound of ±8 gray levels
      val n = 3L * m.width * m.height
      val wantMean = (0 until m.height).map(y => (id * 7 + y) % 256).sum / m.height
      assert(math.abs(m.pixel_sum / n - wantMean) <= 8,
        s"doc $id: mean ${m.pixel_sum / n} vs source $wantMean")
    }
  }

  test("decodeFeatures: real pixel features for image payloads, stub for opaque") {
    val png = Multimodal.synthesizePng(9) // w=(1+117%16)=6, h=(1+81%16)=2
    val media = Seq(
      ("img", png, "image", png.length.toLong),
      ("opq", "opaque payload".getBytes("UTF-8"), "audio", 14L))
      .toDF("doc_id", "media", "media_type", "n_bytes")
    val feats = Multimodal.decodeFeatures(spark, media, featureDim = 8).collect()
      .map(f => f.doc_id -> f).toMap
    val img = feats("img").feature
    assert(img(0) == 6f / 4096f && img(1) == 2f / 4096f, "dims features")
    // uniform gray rows: (9*7+0)%256=63, (9*7+1)%256=64 → mean 63.5 per channel
    assert(math.abs(img(2) - 63.5f / 256f) < 1e-6f)
    assert(img(2) == img(3) && img(3) == img(4), "gray image: equal channel means")
    // opaque payload still goes through the deterministic stub
    assert(feats("opq").feature.toSeq ==
      Multimodal.decodeStub("opaque payload".getBytes("UTF-8"), 8).toSeq)
    // lying magic: a TEXT payload starting with a codec magic must fall
    // back to the stub (ImageIO throws on the garbage body — the decode
    // must not kill the job)
    for (lie <- Seq("BMW is a car maker, not a bitmap",
      "GIF89a was a fine format in its day")) {
      val bytes = lie.getBytes("UTF-8")
      assert(Multimodal.decodeAuto(bytes, 8).toSeq ==
        Multimodal.decodeStub(bytes, 8).toSeq, lie)
    }
  }

  test("distributed batched imageio decode ≡ local decode") {
    val ids = (0L until 24L).toDF("doc_id")
    val got = Multimodal.decodeMeta(
      Multimodal.mediaTable(spark, ids, Multimodal.synthesizePng), Multimodal.decodeImage)
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- 0L until 24L)
      assert(got(id) == Multimodal.decodeImage(id, Multimodal.synthesizePng(id)))
  }

  test("BMP codec: adversarial headers error, never produce garbage metadata") {
    def mutated(at: Int, v: Int): Array[Byte] = {
      val b = Multimodal.synthesizeBmp(5)
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(at, v)
      b
    }
    // top-down BMP (negative height) is an explicit unsupported variant —
    // must error, not return height<0 with pixel_sum 0
    assertThrows[IllegalArgumentException](Multimodal.decodeBmp(5, mutated(22, -12)))
    assertThrows[IllegalArgumentException](Multimodal.decodeBmp(5, mutated(18, 0))) // zero width
    // hostile pixel-data offset must not index before the header / the array
    assertThrows[IllegalArgumentException](Multimodal.decodeBmp(5, mutated(10, -64)))
    assertThrows[IllegalArgumentException](Multimodal.decodeBmp(5, mutated(10, 1 << 30)))
  }

  test("PPM codec: comment-tolerant header scan, raster sum, round-trip") {
    for (id <- 0L until 16L) {
      val m = Multimodal.decodePpm(id, Multimodal.synthesizePpm(id))
      val w = (1 + (id * 7) % 16).toInt
      val h = (1 + (id * 5) % 16).toInt
      assert(m.width == w && m.height == h)
      val want = 3L * w * (0 until h).map(y => (id * 11 + y) % 256).sum
      assert(m.pixel_sum == want, s"doc $id: got ${m.pixel_sum}, want $want")
    }
    // comments may carry digits and appear between any header fields
    val tricky = ("P6\n#c 9\n 2 #w\n1\n#x\n255\n" + "ABCABC").getBytes("US-ASCII")
    val m = Multimodal.decodePpm(99, tricky)
    assert(m.width == 2 && m.height == 1)
    assert(m.pixel_sum == 2L * ('A' + 'B' + 'C'))
    assertThrows[IllegalArgumentException](
      Multimodal.decodePpm(0, "P5\n1 1\n255\nx".getBytes("US-ASCII"))) // grayscale
    assertThrows[IllegalArgumentException](
      Multimodal.decodePpm(0, "P6\n4 4\n255\nxx".getBytes("US-ASCII"))) // truncated
    // adversarial headers must ERROR, never produce garbage metadata
    assertThrows[IllegalArgumentException](Multimodal.decodePpm(0,
      ("P6\n99999999999 1\n255\n" + "ABC").getBytes("US-ASCII"))) // Int overflow
    assertThrows[IllegalArgumentException](Multimodal.decodePpm(0,
      ("P6\n0 4\n255\n").getBytes("US-ASCII"))) // zero width
    assertThrows[IllegalArgumentException](Multimodal.decodePpm(0,
      ("P6\n2 1\n255#c\nABCABC").getBytes("US-ASCII"))) // comment as raster sep
  }

  test("BMP codec rejects non-BMP and truncated payloads") {
    assertThrows[IllegalArgumentException](
      Multimodal.decodeBmp(0, "not a bitmap at all".getBytes("UTF-8")))
    val ok = Multimodal.synthesizeBmp(7)
    assertThrows[IllegalArgumentException](
      Multimodal.decodeBmp(7, ok.take(ok.length - 4))) // truncated pixel data
  }

  test("distributed batched BMP decode ≡ local decode") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id").repartition(5)
    val got = Multimodal.decodeMeta(
      Multimodal.mediaTable(spark, ids, Multimodal.synthesizeBmp), Multimodal.decodeBmp)
      .collect()
      .map(m => m.doc_id -> (m.width, m.height, m.pixel_sum)).toMap
    assert(got.size == 40)
    for (id <- 0L until 40L) {
      val local = Multimodal.decodeBmp(id, Multimodal.synthesizeBmp(id))
      assert(got(id) == ((local.width, local.height, local.pixel_sum)))
    }
  }

  test("WAV codec: javax.sound decode recovers every closed-form field and sample sum") {
    for (id <- Seq(0L, 1L, 2L, 7L, 8L, 123L, 9999L)) {
      val bytes = Multimodal.synthesizeWav(id)
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      val m = Multimodal.decodeWav(id, bytes)
      val rate = Array(8000, 16000, 22050)((id % 3).toInt)
      val n = 16 + (id * 5) % 241
      val amp = 1000 + (id * 13) % 20000
      val hp = 1 + id % 9
      assert(m.sample_rate == rate && m.n_samples == n)
      assert(m.duration_us == n * 1000000L / rate)
      assert(m.sum_abs == n * amp) // |±amp| everywhere — sign bugs surface
      val signed = (0L until n)
        .map(s => if ((s / hp) % 2 == 0) amp else -amp).sum
      assert(m.sum_signed == signed) // byte-order bugs surface here
    }
  }

  test("WAV codec rejects non-audio and truncated payloads; decodeAuto routes RIFF to the real decoder") {
    intercept[Exception](
      Multimodal.decodeWav(1L, "definitely not a RIFF payload".getBytes("UTF-8")))
    intercept[Exception](
      Multimodal.decodeWav(1L, Multimodal.synthesizeWav(1L).take(50)))
    // decodeAuto: WAV magic → real audio features (rate in slot 0), not stub
    val feats = Multimodal.decodeAuto(Multimodal.synthesizeWav(5L), 8)
    assert(feats.length == 8)
    assert(feats(0) == Array(8000, 16000, 22050)((5L % 3).toInt).toFloat / 48000f)
    assert(feats(2) > 0f) // mean |amplitude| of a square wave is positive
    // a RIFF magic with garbage body falls back to the stub, never throws
    val garbage = "RIFFxxxxWAVEgarbage-not-decodable".getBytes("US-ASCII")
    assert(Multimodal.decodeAuto(garbage, 8).length == 8)
  }

  test("distributed batched WAV decode ≡ local decode") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id").repartition(5)
    val got = Multimodal.decodeMeta(
      Multimodal.mediaTable(spark, ids, Multimodal.synthesizeWav), Multimodal.decodeWav)
      .collect()
      .map(m => m.doc_id -> (m.sample_rate, m.n_samples, m.sum_abs, m.sum_signed))
      .toMap
    assert(got.size == 40)
    for (id <- 0L until 40L) {
      val l = Multimodal.decodeWav(id, Multimodal.synthesizeWav(id))
      assert(got(id) == ((l.sample_rate, l.n_samples, l.sum_abs, l.sum_signed)))
    }
  }
}
