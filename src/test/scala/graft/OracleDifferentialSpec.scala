package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential testing: the Catalyst-compiled engine must agree row-for-row
  * with the ~30-line scalar [[Oracle]] interpreter (a direct transcription
  * of out_rewrite_tag_filter.rb:117-137) on randomized rule tables, configs,
  * records, and tags. Complements the golden suite: goldens pin the
  * reference's exact examples, this pins the whole semantic surface.
  * Generators are driven with fixed seeds (deterministic, reproducible runs;
  * no scalatestplus bridge needed).
  */
class OracleDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cols = Seq("domain", "agent", "world", "status")

  private val genKey: Gen[String] =
    Gen.oneOf("domain", "agent", "world", "status", "missing_col")

  // Portable, varied patterns: anchored/unanchored, groups, alternation,
  // optional groups (non-participating group → ""), char classes, ^$.
  private val genPattern: Gen[String] = Gen.oneOf(
    "^www\\..+$", "google", "^(a|b)c?$", "[0-9]+", "^$", "^(foo)(bar)?$",
    "^(maps|news|mail)\\.", "(Googlebot|CustomBot)-([a-zA-Z]+)", ".+",
    "o{2}", "^(?!deny).*$", "/^www\\./", "/(goo)gle/") // incl. /re/ forms

  private val genTemplate: Gen[String] = Gen.oneOf(
    "t.$1", "x.${tag}", "p.${tag_parts[1]}", "site.$1-$2", "${hostname}.y",
    "lit.only", "u.${unknown}.v", "$3.z", "a.$1.${tag_parts[0]}.$10",
    "${tag}", "__TAG__.q", "vip.${tag_parts[2]}.w")

  private val genRule: Gen[Rule] = for {
    k <- genKey; p <- genPattern; t <- genTemplate
    lbl <- Gen.oneOf(None, None, Some("lab1"), Some("lab2"))
    inv <- Gen.oneOf(false, false, false, true)
  } yield Rule(k, p, t, lbl, inv)

  private val genRules: Gen[List[Rule]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genRule))
      .map(_.distinctBy(r => (r.key, r.invert, r.pattern)))

  private val genConfig: Gen[RoutingConfig] = for {
    cap <- Gen.oneOf(true, false)
    strip <- Gen.oneOf(
      RoutingConfig(removeTagPrefix = Some("input")),
      RoutingConfig(removeTagPrefix = Some("game.production")),
      RoutingConfig(removeTagRegexp = Some("^input\\.")),
      RoutingConfig(removeTagRegexp = Some("prod")), // unanchored: sub-first!
      RoutingConfig())
  } yield strip.copy(capitalizeRegexBackreference = cap, hostname = "diffhost")

  private val genValue: Gen[Option[String]] = Gen.oneOf(
    None, Some(""), Some("www.google.com"), Some("maps.example.com"),
    Some("foo"), Some("foobar"), Some("GOOGLE x1"), Some("Googlebot-FooBar"),
    Some("ac"), Some("b"), Some("123"), Some("deny.all"), Some("xooy"))

  private val genRecord: Gen[Seq[Option[String]]] =
    Gen.sequence[Seq[Option[String]], Option[String]](cols.map(_ => genValue))

  private val genTag: Gen[String] = Gen.oneOf(
    "input.access", "game.production.api", "input", "a.b.c.d", "solo")

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("engine ≡ scalar oracle on randomized rules × configs × records") {
    val schema = StructType(
      StructField("rid", IntegerType, nullable = false) +:
        cols.map(c => StructField(c, StringType, nullable = true)) :+
        StructField("source", StringType, nullable = false))

    for (iter <- 0 until 15) {
      val rules = sample(genRules, 1000 + iter)
      val cfg = sample(genConfig, 2000 + iter)
      val recs = sample(Gen.listOfN(25, Gen.zip(genRecord, genTag)), 3000 + iter)
      val rows = recs.zipWithIndex.map { case ((vals, tag), i) =>
        Row.fromSeq(i +: vals.map(_.orNull) :+ tag)
      }
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      val got = Router.route(df, RuleCompiler.compileFused(rules, cfg, schema, "source"))
        .collect().map { r =>
          r.getAs[Int]("rid") ->
            (r.getAs[String]("new_tag"), Option(r.getAs[String]("new_label")))
        }.toMap
      val want = recs.zipWithIndex.flatMap { case ((vals, tag), i) =>
        val record: Map[String, Any] =
          cols.zip(vals).collect { case (c, Some(v)) => c -> v }.toMap
        Oracle.route(rules, cfg, tag, record).map(i -> _)
      }.toMap
      // fused single-expression cascade ≡ scalar oracle
      assert(got == want,
        s"\niter=$iter\nrules=$rules\ncfg=$cfg\nmismatch=${
          recs.zipWithIndex.filter(p => got.get(p._2) != want.get(p._2))}")
    }
  }

  test("engine ≡ scalar oracle through parquet: result cache over reused reader buffers") {
    // Written without dictionary encoding and read back from parquet, so the
    // vectorized reader hands out UTF8Strings over its reused per-batch byte
    // buffers; ~10k rows per file span several 4096-row batches
    // per partition. Every partition holds more distinct tuples than the
    // cache's 4096 entries: in the first half 55% of rows repeat a few hot
    // keys (the full cache keeps serving hits), in the second half 95% are
    // unique (inserts are refused, then probing stops). Hot keys recur under
    // different tags with ${tag} / ${tag_parts[n]} templates, so a cache
    // keyed on the rule key alone would render the wrong tag. null and ""
    // both occur, and one key is larger than the cache's byte budget.
    val n = 40000
    val hot = Array[String]("www.google.com", "maps.example.com", "", null, "foo")
    val tags = Array("input.access", "game.production.api", "a.b")
    val big = "x" * ((1 << 20) + 7)
    def domain(i: Int): String =
      if (i == 5 || i == n - 5) big
      else if (i < n / 2 && i % 20 < 11) hot((i / 3) % hot.length)
      else if (i >= n / 2 && i % 20 == 0) hot(i / 20 % hot.length)
      else s"u$i.example.com"
    val recs = (0 until n).map(i => (i, domain(i), tags(i % tags.length)))
    val schema = StructType(Seq(
      StructField("rid", IntegerType, nullable = false),
      StructField("domain", StringType, nullable = true),
      StructField("source", StringType, nullable = false)))
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_diff").toString
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        recs.map { case (i, d, t) => Row(i, d, t) }).asJava), schema)
      .repartitionByRange(4, org.apache.spark.sql.functions.col("rid"))
      .sortWithinPartitions("rid")
      .write.option("parquet.enable.dictionary", "false").parquet(s"$dir/in")
    val df = spark.read.parquet(s"$dir/in")

    val rules = List(
      Rule("domain", "^(www|maps)\\.(.+)$", "site.$1.${tag_parts[1]}"),
      Rule("domain", "^u(\\d)", "${tag}.u$1"),
      Rule("domain", "^(x)x*$", "big.$1.${tag}", Some("lab1")),
      Rule("source", "^a\\.(.+)$", "src.$1"), // keyed on the tag column itself
      Rule("source", "^input\\.access$", "${tag}"), // fires, then dropped
      Rule("domain", "^[a-z]", "inv.${tag_parts[0]}", invert = true)) // null and ""
    // "foo" under game.production.api fires no rule at all
    for (cfg <- Seq(RoutingConfig(),
        RoutingConfig(removeTagPrefix = Some("game"), capitalizeRegexBackreference = true))) {
      val got = Router.route(df, RuleCompiler.compileFused(rules, cfg, df.schema, "source"))
        .select("rid", "new_tag", "new_label").collect()
        .map(r => r.getInt(0) -> (r.getString(1), Option(r.getString(2)))).toMap
      val want = recs.flatMap { case (i, d, t) =>
        val record = Map[String, Any]("source" -> t) ++ Option(d).map("domain" -> _)
        Oracle.route(rules, cfg, t, record).map(i -> _)
      }.toMap
      assert(got.size == want.size && got == want, s"cfg=$cfg mismatch=${
        want.keys.filter(k => got.get(k) != want.get(k)).take(5)
          .map(k => (k, got.get(k), want.get(k))).mkString("; ").take(2000)}")
    }
  }

  test("prepending a never-matching rule changes nothing (first-match-wins)") {
    val rules = List(
      Rule("domain", "google", "g.$1.${tag_parts[1]}"),
      Rule("agent", ".+", "a.${tag}"))
    val schema = StructType(
      StructField("rid", IntegerType, nullable = false) +:
        cols.map(c => StructField(c, StringType, nullable = true)) :+
        StructField("source", StringType, nullable = false))
    val rows = (0 until 20).map(i =>
      Row.fromSeq(i +: Seq(if (i % 3 == 0) "www.google.com" else null,
        s"agent-$i", null, null) :+ "in.tag"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    def res(rs: Seq[Rule]) =
      Router.route(df, rs, RoutingConfig()).collect()
        .map(r => (r.getAs[Int]("rid"), r.getAs[String]("new_tag"))).toSet
    assert(res(rules) == res(Rule("status", "^never-matches-x$", "zz") :: rules))
  }
}
