package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Test-enforced physical-plan shape — the 100 TB scale claims from
  * README/SURVEY as assertions, so a regression that silently de-optimizes
  * the plan (extra shuffle, lost column pruning, interpreted fallback)
  * fails CI rather than only showing up in a bench:
  *
  *  1. column pruning reaches the scan: routing+counts over the sequence
  *     table reads ONLY `source` (never `tokens`);
  *  2. the whole flagship aggregate pipeline has exactly ONE shuffle (the
  *     partial→final count exchange) and ONE broadcast (the dimension);
  *  3. the rule cascade runs inside WholeStageCodegen;
  *  4. aggregation is partial+final (map-side combine), so only one row per
  *     sink per task crosses the wire.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def materializedInput(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape").toString
    Synth.sequences(spark, 2000L).write.parquet(s"$dir/seq")
    s"$dir/seq"
  }

  /** Execute, then collect the final adaptive plan's nodes. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect() // finalize AQE
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan) // AQE stage boundary
      case other =>
        (other +: other.children.flatMap(expand)) ++ other.subqueries.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
  }

  test("scan pruning: flagship aggregate reads only `source` from parquet") {
    val df = spark.read.parquet(materializedInput())
    val full = Pipelines.flagship(spark, df)
    val scanStr = executedNodes(full)
      .filter(_.nodeName.toLowerCase.contains("scan")).map(_.toString).mkString("\n")
    assert(scanStr.contains("ReadSchema: struct<source:string>"),
      s"expected tokens/doc_id pruned from the scan:\n$scanStr")
  }

  test("one shuffle (count agg) + one broadcast (dimension), cascade codegen'd") {
    val df = spark.read.parquet(materializedInput())
    val full = Pipelines.flagship(spark, df)
    val nodes = executedNodes(full)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    val broadcasts = nodes.collect { case b: BroadcastExchangeLike => b }
    assert(shuffles.length == 1,
      s"expected exactly 1 shuffle, got ${shuffles.length}:\n${full.queryExecution.executedPlan}")
    assert(broadcasts.length == 1,
      s"expected exactly 1 broadcast, got ${broadcasts.length}")
    // partial+final hash aggregation (map-side combine before the shuffle)
    val aggs = nodes.filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.length >= 2, s"expected partial+final HashAggregate, got:\n$nodes")
    // the fused cascade lives inside a WholeStageCodegen stage (plan strings
    // print those as a `*(n)` prefix, so check node types, not text)
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]))
    val route = Router.route(df, Pipelines.flagshipPlan(df))
      .select(col("new_tag"))
    val routeNodes = executedNodes(route)
    val codegenStages = routeNodes.collect { case w: WholeStageCodegenExec => w }
    assert(codegenStages.nonEmpty &&
      codegenStages.exists(_.toString.contains("tag_rewrite")),
      s"route stage not codegen'd:\n${route.queryExecution.executedPlan}")
  }

  test("observed flagship route evaluates the cascade once, over one child") {
    import graft.expressions.TagRewriteExpr
    val df = spark.read.parquet(materializedInput())
    val counts = Router.sinkCounts(
      Router.routeObserved(df, Pipelines.flagshipPlan(df), org.apache.spark.sql.Observation()))
    val rewrites = executedNodes(counts)
      .flatMap(_.expressions.flatMap(_.collect { case t: TagRewriteExpr => t }))
    assert(rewrites.length == 1,
      s"expected one tag_rewrite evaluation:\n${counts.queryExecution.executedPlan}")
    // every flagship rule is keyed on `source`, the tag column itself
    assert(rewrites.head.children.length == 1, s"children: ${rewrites.head.children}")
  }

  test("row-level route is shuffle-free (narrow map pipeline)") {
    val df = spark.read.parquet(materializedInput())
    val routed = Router.route(df, Pipelines.flagshipPlan(df))
    val shuffles = executedNodes(routed).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty,
      s"routing must be a narrow pipeline:\n${routed.queryExecution.executedPlan}")
  }

  test("bruteForceTopK aggregates with a bounded heap: no window at all") {
    import org.apache.spark.sql.execution.window.WindowExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = graft.ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), k = 5)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "top-k must be the partial/final aggregate, not a window over the corpus")
    // TypedImperativeAggregate → ObjectHashAggregate, partial + final
    val aggs = nodes.filter(_.nodeName.contains("Aggregate"))
    assert(aggs.count(_.toString.contains("topk_pairs")) >= 2,
      s"expected partial+final topk_pairs aggregate:\n${out.queryExecution.executedPlan}")
  }

  test("bruteForceTopKWindow is two-stage: no window partitions the raw corpus on bare query_id") {
    import org.apache.spark.sql.execution.window.WindowExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = graft.ann.Ann.bruteForceTopKWindow(emb, emb.filter(col("vec_id") < 2), k = 5)
    val nodes = executedNodes(out)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.exists(_.partitionSpec.length == 2),
      s"expected a (query_id, input-partition) local top-k window:\n$windows")
    // every single-key window must rank the locally-limited rows (its subtree
    // filters on the local rank __lr), never the raw joined corpus
    val global = windows.filter(_.partitionSpec.length == 1)
    assert(global.nonEmpty)
    global.foreach { w =>
      assert(w.child.toString.contains("__lr"),
        s"global window consumes unlimited input:\n$w")
    }
  }

  test("lshTopK reranks with the bounded heap: no window over bare query_id") {
    import org.apache.spark.sql.execution.window.WindowExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = graft.ann.Ann.lshTopK(emb, emb.filter(col("vec_id") < 2),
      k = 5, numPlanes = 4, probes = 2, dim = 64)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "a window over bare query_id sorts a query's whole bucket (corpus/2^P " +
        "rows at scale) in one task; the rerank must be the partial/final " +
        "bounded-heap aggregate")
    val aggs = nodes.filter(_.nodeName.contains("Aggregate"))
    assert(aggs.count(_.toString.contains("topk_pairs")) >= 2,
      s"expected partial+final topk_pairs aggregate:\n${out.queryExecution.executedPlan}")
  }

  test("LSH pair generation gathers buckets with BOUNDED buffers only") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val frames = Seq(
      "minhash" -> graft.dedup.Dedup.minHashLshPairsPortable(docs),
      "minhash_fast" -> graft.dedup.Dedup.minHashLshPairs(docs),
      "simhash" -> graft.dedup.Dedup.simHashPairsPortable(docs),
      "cosine" -> graft.ann.Ann.cosineNearDupPairs(emb,
        numPlanes = 8, bands = 2, dim = 64))
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val aggExprs = plan.collect { case a: Aggregate => a }
        .flatMap(_.aggregateExpressions.map(_.toString))
      // the gather must be the size-capped aggregate (no buffer ever holds
      // more than maxBucket + 1 entries, degenerate buckets saturate and
      // get filtered) — a plain collect_list materializes a 10^8-member
      // bucket in ONE buffer before any size filter can drop it
      assert(aggExprs.exists(_.contains("capped_collect_list")),
        s"$name: expected the capped bucket gather:\n$plan")
      assert(!aggExprs.exists(e =>
        e.contains("collect_list(") && !e.contains("capped_collect_list(")),
        s"$name: an UNBOUNDED collect_list reached the plan:\n$plan")
    }
  }

  /** Whether any node in `p`'s subtree builds a shingle set. */
  private def buildsSets(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists {
      case _: graft.expressions.ShingleStrings => true
      case _: graft.expressions.ShingleHashes => true
      case _ => false
    }))

  /** The one join keyed on `key` that attaches a doc side to candidate
    * pairs (the input carrying both `pairKeys`): (pair input, doc input).
    */
  private def attachJoin(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      key: String, pairKeys: Set[String]) = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == key)) => j
    }
    assert(joins.size == 1, s"expected one join keyed on $key:\n$plan")
    val (pair, doc) = joins.head.children
      .partition(c => pairKeys.subsetOf(c.output.map(_.name).toSet))
    assert(pair.size == 1 && doc.size == 1, s"the $key join attaches no doc side:\n$plan")
    (pair.head, doc.head)
  }

  test("minhash verify joins attach text; sets are never built below a join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val frames = Seq(
      "portable" -> graft.dedup.Dedup.minHashLshPairsPortable(docs),
      "fast" -> graft.dedup.Dedup.minHashLshPairs(docs))
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      // a shingle-set expression anywhere below a doc side means the set
      // materializes for EVERY corpus row on that side (and rides the
      // verify exchange/broadcast); sets must be built after the
      // candidate attach, where only LSH-candidate rows pay
      for (key <- Seq("id_a", "id_b")) {
        val (pairs, doc) = attachJoin(plan, key, Set("id_a", "id_b"))
        assert(buildsSets(pairs), s"$name: banding builds no sets below the $key join")
        assert(!buildsSets(doc), s"$name: the $key verify side materializes " +
          s"shingle sets corpus-wide:\n$plan")
      }
    }
  }

  test("incremental near-dup verify attaches corpus TEXT; only the increment side carries sets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newBatch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val frames = Seq(
      "portable" -> graft.dedup.Dedup.incrementalNearDupPairs(newBatch, corpus),
      "fast" -> graft.dedup.Dedup.incrementalNearDupPairsFast(newBatch, corpus))
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      // the increment side legitimately joins its precomputed sets (the
      // batch is small by contract; its sets already exist for banding);
      // the CORPUS verify side must attach text — set building anywhere
      // below it would be a corpus-wide set pass on top of the (required)
      // band-table pass
      val (_, increment) = attachJoin(plan, "id_n", Set("id_n", "id_c"))
      assert(buildsSets(increment), s"$name: the increment side carries no sets")
      val (_, corpusSide) = attachJoin(plan, "id_c", Set("id_n", "id_c"))
      assert(!buildsSets(corpusSide), s"$name: the corpus verify side builds " +
        s"shingle sets; it must attach text:\n$plan")
    }
  }

  test("KMV sketch aggregates partial+final (bounded state crosses the shuffle)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.sketch.Kmv.distinctByGroup(docs, "lang", "text", k = 16)
    val nodes = executedNodes(out)
    val aggs = nodes.filter(_.nodeName.contains("Aggregate"))
    assert(aggs.count(_.toString.contains("kmin_strings")) >= 2,
      s"expected partial+final kmin_strings aggregate:\n${out.queryExecution.executedPlan}")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.length == 1, "one exchange: the partial→final agg boundary")
  }

  test("exact dedup elects keepers via partial+final aggregate, not a window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.dedup.Dedup.exact(docs)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "a window over the fingerprint concentrates every copy of a hot document in one task")
    assert(nodes.count(_.nodeName.contains("HashAggregate")) >= 2,
      s"expected partial+final HashAggregate:\n${out.queryExecution.executedPlan}")
  }

  test("substring dedup counts distinct docs per span via partial+final agg, no collect") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.dedup.Dedup.substringDupSpans(docs, k = 8)
    val nodes = executedNodes(out)
    // the (fp, id) dedupe and the per-fp count must BOTH be hash
    // aggregates with a partial stage (a boilerplate span duplicated
    // across 10^8 docs collapses map-side); no gather of occurrences
    assert(nodes.count(_.nodeName.contains("HashAggregate")) >= 4,
      s"expected two partial+final aggregate pairs:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.toString.contains("collect_list")),
      "no occurrence list may ever be gathered")
  }

  test("decontaminate broadcasts the eval fingerprints; corpus side never shuffles pre-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.dedup.Dedup.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(37)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(37)) === 0))
    val nodes = executedNodes(out)
    assert(nodes.collect { case b: BroadcastExchangeLike => b }.nonEmpty,
      s"eval fingerprint table must broadcast:\n${out.queryExecution.executedPlan}")
    // corpus-side shuffles: the (doc, fp) distinct and the final per-doc
    // count — but NO shuffle join of corpus against eval
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "corpus⋈eval must be a broadcast hash join, never a shuffle join")
  }

  test("sessionize runs on ONE shuffle: windows + session agg share the user partitioning") {
    import org.apache.spark.sql.functions.timestamp_seconds
    import spark.implicits._
    val events = (1L to 500L).map(i => (i, i % 17, i * 90, 1.0))
      .toDF("event_id", "user_id", "ts_s", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
    val out = graft.logops.LogOps.sessionize(events, gapSeconds = 300)
    val shuffles = executedNodes(out).collect { case s: ShuffleExchangeLike => s }
    // hash(user_id) satisfies the (user_id, session_idx) aggregate's
    // clustered distribution — a second exchange is a plan regression
    assert(shuffles.length == 1,
      s"expected exactly 1 shuffle:\n${out.queryExecution.executedPlan}")
    // column pruning reaches the scan: the real events table carries
    // payload columns (props, event_type) that sessionize never touches —
    // a scan reading them at 100 TB is wrong even if values are right
    val real = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val scanStr = executedNodes(graft.logops.LogOps.sessionize(real, 1800))
      .filter(_.nodeName.toLowerCase.contains("scan")).map(_.toString).mkString("\n")
    assert(scanStr.contains("ReadSchema") && !scanStr.contains("props") &&
      !scanStr.contains("event_type"),
      s"payload columns must be pruned from the sessionize scan:\n$scanStr")
  }

  test("exactQuantiles windows only the histogram: raw rows feed a partial+final agg first") {
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val df = (1L to 2000L).map(i => (s"k${i % 3}", i % 40)).toDF("key", "v")
    val out = graft.logops.LogOps.exactQuantiles(df, "key", "v",
      Seq(("p50", 1, 2), ("p99", 99, 100)))
    val nodes = executedNodes(out)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // the histogram collapse must happen BELOW the windows: a partial+final
    // (key, v) count aggregate exists, and both window partition specs are
    // the bare key (they run over the aggregated histogram partitioning)
    assert(nodes.count(n => n.nodeName.contains("HashAggregate") &&
      n.toString.contains("count(1)")) >= 1 &&
      nodes.exists(_.toString.contains("partial_count")),
      s"raw rows must collapse via partial+final count first:\n${out.queryExecution.executedPlan}")
    assert(windows.forall(_.partitionSpec.length == 1))
    // exactly 2 shuffles, both of histogram-sized data: (key,v) for the
    // count, (key) for the cumulative window + final pick
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.length == 2,
      s"expected 2 histogram-sized shuffles:\n${out.queryExecution.executedPlan}")
  }

  test("asofJoin is ONE shuffle on the key: no join node, no per-row range scan") {
    import spark.implicits._
    val left = (1L to 500L).map(i => (i, i % 13, i * 10)).toDF("event_id", "key", "ts")
    val right = (1L to 40L).map(i => (i % 13, i * 100, i)).toDF("key", "vts", "attr")
    val out = graft.logops.LogOps.asofJoin(left, right, "key", "ts", "vts", Seq("attr"))
    val nodes = executedNodes(out)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.length == 1,
      s"union + carry window must shuffle once:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.nodeName.contains("Join")),
      "as-of must be the union/window shape, not a join")
  }

  test("heavyTerms aggregates partial+final bounded summaries: window sees <= m rows per group") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.textops.CorpusStats.heavyTerms(docs, "lang", m = 64, k = 10)
    val nodes = executedNodes(out)
    val aggs = nodes.filter(_.nodeName.contains("Aggregate"))
    assert(aggs.count(_.toString.contains("heavy_hitters")) >= 2,
      s"expected partial+final heavy_hitters aggregate:\n${out.queryExecution.executedPlan}")
    // the ranking window consumes the exploded SUMMARY (child contains the
    // final aggregate), never the raw token stream
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty &&
      nodes.exists(n => n.nodeName.contains("Generate")),
      "summary map must explode above the aggregate")
    assert(!nodes.exists(_.toString.contains("collect_list")))
  }

  test("saltedJoin ≡ plain join values; hot key spreads over salt partitions") {
    import spark.implicits._
    // 90% of probe rows share ONE hot key
    val large = (1L to 2000L).map(i => (i, if (i % 10 == 0) i % 7 else 999L))
      .toDF("event_id", "key")
    val small = (0L to 999L).map(k => (k, s"a$k")).toDF("key", "attr")
    val out = graft.operators.SkewJoin.saltedJoin(large, small, "key", salts = 8,
      saltOn = Seq("event_id"))
    val want = large.join(small, "key")
    assert(out.exceptAll(want).isEmpty && want.exceptAll(out).isEmpty,
      "salting must not change the join output")
    // the probe-side exchange hashes on (key, __salt): the hot key is
    // spread, not concentrated in one task (broadcast disabled — when the
    // build side fits in memory, broadcast beats salting and AQE picks it;
    // salting matters exactly when it does not fit)
    val shuffleStrs =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        executedNodes(
          graft.operators.SkewJoin.saltedJoin(large, small, "key", salts = 8,
            saltOn = Seq("event_id")))
          .collect { case s: ShuffleExchangeLike => s.toString }
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(shuffleStrs.exists(s => s.contains("__salt")),
      s"join must distribute on the salted key:\n${shuffleStrs.mkString("\n")}")
    // reserved salt column, empty/unknown saltOn: rejected, never clobbered
    assertThrows[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(
        large.withColumnRenamed("event_id", "__salt"), small, "key", 4,
        saltOn = Seq("__salt"))
    }
    assertThrows[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(large, small, "key", 4, saltOn = Nil)
    }
    assertThrows[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(large, small, "key", 4, saltOn = Seq("nope"))
    }
  }

  test("quotaSample elects winners via the bounded kmin aggregate: no window, no collect") {
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val docs = (1L to 1000L).map(i => (i, s"g${i % 5}")).toDF("doc_id", "grp")
    val out = graft.textops.Sampling.quotaSample(docs, "grp", "doc_id", k = 4)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "quota sampling must not rank the corpus with a window")
    val aggs = nodes.filter(_.nodeName.contains("Aggregate"))
    assert(aggs.count(_.toString.contains("kmin_strings")) >= 2,
      s"expected partial+final kmin_strings aggregate:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.toString.contains("collect_list")),
      "no unbounded gather in the sampling plan")
  }

  test("packSequences: one shard shuffle; payload columns pruned from the scan") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"w$i x y")).toDF("doc_id", "text")
    val out = graft.textops.Packing.packSequences(docs, budget = 64L, shards = 8)
    val shuffles = executedNodes(out).collect { case s: ShuffleExchangeLike => s }
    // the exclusive prefix-sum window runs entirely on the shard
    // partitioning — a second exchange is a plan regression
    assert(shuffles.length == 1,
      s"expected exactly 1 shuffle:\n${out.queryExecution.executedPlan}")
    // packing touches only (doc_id, text); lang/source/n_chars must be
    // pruned from a real documents scan — reading them at 100 TB is wrong
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scanStr = executedNodes(
      graft.textops.Packing.packSequences(real, budget = 512L, shards = 8))
      .filter(_.nodeName.toLowerCase.contains("scan")).map(_.toString).mkString("\n")
    assert(scanStr.contains("ReadSchema") && !scanStr.contains("lang") &&
      !scanStr.contains("source") && !scanStr.contains("n_chars"),
      s"payload columns must be pruned from the packing scan:\n$scanStr")
  }

  test("transitions: raw rows collapse at a partial+final edge count; share window sees edges only") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.timestamp_seconds
    import spark.implicits._
    val events = (1L to 2000L).map(i => (i, i % 13, i * 7, s"t${i % 4}"))
      .toDF("event_id", "user_id", "ts_s", "event_type")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
    val out = graft.logops.LogOps.transitions(events)
    val nodes = executedNodes(out)
    // user exchange (lead window) → (from,to) partial+final count →
    // from_type exchange (share window): three shuffles, each one strictly
    // smaller than the last — and the count must combine map-side
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.length == 3,
      s"expected 3 shrinking shuffles:\n${out.queryExecution.executedPlan}")
    assert(nodes.exists(_.toString.contains("partial_count")),
      s"edge count must combine map-side:\n${out.queryExecution.executedPlan}")
    // the ppm-share window partitions on the bare from_type (it runs over
    // the aggregated edge list); the lead window on (user). No window may
    // partition on more than one column — that would signal a plan where
    // the share rides raw-event partitioning
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.size == 2 && windows.forall(_.partitionSpec.length == 1),
      s"expected lead + share windows on single-column partitionings:\n${out.queryExecution.executedPlan}")
  }

  test("sampledQuantiles joins the sample back by BROADCAST, never sort-merge") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i, s"k${i % 3}", i % 100))
      .toDF("id", "k", "v")
    val out = graft.logops.LogOps.sampledQuantiles(df, "k", "v", "id", k = 50,
      Seq(("p50", 1, 2)))
    val nodes = executedNodes(out)
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"sample join-back must broadcast the k·groups sample:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "a sort-merge join here would shuffle the full corpus on the sample key")
  }

  test("latestState is ONE partial+final aggregate: no window, no per-key sort of history") {
    import spark.implicits._
    val ev = (1L to 4000L).map(i => (i, i % 7, i * 3L, s"t${i % 5}", i * 0.5))
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
    val out = graft.logops.LogOps.latestState(ev, payloadCols = Seq("event_type", "value"))
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.nodeName.contains("Window")),
      s"latest-wins must be an argmax aggregate, not a ranking window:\n${out.queryExecution.executedPlan}")
    assert(nodes.count(_.nodeName.contains("Exchange")) <= 1,
      "latestState should exchange once (the final aggregate)")
  }

  test("percentileRanks joins the histogram ranks back by BROADCAST; corpus is never globally sorted") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, i % 97)).toDF("id", "v")
    val out = graft.textops.CorpusStats.percentileRanks(df, "v")
    val nodes = executedNodes(out)
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"rank join-back must broadcast the value-domain histogram:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "a sort-merge join-back would shuffle the full corpus on the value")
  }

  test("vocabCoverage: TakeOrdered vocab broadcast to the token stream, no sort-merge") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"w${i % 37} w${i % 11} w${i % 5}")).toDF("doc_id", "text")
    val out = graft.textops.CorpusStats.vocabCoverage(docs, vocabK = 10)
    val nodes = executedNodes(out)
    assert(nodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      s"vocab election must be a bounded heap, not a global sort:\n${out.queryExecution.executedPlan}")
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")) &&
      !nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "the k-row vocabulary must broadcast to the exploded token stream")
  }

  test("intervalJoin plans an EQUI-join on (key, bucket): no nested-loop, no cartesian") {
    import spark.implicits._
    val ev = (1L to 5000L).map(i => (i, s"k${i % 4}", i * 1000L)).toDF("event_id", "event_type", "ts_us")
    val wins = (1L to 200L).map(i => (s"k${i % 4}", i, i * 20000L, i * 20000L + 50000L))
      .toDF("event_type", "win_id", "start_us", "end_us")
    val out = graft.logops.LogOps.intervalJoin(ev, wins, bucketUs = 50000L)
    val nodes = executedNodes(out)
    assert(!nodes.exists(n => n.nodeName.contains("BroadcastNestedLoopJoin") ||
        n.nodeName.contains("CartesianProduct")),
      s"range residual must ride an equi-join, not a theta-join:\n${out.queryExecution.executedPlan}")
    assert(nodes.exists(n => n.nodeName.contains("HashJoin") || n.nodeName.contains("SortMergeJoin")),
      "expected a hash/sort-merge equi-join on (key, bucket)")
  }

  test("fitEncode: TakeOrdered vocab election, broadcast re-encode, no corpus sort-merge") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"w${i % 37} w${i % 11} w${i % 5}")).toDF("doc_id", "text")
    val out = graft.textops.Vocab.fitEncode(docs, vocabK = 10)
    val nodes = executedNodes(out)
    assert(nodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      s"vocab election must be a bounded heap, not a global sort:\n${out.queryExecution.executedPlan}")
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")) &&
      !nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "the <=K-row vocabulary must broadcast to the exploded token stream")
  }

  test("chunk is shuffle-free narrow arithmetic") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = graft.textops.Vocab.chunk(docs, chunkSize = 2)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      s"chunk layout must not exchange:\n${out.queryExecution.executedPlan}")
  }

  test("quantizedTopK: one aggregate exchange, no window, no corpus sort") {
    import spark.implicits._
    val emb = (1L to 400L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat))).toDF("vec_id", "embedding")
    val out = graft.ann.Ann.quantizedTopK(emb, emb.filter(col("vec_id") < 2), k = 5)
    val nodes = executedNodes(out)
    assert(!nodes.exists(_.nodeName.contains("Window")),
      s"quantized top-k must use the bounded-heap aggregate, not a ranking window:\n${out.queryExecution.executedPlan}")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "query side must broadcast; the corpus must never shuffle on a join key")
    val shuffles = nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    assert(shuffles.length <= 1,
      s"expected at most the final-aggregate exchange, got ${shuffles.length}")
  }

  test("fingerprint joins are plain equi-joins on a non-null long (no null-safe wrapper)") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, if (i % 7 == 0) null else s"text ${i % 40}"))
      .toDF("doc_id", "text")
    for (out <- Seq(
        graft.dedup.Dedup.exact(docs),
        graft.dedup.Dedup.incrementalExact(
          docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0)))) {
      val planStr = out.queryExecution.executedPlan.toString
      // a null-safe key would appear as a coalesce/isnull-wrapped join key
      // or a residual <=> condition and forfeit the primitive-long fast path
      assert(!planStr.contains("<=>"),
        s"fingerprint join regressed to null-safe equality:\n$planStr")
      assert(out.count() == (if (out.columns.contains("is_dup")) 200 else 100))
    }
  }

  test("containment pairs: capped gather only, no unbounded collect_list, no window") {
    import spark.implicits._
    val docs = (1L to 300L).map(i =>
      (i, (0 to 12).map(j => s"w${(i % 7) * 13 + j}").mkString(" "))).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.containmentPairs(docs, k = 8, minShared = 1)
    val nodes = executedNodes(out)
    val planStr = nodes.map(_.toString).mkString("\n")
    assert(planStr.contains("capped_collect_list"),
      s"bucket gather must be the bounded CappedCollectList:\n$planStr")
    assert(!"(?<!capped_)collect_list\\(".r.findFirstIn(planStr).isDefined,
      "no unbounded collect_list may appear in the containment plan")
    assert(!nodes.exists(_.nodeName.contains("Window")))
  }

  test("distributionDrift: corpus collapses to the histogram before any window; CDF frames broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val docs = (1L to 5000L).map(i => (i, s"src${i % 5}", (i % 900))).toDF("doc_id", "source", "n_chars")
    val out = graft.textops.CorpusStats.distributionDrift(docs, "source", "n_chars", 64L)
    val nodes = executedNodes(out)
    // the windows must consume aggregated rows: every Window node's child
    // subtree must contain an aggregate, never the raw scan directly
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    def subtreeHasAggBeforeScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.nodeName.contains("HashAggregate") ||
        (p.children.nonEmpty && p.children.forall(subtreeHasAggBeforeScan)) ||
        p.nodeName.contains("QueryStage") && subtreeHasAggBeforeScan(
          p.asInstanceOf[org.apache.spark.sql.execution.adaptive.QueryStageExec].plan)
    assert(windows.forall(w => w.children.forall(subtreeHasAggBeforeScan)),
      s"a Window consumes raw rows (no aggregate below it):\n${out.queryExecution.executedPlan}")
    assert(nodes.exists(_.toString.contains("partial_count")),
      "raw rows must collapse via a partial+final histogram count first")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      s"grid joins must broadcast the bounded frames:\n${out.queryExecution.executedPlan}")
  }

  test("priority dedup and quantized centroids aggregate partial+final, windowless") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (s"d$i", s"text ${i % 50}", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val pd = graft.dedup.Dedup.exactByPreference(docs,
      when(col("source") === "src1", 0L).otherwise(1L))
    val pdNodes = executedNodes(pd)
    // struct-typed min is not hash-aggregable → Spark plans SortAggregate;
    // the partial (map-side) + final structure is what matters here
    assert(pdNodes.count(_.nodeName.contains("Aggregate")) >= 2,
      s"keeper election must have a map-side partial step:\n${pd.queryExecution.executedPlan}")
    assert(pdNodes.map(_.toString).mkString.contains("partial_min"),
      "keeper election must combine map-side before the shuffle")
    assert(!pdNodes.exists(_.nodeName.contains("Window")),
      "keeper election must not rank with a window")

    val emb = (1L to 400L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 4.0 + j).toFloat), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val qc = graft.ann.Ann.quantizedCentroids(emb)
    val qcNodes = executedNodes(qc)
    assert(qcNodes.count(_.nodeName.contains("HashAggregate")) >= 2,
      s"centroid sums must combine map-side:\n${qc.queryExecution.executedPlan}")
    assert(!qcNodes.exists(_.nodeName.contains("Window")))
  }
}
