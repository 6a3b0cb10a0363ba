package graft.streaming

import graft.Router
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming face of the rule-routing engine.
  *
  * The reference is itself a streaming re-router (Fluentd output plugin,
  * chunk-at-a-time, no event-time state — out_rewrite_tag_filter.rb:90-115),
  * so the streaming surface comes for free by construction: the compiled
  * routing plan is a STATELESS row transformation (one fused expression +
  * one filter), legal in any streaming plan. The north rule fixes the
  * flagship as batch (resume via per-partition checkpoints, Checkpoint.scala),
  * but a user of the reference switching to this library keeps a streaming
  * path:
  *
  *  - `Router.route` applies unchanged to a readStream frame → rows with
  *    (new_tag, new_label), append mode, no state, no watermark (time is
  *    pass-through in the reference too);
  *  - `Router.sinkCounts` over a routed stream is the running per-sink
  *    count (complete/update mode stateful aggregation);
  *  - `Dedup.incrementalExact` over a stream is its batch probe, a
  *    stream-static left join onto the corpus keeper table, which
  *    Structured Streaming executes STATELESSLY: unlike [[dedupExact]] it
  *    needs no watermark and recognizes stream-vs-corpus duplicates of ANY
  *    age — the corpus is the memory;
  *  - `writeFanOut` (here) — append-mode file sink partitioned by
  *    (label-namespace, tag): one directory per sink, exactly-once via the
  *    streaming checkpoint — the streaming analog of the batch fan-out.
  */
object StreamRouter {

  /** Streaming exact dedup: keep the first arrival of each content
    * fingerprint, with STATE BOUNDED BY THE WATERMARK — the streaming analog
    * of `Dedup.exact`. `dropDuplicatesWithinWatermark` keys state on the
    * 64-bit fingerprint only (never the text), expires a fingerprint once
    * the watermark passes it, and therefore holds O(delay × ingest-rate)
    * state instead of O(corpus) — the only shape that survives an unbounded
    * 100 TB/day stream. Duplicates separated by more than `delay` are the
    * batch job's responsibility (run `Dedup.exact` over the sealed table).
    * Null text fingerprints to null, which dropDuplicates treats as ONE key:
    * all null-text events in a window collapse to the first arrival — the
    * same null-grouping as batch `Dedup.exact` and SQL window partitioning.
    */
  def dedupExact(
      stream: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text"): DataFrame =
    stream
      .withColumn("__fp", graft.textops.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming duplicate-VECTOR dedup — the streaming analog of
    * [[graft.ann.Ann.embedExactDedup]]: each arriving embedding is
    * int8-quantized (scale-invariant, so re-scaled copies of the same
    * asset collide) and state keys on the 32-char md5 of the quantized
    * elements — NEVER the vector, so state size is independent of the
    * embedding dimension and bounded by delay × ingest-rate like
    * [[dedupExact]]. Duplicates separated by more than `delay` are the
    * batch job's responsibility.
    */
  def dedupEmbed(
      stream: DataFrame,
      tsCol: String,
      delay: String,
      vecCol: String = "embedding"): DataFrame =
    graft.ann.Ann.quantizeInt8(stream, vecCol, "__qv")
      .withColumn("__fp", graft.ann.Ann.quantFingerprint(col("__qv")))
      .drop("__qv")
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming INCREMENTAL NEAR-DUP vs a sealed corpus — the streaming
    * face of [[graft.dedup.CorpusArtifacts.incrementalNearDupPrepared]]:
    * each arriving document is MinHash-banded by the production xxhash64
    * family ([[graft.dedup.Dedup.XxHashFamily]]: the SAME sets and band
    * keys the persisted tables store), stream-static-joined against the
    * corpus band table (stateless — the static side plans per micro-batch;
    * at real scale it is the bucketed artifact, read exchange-free), and
    * verified by exact Jaccard against the corpus shingle-set table.
    * Corpus-internal pairs never materialize, same as batch.
    *
    * One streaming-specific step: a new doc colliding with the same corpus
    * doc in several bands yields duplicate (doc, corpus) candidates, which
    * batch removes with `distinct()` — a stateful aggregation streaming
    * append mode cannot run unbounded. Here the duplicates all carry the
    * row's own event time, so the watermarked
    * `dropDuplicatesWithinWatermark` removes them with state bounded by
    * `delay` × match-rate (they are always in the same micro-batch; the
    * watermark is the formality that bounds the state store).
    *
    * @param bandTable static (band_key, id_c) frame —
    *                  [[graft.dedup.CorpusArtifacts.nearDupCorpusTables]]
    *                  or the persisted bucketed artifact.
    * @param setsTable static (id_c, sh) frame, same provenance.
    * @param spec      the SAME spec the tables were built with.
    * @return (idCol, corpus_id, jaccard_ppm, tsCol) — one row per verified
    *         (new doc, corpus doc) pair, jaccard_ppm ≥ threshold;
    *         differentially tested vs the batch operator on closed batches.
    */
  def incrementalNearDup(
      stream: DataFrame,
      bandTable: org.apache.spark.sql.DataFrame,
      setsTable: org.apache.spark.sql.DataFrame,
      spec: graft.dedup.CorpusArtifacts.NearDupSpec,
      tsCol: String,
      delay: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdPpm: Long = 700000L): DataFrame = {
    // event time and set ride through the banding: no join back to verify
    val family = graft.dedup.Dedup.XxHashFamily
    val banded = family.bandKeys(
      stream.select(col(idCol).as("__id_n"), col(tsCol).as("__ts"),
        family.shingleSet(col(textCol), spec.shingleSize).as("sh")),
      spec, "__id_n", "__ts", "sh")
    banded
      .join(bandTable, "band_key") // stream-static: stateless
      .join(setsTable.withColumnRenamed("sh", "sh_c"), "id_c")
      .withColumn("jaccard_ppm",
        graft.dedup.Dedup.jaccardPpm(col("sh"), col("sh_c")))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select(col("__id_n").as(idCol), col("id_c").as("corpus_id"),
        col("jaccard_ppm"), col("__ts").as(tsCol))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCol, "corpus_id")
  }

  /** Streaming benchmark decontamination: annotate every document with the
    * number of DISTINCT eval-set k-word spans it contains (and a
    * contamination flag) — the streaming analog of
    * [[graft.dedup.Dedup.decontaminate]]. STATELESS by design: an eval set
    * is small and static by nature, so its span fingerprints fold into the
    * plan as a literal set (the streaming counterpart of the batch
    * broadcast join) and each row's overlap is a per-row array
    * intersection — no join state, no watermark, legal in any streaming
    * plan. The eval frame is evaluated ONCE, at stream definition.
    */
  def decontaminate(
      stream: DataFrame,
      evalDocs: DataFrame,
      textCol: String = "text",
      k: Int = 8): DataFrame = {
    val evalFps = evalDocs
      .select(explode(graft.dedup.Dedup.spanFps(col(textCol), k)).as("fp"))
      .distinct().collect().map(_.getString(0)).toSeq
    stream
      .withColumn("n_overlap",
        size(array_intersect(
          array_distinct(graft.dedup.Dedup.spanFps(col(textCol), k)),
          typedLit(evalFps))).cast("long"))
      .withColumn("is_contaminated", col("n_overlap") > 0)
  }

  /** Watermarked per-minute, per-entity event counts — the streaming
    * datacounter (the reference ecosystem's per-minute tag aggregation,
    * and stage 1 of the batch rate-spike query) with append-mode
    * semantics: a (minute, entity) row is emitted ONCE, when the
    * watermark passes the window end, and never revised. State is one
    * count per open window per entity — bounded by delay × entity
    * cardinality, not by stream length. Late events beyond `delay` are
    * dropped (they would revise an already-emitted row).
    *
    * Output matches the batch `q_event_minute_counts` shape: minute
    * (formatted), entity, n_events, value_c (cents summed after per-row
    * rounding) — differentially tested against the batch aggregate on
    * closed windows.
    */
  def minuteCounts(
      stream: DataFrame,
      delay: String,
      entityCol: String = "event_type",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    require(!stream.columns.contains("__ts"),
      "__ts column name is reserved by minuteCounts")
    stream
      .withColumn("__ts", col(tsCol).cast("timestamp"))
      .withWatermark("__ts", delay)
      .groupBy(window(col("__ts"), "1 minute"), col(entityCol))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100).cast("long")).as("value_c"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("minute"),
        col(entityCol), col("n_events"), col("value_c"))
  }

  /** One in-flight event for the streaming sessionizer. `ts` carries the
    * WATERMARKED attribute into the stateful operator (Spark requires the
    * event-time column to survive to the flatMapGroupsWithState input);
    * the gap logic itself uses the exact integer `ts_us`.
    */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, v_c: Long)

  /** Per-user open-session state (exists ONLY while a session is open). */
  case class SessState(startUs: Long, lastUs: Long, nEvents: Long, valueC: Long)

  /** A closed session — same aggregates as the batch
    * [[graft.logops.LogOps.sessionize]] output, identified by
    * (user_id, start_us) instead of the batch per-user ordinal (a streaming
    * job cannot carry an all-time counter without unbounded per-user state;
    * keying sessions by their start is the standard structured-streaming
    * sessionization contract).
    */
  case class Session(
      user_id: Long, start_us: Long, end_us: Long, dur_us: Long,
      n_events: Long, value_c: Long)

  /** Streaming gap-based sessionization — the event-time-stateful analog of
    * [[graft.logops.LogOps.sessionize]], via `flatMapGroupsWithState` with
    * an EVENT-TIME timeout:
    *
    *  - events fold into at most ONE open-session state per user (constant
    *    size: start, last, count, cents-sum — never the events themselves);
    *  - a new event with gap > `gapSeconds` closes the current session
    *    inline and opens the next;
    *  - the watermark passing (last event + gap) fires the timeout, closing
    *    idle sessions and REMOVING the state — live state is bounded by
    *    users active within the gap window, not by all users ever seen;
    *  - events later than the watermark `delay` are dropped by the
    *    watermark (their sessions would already have closed); within the
    *    allowed lateness, each micro-batch is processed in event-time order.
    *
    * Emitted aggregates match the batch operator exactly for every closed
    * session (asserted differentially in StreamRouterSpec).
    */
  def sessionize(
      stream: DataFrame,
      gapSeconds: Long,
      delay: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): org.apache.spark.sql.Dataset[Session] = {
    require(gapSeconds > 0, s"session gap must be positive, got $gapSeconds")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val ss = stream.sparkSession
    import ss.implicits._
    val gapUs = gapSeconds * 1000000L
    val typed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(tsCol).cast("timestamp").as("ts"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        round(col(valueCol) * 100).cast("long").as("v_c"))
      .withWatermark("ts", delay)
      .as[SessEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[SessEvent],
         state: org.apache.spark.sql.streaming.GroupState[SessState]) =>
          def close(s: SessState): Session =
            Session(user, s.startUs, s.lastUs, s.lastUs - s.startUs, s.nEvents, s.valueC)
          if (state.hasTimedOut) {
            val out = Iterator.single(close(state.get))
            state.remove()
            out
          } else {
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            events.toSeq.sortBy(e => (e.ts_us, e.v_c)).foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.lastUs > gapUs =>
                  closed += close(s)
                  cur = Some(SessState(e.ts_us, e.ts_us, 1L, e.v_c))
                case Some(s) =>
                  // min on start too: an out-of-order event inside the
                  // watermark may precede the session's current start, and
                  // the batch operator's aggregates (and the session's
                  // (user, start_us) identity) must not depend on arrival
                  // order
                  cur = Some(SessState(math.min(s.startUs, e.ts_us),
                    math.max(s.lastUs, e.ts_us),
                    s.nEvents + 1, s.valueC + e.v_c))
                case None =>
                  cur = Some(SessState(e.ts_us, e.ts_us, 1L, e.v_c))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes last-event + gap (ms)
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapSeconds * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** One entity's current state for the streaming latest-wins face. */
  case class LatestEvent(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String, value_c: Long)

  /** Streaming latest-record-wins compaction — the streaming face of
    * [[graft.logops.LogOps.latestState]]: per entity, one state cell
    * holding the max-(ts_us, event_id) row seen so far; each micro-batch
    * emits the NEW current state of every entity it touched (update-mode
    * materialized view of "where is every entity now").
    *
    * State is one fixed-size row per DISTINCT ENTITY — the inherent size
    * of the answer itself, not of the history (a billion updates to one
    * device still hold one cell). That is why this face uses NoTimeout:
    * evicting an entity would forget its current state, which unlike
    * sessions/windows never expires. An out-of-order or duplicate arrival
    * with a smaller (ts_us, event_id) loses to the stored cell and emits
    * nothing — arrival order never changes the converged answer (asserted
    * differentially vs the batch operator in StreamRouterSpec).
    *
    * FIXED-SCHEMA CONTRACT (narrower than the batch operator): the column
    * parameters only RENAME inputs into the [[LatestEvent]] state schema —
    * ids/timestamps cast to long, and the payload is a single numeric
    * `value` quantized to centi-units (`value_c = round(value*100)`, the
    * integer form the flatMapGroupsWithState state encoder stores). The
    * batch [[graft.logops.LogOps.latestState]] carries arbitrary payload
    * columns at native precision; swapping batch → streaming therefore
    * changes payload shape unless the caller's payload already fits this
    * contract. (Generic payload carry would need a per-call state encoder —
    * a Dataset[Row] state cell — which Structured Streaming does not
    * support; callers with wider payloads should pack them into the
    * event_type string or run the batch face over closed data.)
    */
  def latestState(
      stream: DataFrame,
      userCol: String = "user_id",
      tsUsCol: String = "ts_us",
      idCol: String = "event_id",
      typeCol: String = "event_type",
      valueCol: String = "value"): org.apache.spark.sql.Dataset[LatestEvent] = {
    val ss = stream.sparkSession
    import ss.implicits._
    val typed = stream.select(
      col(userCol).cast("long").as("user_id"),
      col(tsUsCol).cast("long").as("ts_us"),
      col(idCol).cast("long").as("event_id"),
      col(typeCol).cast("string").as("event_type"),
      round(col(valueCol) * 100).cast("long").as("value_c")).as[LatestEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestEvent, LatestEvent](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, events: Iterator[LatestEvent],
         state: org.apache.spark.sql.streaming.GroupState[LatestEvent]) =>
          val prev = state.getOption
          val best = (prev.iterator ++ events).maxBy(e => (e.ts_us, e.event_id))
          if (prev.contains(best)) Iterator.empty // losing arrivals emit nothing
          else { state.update(best); Iterator.single(best) }
      }
  }

  /** Streaming interval join — the stream-stream face of
    * [[graft.logops.LogOps.intervalJoin]]: events join the incident
    * windows covering them, with BOTH sides' state bounded by the
    * watermark. The join condition gives Spark the two-sided event-time
    * bound it needs to expire state (`e.ts ∈ [w.start_ts, w.start_ts +
    * maxSpanSeconds]`); the exact exclusive end rides as a residual on
    * `end_us`. Windows longer than `maxSpanSeconds` are rejected up front
    * (a filter — their tail matches would silently vanish otherwise).
    *
    * `events` needs (`keyCol`, `ts` timestamp, payload...); `windows`
    * needs (`keyCol`, `win_id`, `start_ts` timestamp, `end_us` long
    * micros, exclusive). Returns event payload + `win_id` per covering
    * window, exactly the batch operator's pairs for in-watermark data
    * (asserted differentially in StreamRouterSpec).
    */
  def intervalJoin(
      events: DataFrame,
      windows: DataFrame,
      maxSpanSeconds: Long,
      delay: String,
      keyCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(maxSpanSeconds > 0, s"maxSpanSeconds must be positive, got $maxSpanSeconds")
    val e = events.withWatermark(tsCol, delay).alias("e")
    val w = windows
      .where(col("end_us") - unix_micros(col("start_ts")) <= maxSpanSeconds * 1000000L)
      .withWatermark("start_ts", delay).alias("w")
    e.join(w,
      col(s"e.$keyCol") === col(s"w.$keyCol") &&
        col(s"e.$tsCol") >= col("w.start_ts") &&
        col(s"e.$tsCol") <= col("w.start_ts") + expr(s"interval $maxSpanSeconds seconds") &&
        unix_micros(col(s"e.$tsCol")) < col("w.end_us"))
      .select(col("e.*"), col("w.win_id"))
  }

  /** Fan-out file sink: append mode, one directory per (label_ns, tag),
    * exactly-once through the streaming commit log at `checkpointDir`.
    */
  def writeFanOut(
      routed: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    routed
      .withColumn(Router.LabelNsCol, Router.labelNs)
      .drop(Router.NewLabel)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(Router.SinkPartitionCols: _*)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
}
