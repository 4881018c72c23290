package graft.streaming

import graft.SyncApp
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming face of the engine (SURVEY.md §2.7): the
  * reference's nightly trigger + 10-day lookback is a micro-batch
  * incremental sync in disguise, so the streaming variant is `readStream` →
  * `foreachBatch(sync)`, with the lookback window re-derived per batch from
  * the batch's own event dates.
  *
  * State lives in the [[graft.sources.StateStore]] parquet table (read → merge →
  * overwrite per micro-batch), which is exactly the reference's
  * read-the-sheets-each-run model; watermarked windowed aggregation covers
  * the `totales`-style continuous views.
  */
object StreamingSync {

  /** Windowed aggregation over an event stream with late-data tolerance:
    * the continuous version of the per-day SUMIFS view. */
  def windowedTotals(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours", tsCol: String = "ts",
      valueCol: String = "value", keyCol: String = "event_type"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(DecimalType(18, 2))).as("total"))

  /** D1/D2 as CUSTOM streaming state: first-wins key dedup across
    * micro-batches. Within a batch the lowest `ord` wins (the reference's
    * scan order, `Code.gs:752-765`); across batches the first batch to
    * see a key wins, so a re-delivered or duplicated row in any later
    * batch is dropped. This is the `KeyValueGroupedDataset.
    * flatMapGroupsWithState` path — per-key state (the winning ord) that
    * no built-in streaming operator expresses; state is one long per key,
    * sharded by the groupBy hash, no driver-side anything. */
  def dedupFirstWinsStream(source: DataFrame, keyCol: String = "folio",
      ordCol: String = "ord"): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = ExpressionEncoder(source.schema)
    val ki = source.schema.fieldIndex(keyCol)
    val oi = source.schema.fieldIndex(ordCol)
    source.groupByKey(_.getString(ki))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], st: GroupState[Long]) =>
          if (st.exists) Iterator.empty // key won in an earlier batch
          else {
            val winner = rows.minBy(_.getLong(oi))
            st.update(winner.getLong(oi))
            Iterator.single(winner)
          })
      .toDF(source.columns: _*)
  }

  final case class CepEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, event_type: String)
  final case class CepStep(ts: java.sql.Timestamp, id: Long,
    anchor_ts: java.sql.Timestamp, anchor_id: Long)
  final case class CepState(slots: Map[Int, CepStep])
  final case class CepMatch(user_id: Long, start_id: Long,
    start_ts: java.sql.Timestamp, end_id: Long,
    end_ts: java.sql.Timestamp, dur_us: Long)

  /** STREAMING sequence-pattern detection — the continuous form of
    * [[graft.operators.Temporal.cepPattern]] (same latest-predecessor
    * "skip-till-next-match" chaining, same `within` bound): per-user
    * `flatMapGroupsWithState` holding ONE slot per non-final step (the
    * latest occurrence of that step with its chain anchor), so a match
    * EMITS the moment its final event arrives — the alert/trigger
    * deployment the batch operator can only backfill. Within a
    * micro-batch, rows process in (ts, event_id) order; chains
    * straddling micro-batch boundaries thread through the state store
    * (the property the replay spec pins). State at scale: steps−1
    * fixed-size tuples per user — O(1) per user, no watermark needed
    * for boundedness per key.
    *
    * KEY CHURN: with `evictIdle = true` the per-user slots also carry
    * an event-time timeout at `max(anchor_ts) + within` — once the
    * watermark passes it, the user's state is REMOVED. This is
    * provably match-preserving for in-watermark data: every slot's
    * usefulness ends at its anchor + `within` (a later final event
    * would close the chain with dur > `within` and fail the bound), so
    * nothing evictable can ever complete a match. Under an infinite
    * key stream, state is then ∝ users active inside one `within`
    * window instead of ∝ all users ever seen. The trade is the
    * watermark's own contract: events later than `watermarkDelay` are
    * dropped as late (size the delay to the stream's disorder; the
    * time-ordered replay harness is exact at 0 seconds). */
  def cepStream(events: DataFrame, steps: Seq[String],
      withinSeconds: Long, evictIdle: Boolean = false,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(steps.size >= 2, s"a pattern needs ≥ 2 steps: $steps")
    // the slot map keys by step TYPE: repeated types would silently
    // never match here while the batch form's window chain would —
    // both forms reject them identically instead
    require(steps.distinct.size == steps.size,
      s"pattern steps must be distinct: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val lastK = steps.size - 1
    val src = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val timeoutConf =
      if (evictIdle) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    (if (evictIdle) src.withWatermark("ts", watermarkDelay) else src)
      .as[CepEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[CepEvent],
            st: GroupState[CepState]) => {
          if (st.hasTimedOut) {
            // nothing pending can ever complete (anchor + within has
            // passed for every slot) — drop the user's state entirely
            st.remove()
            Iterator.empty
          } else {
          var slots = st.getOption.map(_.slots)
            .getOrElse(Map.empty[Int, CepStep])
          val out = scala.collection.mutable.ArrayBuffer.empty[CepMatch]
          val ordered = rows.toSeq.sortBy(e =>
            (e.ts.toInstant.getEpochSecond, e.ts.toInstant.getNano,
              e.event_id))
          ordered.foreach { e =>
            stepIdx.get(e.event_type) match {
              case Some(0) if lastK > 0 =>
                slots += 0 -> CepStep(e.ts, e.event_id, e.ts, e.event_id)
              case Some(k) if k == lastK =>
                slots.get(k - 1).foreach { prev =>
                  val dur = java.time.temporal.ChronoUnit.MICROS
                    .between(prev.anchor_ts.toInstant, e.ts.toInstant)
                  if (dur <= withinSeconds * 1000000L)
                    out += CepMatch(user, prev.anchor_id, prev.anchor_ts,
                      e.event_id, e.ts, dur)
                }
              case Some(k) =>
                slots.get(k - 1).foreach { prev =>
                  slots += k -> CepStep(e.ts, e.event_id,
                    prev.anchor_ts, prev.anchor_id)
                }
              case None => // not a pattern step: intervening event
            }
          }
          if (evictIdle && slots.isEmpty) {
            // a user whose batch carried only non-step events: storing
            // empty state with NO timeout would live forever under
            // EventTimeTimeout — keep nothing instead
            if (st.exists) st.remove()
          } else {
            st.update(CepState(slots))
            if (evictIdle) {
              // expiry = the NEWEST slot's anchor + within: every slot
              // is dead by then (its chain's bound has passed). +1 ms
              // absorbs the Timestamp.getTime sub-millisecond floor —
              // eviction a millisecond late is free, a microsecond
              // early could drop a boundary match. Clamped to
              // watermark+1: a borderline event (kept because the late
              // filter is strict) can carry an anchor whose expiry the
              // watermark already passed, and a timeout in the past
              // throws — evicting at the next trigger instead is
              // equally match-preserving.
              val expiryMs = slots.values.map(_.anchor_ts.getTime).max +
                withinSeconds * 1000L + 1L
              st.setTimeoutTimestamp(
                math.max(expiryMs, st.getCurrentWatermarkMs() + 1L))
            }
          }
          out.iterator
          }
        })
      .toDF()
  }

  /** [[cepStream]] replayed over time-ordered micro-batches (the
    * session-replay harness shape: ntile over the (ts, event_id) total
    * order → one parquet file per batch → maxFilesPerTrigger=1).
    * Matches emit immediately on the final step, so no sentinel batch
    * is needed. Output equals the batch operator's (the oracle is the
    * SAME SQL), with chains straddling batch boundaries carried by the
    * state store. */
  def cepStreamReplay(spark: SparkSession, events: DataFrame,
      steps: Seq[String], withinSeconds: Long, nBatches: Int = 4,
      workDir: String, evictIdle: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("ts"), col("event_id"))
    val staged = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("b", ntile(nBatches).over(ord))
    val in = stageBatchFiles(staged, nBatches, workDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val name = s"graft_cep_replay_${replaySeq.incrementAndGet()}"
    withReplayPartitions(spark, in) {
      val q = cepStream(stream, steps, withinSeconds,
          evictIdle = evictIdle)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          new java.io.File(workDir, "ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  /** Bounded-state streaming dedup: duplicate keys are dropped while
    * they are within the watermark, and the per-key state is EVICTED
    * once the watermark passes — the infinite-stream answer to
    * [[dedupFirstWinsStream]]'s grows-forever seen-set. Exact within
    * `delay`; a duplicate arriving after its key's state was evicted
    * re-emits, which is the standard at-least-once contract — every
    * sink downstream here tolerates it because the sync upsert is
    * idempotent (SyncEngineSpec's fixpoint property). Eviction runs on
    * the micro-batch AFTER the watermark passes a key's expiry (the
    * spec pins the timing). At 100 TB of events the difference is
    * state ∝ keys-per-delay-window instead of state ∝ all keys ever
    * seen. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", delay: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** STREAM-STREAM event-time interval join (the ad-tech
    * view→click attribution shape): each left ("view") event joins the
    * right ("click") events of the same key that happen in
    * `(view.ts, view.ts + horizon]`. Both sides carry watermarks and
    * the join condition bounds event time in BOTH directions, which is
    * what lets Structured Streaming evict buffered rows: each side's
    * state holds only rows younger than watermark + horizon, so state
    * is ∝ events-per-horizon-window, never the full stream. The same
    * method works unchanged in batch (watermarks are no-ops there),
    * which is how the spec pins stream/batch parity.
    *
    * `joinType = "left_outer"` answers the OTHER attribution question
    * — which views converted to nothing: an unconverted view is
    * emitted with NULL click columns once the watermark passes
    * `view_ts + horizon` (only then can streaming PROVE no click is
    * still coming); in batch the outer rows emit immediately. Same
    * bounded state either way. */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours",
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", joinType: String = "inner")
      : DataFrame = {
    val v = views.select(col(keyCol), col(idCol).as("view_id"),
      col(tsCol).as("view_ts")).withWatermark("view_ts", watermark)
    val c = clicks.select(col(keyCol).as("c_key"),
      col(idCol).as("click_id"), col(tsCol).as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c, col(keyCol) === col("c_key") &&
        col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col(keyCol), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `body` (a replay's stream start→drain→stop span) with the
    * session's shuffle-partition count DERIVED from the replay volume,
    * restoring the previous value afterwards. A stateful streaming
    * operator creates one state-store instance per shuffle partition
    * and every trigger pays an open/commit cycle per instance — at the
    * static width that fixed cost dominates a small replay (r14 §1
    * profile: ~0.4 s per trigger, ~90% state machinery), while the
    * volume-derived width keeps per-partition state at a sane size and
    * grows back to the static cap as the input grows (guide §2:
    * partitioning derived from input size, not a constant). Stateful
    * results are partition-count independent (hash-keyed state, global
    * watermark), which the shared oracles already require. */
  private def withReplayPartitions[T](spark: SparkSession,
      in: java.io.File)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val rows = spark.read.parquet(in.toString).count()
    val derived = math.max(1L, math.min(prev.toLong, rows / 25000L + 1L))
    spark.conf.set(key, derived.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Stage batches 1..`nBatches` of `staged` (selected by its `b`
    * column, dropped on write) as one parquet file each under
    * `workDir/in`, for a `maxFilesPerTrigger=1` file-source replay.
    * Clears `workDir` first. File-source order is pinned with explicit
    * increasing mtimes, not wall-clock write order (coarse-mtime
    * filesystems reorder). Returns the input dir.
    *
    * ONE write pass: `repartition(b)` + `partitionBy(b)` lands every
    * batch as exactly one file (each `b` value lives wholly in one
    * task) in a single job, where the earlier shape ran `nBatches`
    * filter→coalesce(1)→write jobs over a cached copy of the frame —
    * the staging was a measured fixed cost of every streaming replay
    * (r14 §1 profile), and the upstream global-window sort now runs
    * once uncached. Per-batch row order is unchanged: the ntile stage
    * is a single sorted partition, and a one-partition map's shuffle
    * output is read back in map order. */
  private[graft] def stageBatchFiles(staged: DataFrame, nBatches: Int,
      workDir: String): java.io.File = {
    val dir = new java.io.File(workDir)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
    val in = new java.io.File(dir, "in"); in.mkdirs()
    val stage = new java.io.File(dir, "stage").toString
    staged.repartition(col("b")).write.partitionBy("b").parquet(stage)
    (1 to nBatches).foreach { i =>
      val parts = Option(new java.io.File(stage, s"b=$i").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      if (parts.length != 1)
        throw new java.io.IOException(
          s"batch $i staged as ${parts.length} files (expected 1)")
      val tgt = new java.io.File(in, f"batch-$i%02d.parquet")
      if (!parts.head.renameTo(tgt))
        throw new java.io.IOException(s"could not stage $tgt")
      tgt.setLastModified(1700000000000L + i * 60000L)
    }
    in
  }

  /** Batch-parity harness for [[dedupWithinWatermark]]: split `events`
    * into `nBatches` time-ordered micro-batches (ntile over (ts, id) —
    * a total order both engines replay), stream them through the REAL
    * bounded-state dedup one file per trigger, and return the per-key
    * emission count. The count is the bounded-state contract made
    * hashable: a key re-emits once per watermark era it spans, and the
    * era arithmetic is closed-form — state keeps the EMITTING event's
    * time (a dropped duplicate does not extend it), and an entry is
    * evicted in the first batch whose eviction watermark — max event
    * time of all EARLIER batches minus `delay` — reaches
    * `state_ts + delay` (inclusive: eviction fires at exact equality).
    * All three clauses are pinned by StreamingSyncSpec experiments, so
    * an external engine can replay the exact emission counts with four
    * unrolled state steps (see the `x_stream_wm_dedup` oracle).
    *
    * Within-batch duplicate order would make the surviving PAYLOAD
    * row nondeterministic (first-processed wins), so the harness
    * pre-collapses each (key, batch) to its earliest event — the
    * stream then sees one row per key per batch and both the
    * emissions and the watermark progression are deterministic.
    *
    * Harness shape, deliberately: the global ntile and the memory
    * sink are test-scale devices for replaying a stream from batch
    * tables; production runs [[dedupWithinWatermark]] directly on the
    * live stream with a real sink — the operator under test is the
    * same code path either way. */
  def dedupWithinWatermarkReplay(spark: SparkSession, events: DataFrame,
      keyCols: Seq[String], tsCol: String = "ts",
      delay: String = "2 hours", nBatches: Int = 4,
      workDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col(tsCol), col("event_id"))
    val perKeyBatch = Window
      .partitionBy((keyCols.map(col) :+ col("b")): _*)
      .orderBy(col(tsCol), col("event_id"))
    val staged = events
      // Structured Streaming tracks watermarks and dedup-state expiry
      // in MILLISECONDS (event times are floored); feeding ms-clean
      // timestamps makes the era arithmetic exact in every engine
      // instead of flipping when te+2·delay lands within 1 ms of a
      // batch maximum
      .withColumn(tsCol, date_trunc("millisecond", col(tsCol)))
      .withColumn("b", ntile(nBatches).over(ord))
      .withColumn("rn", row_number().over(perKeyBatch))
      .filter(col("rn") === 1)
      .select((keyCols.map(col) :+ col(tsCol) :+ col("b")): _*)

    val in = stageBatchFiles(staged, nBatches, workDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val name = s"graft_wm_replay_${replaySeq.incrementAndGet()}"
    withReplayPartitions(spark, in) {
      val q = dedupWithinWatermark(stream, keyCols, tsCol, delay)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          new java.io.File(workDir, "ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // materialize the aggregate, then DROP the memory sink: each sink
    // pins its full emission row set in driver memory for the session's
    // lifetime, and a bench session replays this many times (warmup +
    // 3 timed attempts) — an unbounded leak without the drop
    val out = spark.table(name)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_emissions"))
      .localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  /** STREAMING session windows — the gap-merge state rung
    * ([[graft.operators.Temporal.sessionize]] is the batch shape):
    * replay `events` through the REAL `session_window` streaming
    * aggregation in `nBatches` time-ordered micro-batches, so sessions
    * that STRADDLE a batch boundary are merged by the state store, not
    * by seeing all rows at once — the property a batch run can't
    * demonstrate. Completes the windowed-state family: tumbling
    * ([[windowedTotals]]), bounded-state dedup
    * ([[dedupWithinWatermark]]), stream-stream interval join
    * ([[attributionJoin]]), and now data-driven session merge.
    *
    * Append mode only emits a session once the watermark passes its
    * end, and the final watermark advance needs a batch to run under —
    * so the replay appends ONE far-future sentinel row as its own last
    * micro-batch (a real pipeline's stream just keeps running; the
    * sentinel is the replay's "time passes" device). Sentinel sessions
    * are filtered from the result.
    *
    * State at scale: one (key, open-session) entry per active key,
    * evicted at watermark — bounded by concurrent activity, not
    * history. Output is deterministic: count/sum aggregates are
    * order-insensitive within a batch and the batch split is a total
    * order over (ts, event_id). */
  def sessionWindowReplay(spark: SparkSession, events: DataFrame,
      gap: String = "12 hours", delay: String = "1 hour",
      nBatches: Int = 4, workDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("ts"), col("event_id"))
    val real = events
      // ms-floored event times: the state store tracks watermarks in
      // milliseconds (same pin as the wm-dedup replay)
      .select(col("user_id"), date_trunc("millisecond", col("ts"))
        .as("ts"), col("value"), col("event_id"))
      .withColumn("b", ntile(nBatches).over(ord))
      .select(col("user_id"), col("ts"), col("value"), col("b"))
    val sentinel = events
      .agg(max(date_trunc("millisecond", col("ts"))).as("mx"))
      .select(lit(-1L).as("user_id"),
        (col("mx") + expr("INTERVAL 100 DAYS")).as("ts"),
        lit(0.0).as("value"), lit(nBatches + 1).as("b"))
    val staged = real.unionByName(sentinel)
    val in = stageBatchFiles(staged, nBatches + 1, workDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val name = s"graft_session_replay_${replaySeq.incrementAndGet()}"
    withReplayPartitions(spark, in) {
      val q = stream
        .withWatermark("ts", delay)
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total"))
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          new java.io.File(workDir, "ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val out = spark.table(name)
      .filter(col("user_id") =!= -1L)
      .localCheckpoint() // drop the memory sink (see the dedup replay)
    spark.catalog.dropTempView(name)
    out
  }

  /** Streaming corpus admission — incremental dedup as a sink: every
    * micro-batch of documents is (1) near-dup-checked against the
    * persisted [[graft.sources.FingerprintStore]] of everything
    * admitted so far, (2) deduped WITHIN the batch (LSH pairs →
    * connected components, keep each cluster's min id), (3) appended
    * to the admitted output, and (4) folded into the store so the next
    * batch sees it. The streaming form of the continuous-crawl
    * pipeline: per-trigger cost is batch-sized (broadcast bucket join
    * against the store + batch-local LSH), state is the store itself —
    * durable, versioned, shared with the batch path. */
  def dedupAdmissionSink(source: DataFrame, storePath: String,
      admittedPath: String, threshold: Double, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitBatch(batch, storePath, admittedPath, threshold, idCol,
          textCol)
      }
      .start()

  /** One admission micro-batch (the [[dedupAdmissionSink]] body; also
    * directly callable from a batch scheduler — same semantics). */
  def admitBatch(batch: DataFrame, storePath: String,
      admittedPath: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import graft.sources.FingerprintStore
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // scoped: the dedup/LSH operators cache per-batch intermediates;
    // on an unbounded stream those per-trigger caches must die with
    // the trigger, not pin executor memory for the stream's lifetime
    // (everything is consumed by the two writes before the scope ends)
    graft.operators.CacheRegistry.scoped {
      FingerprintStore.bootstrapIfMissing(spark, storePath, batch,
        idCol, textCol)
      val verdict = FingerprintStore.dedupBatchAgainst(spark, storePath,
        batch, threshold, idCol, textCol)
      val clean = batch.join(
        verdict.filter(col("survived")).select(col("batch_id").as(idCol)),
        Seq(idCol), "left_semi")
      // within-batch near-dups: keep each cluster's min id (batch-local
      // work — the store join above cannot see two dups arriving in the
      // SAME trigger)
      val keepers = graft.operators.Dedup
        .clusterAssignments(clean,
          graft.operators.Dedup.minhashLshPairs(clean, threshold, idCol,
            textCol), idCol)
        .filter(col("cluster_id") === col(idCol))
        .select(col(idCol))
      // admitted must be durable before the store learns the batch: a
      // crash between the two appends then re-admits (at-least-once)
      // instead of silently dropping rows the store already rejects
      val admitted = clean.join(keepers, Seq(idCol), "left_semi")
        .persist()
      try {
        admitted.write.mode("append").parquet(admittedPath)
        FingerprintStore.appendBatch(spark, storePath, admitted, idCol,
          textCol)
      } finally admitted.unpersist()
    }
  }

  /** Streaming ANN index maintenance — the embedding half of the
    * continuous-admission pipeline ([[dedupAdmissionSink]] is the text
    * half): every micro-batch of vectors is coarse-assigned and
    * PQ-encoded against the index's FROZEN stored centroids/codebooks
    * and appended into only the list partitions it lands in
    * ([[graft.sources.VectorIndexStore.appendIvfPq]]). Per-trigger
    * cost is batch-sized (the batch joins broadcast metadata; the
    * codes table is touched append-only), state is the persisted index
    * itself — durable, versioned, shared with the batch append path,
    * so a periodic [[graft.sources.VectorIndexStore.compactIvfPq]]
    * folds the accumulated per-trigger files back to one per list. */
  def vectorAppendSink(source: DataFrame, indexPath: String,
      checkpoint: String, m: Int = 8, dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          // scoped: encodeForIndex caches batch-scale intermediates;
          // per-trigger caches must die with the trigger on an
          // unbounded stream
          graft.operators.CacheRegistry.scoped {
            graft.sources.VectorIndexStore.appendIvfPq(
              batch.sparkSession, indexPath, batch, m, dim, idCol,
              vecCol)
          }
      }
      .start()

  /** Streaming similarity-graph maintenance — every micro-batch of
    * embeddings folds into the persisted
    * [[graft.sources.EdgeStore]] with batch-sized work
    * (`appendBatch`: batch bands vs the STORED band index, never a
    * corpus re-band), so the pair table every graph consumer
    * (census, clusters, BFS, PageRank) serves from is always current.
    * `vectors` is the id-keyed source of truth for the exact-cosine
    * verify (candidate-id lookups only). foreachBatch is
    * AT-LEAST-ONCE; `appendBatch` drops already-indexed ids, so a
    * redelivered trigger admits nothing — the commit is idempotent. */
  def edgeAppendSink(source: DataFrame, vectors: DataFrame,
      storePath: String, checkpoint: String, threshold: Double,
      bands: Int, rowsPerBand: Int, dim: Int): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.CacheRegistry.scoped {
            graft.sources.EdgeStore.appendBatch(batch, vectors,
              storePath, threshold, bands, rowsPerBand, dim)
            ()
          }
      }
      .start()

  /** Streaming LAYOUT maintenance — the clustered-table rung of the
    * continuous-admission pipeline: every micro-batch of rows lands
    * UNCLUSTERED as its own [[graft.sources.HilbertStore]] tail
    * segment (one atomic manifest commit per trigger), so the
    * Hilbert-ordered table every rectangle scan reads is always
    * current at batch-sized ingest cost; a periodic
    * [[graft.sources.HilbertStore.optimize]] re-sorts the accumulated
    * tail in (the lakehouse ingest-then-OPTIMIZE cadence).
    * foreachBatch is AT-LEAST-ONCE; the batchId tag — SCOPED by the
    * checkpoint (batch ids are unique only within one checkpoint
    * lineage: a restart on a NEW checkpoint restarts them at 0, and
    * an unscoped tag would silently skip genuinely new batches as
    * "redeliveries") — joins the store's durable `tail_tags` set, so
    * a redelivered trigger within the lineage is recognized and
    * skipped, and a trigger that crashed mid-write left only an
    * orphan segment no manifest references (the retry appends a
    * fresh one). Restart recovery therefore requires restarting FROM
    * the same checkpoint, the structured-streaming contract anyway. */
  def hilbertMaintSink(source: DataFrame, storePath: String,
      aCol: String, bCol: String, bits: Int,
      checkpoint: String): StreamingQuery = {
    val ns = checkpointTagNs(checkpoint)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.CacheRegistry.scoped {
            graft.sources.HilbertStore.appendTail(batch, storePath,
              aCol, bCol, bits, batchTag = Some(f"$ns%s-b$batchId%08d"))
          }
      }
      .start()
  }

  /** The per-checkpoint tag namespace: stable across restarts from
    * the SAME checkpoint (where batch ids are meaningful), distinct
    * for a new one (where they restart at 0). */
  private def checkpointTagNs(checkpoint: String): String =
    f"c${checkpoint.hashCode}%08x"

  /** [[checkpointTagNs]] for stores whose redelivery tag is a LONG
    * `batch_id` column: 31 namespace bits above bit 32 leave room for
    * four billion triggers per lineage, and ids stay monotonic WITHIN
    * a checkpoint (the only scope where ordering means anything). A
    * namespace collision between two checkpoints would silently skip
    * a colliding batch id as a redelivery, so the namespace takes the
    * widest slice the long affords. */
  private def checkpointTagNsLong(checkpoint: String): Long =
    (checkpoint.hashCode.toLong & 0x7fffffffL) << 32

  /** Streaming view maintenance — the aggregate third of the
    * continuous-admission pipeline ([[dedupAdmissionSink]] keeps the
    * corpus deduped, [[vectorAppendSink]] keeps the ANN index current,
    * this keeps the rollup current): every micro-batch folds into the
    * persisted [[graft.sources.AggStore]] partials as a new committed
    * version. Per-trigger cost is O(|batch|) + a keys-sized merge;
    * the maintained view is never recomputed from history.
    * foreachBatch is AT-LEAST-ONCE (a crash between the store commit
    * and the streaming commit log re-runs the trigger), so the
    * batchId rides the version commit as its tag (checkpoint-scoped,
    * like [[hilbertMaintSink]]'s — a fresh checkpoint's batch 0 must
    * not collide with the old lineage's) and a redelivered trigger is
    * recognized and skipped — without it every key the replayed batch
    * touches would silently double-count
    * ([[graft.sources.AggStore.bootstrapOrAppend]]). */
  def aggMaintSink(source: DataFrame, storePath: String,
      checkpoint: String): StreamingQuery = {
    val ns = checkpointTagNs(checkpoint)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.CacheRegistry.scoped {
            graft.sources.AggStore.bootstrapOrAppend(
              batch.sparkSession, storePath, batch,
              batchTag = Some(f"$ns%s-b$batchId%08d"))
          }
      }
      .start()
  }

  /** Streaming frequency-sketch maintenance — the heavy-hitters rung
    * of the continuous-admission pipeline: every micro-batch of
    * documents folds into ONE bounded Misra-Gries sketch row
    * ([[graft.operators.CorpusStats.freqState]] — a batch-sized
    * ObjectHashAggregate whose output is ≤ ~48 KB of sketch bytes
    * plus the batch token count), appended to the parquet state table
    * tagged with the trigger's batchId. foreachBatch is
    * AT-LEAST-ONCE, so a redelivered trigger is recognized by its tag
    * and skipped (the [[aggMaintSink]] discipline — without it the
    * replayed batch's tokens would double-count in the merged
    * estimates). Sketch union is merge-order-free on its ERROR
    * CONTRACT (no false negatives above the combined error line, true
    * counts inside bounds), so the store built by ANY trigger
    * interleaving validates against the exact heavy hitters — which
    * is what `x_stream_heavy` hashes, sharing `x_freq_merge`'s
    * oracle. At 100 TB/day this is "top tokens, continuously" with
    * per-trigger cost batch-sized and state one row per trigger
    * (compaction = re-sketch or [[graft.operators.CorpusStats
    * .mergeFreqStates]] into one row — counters, not data). */
  def freqMaintSink(source: DataFrame, storePath: String,
      checkpoint: String, maxMapSize: Int = 1024): StreamingQuery = {
    val ns = checkpointTagNsLong(checkpoint)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.CacheRegistry.scoped {
            appendFreqBatch(batch, storePath, ns | batchId, maxMapSize)
          }
      }
      .start()
  }

  /** One frequency-maintenance micro-batch (the [[freqMaintSink]]
    * body; also directly callable from a batch scheduler). Idempotent
    * by `batchId` tag: the redelivery probe reads the row-per-trigger
    * state table (bounded metadata, never the corpus). */
  /** Streaming always-valid experiment monitor — the EIGHTH
    * maintenance sink: every micro-batch folds into per-(key, day,
    * arm) exact sufficient statistics `(n, Σc, Σc²)`
    * ([[graft.operators.Hypothesis.perDayArmStats]] — batch-sized,
    * mergeable pure sums), appended to the parquet state table tagged
    * with the trigger's batchId; at-least-once redelivery recognized
    * by the tag and skipped (the [[appendFreqBatch]] discipline).
    * Reading re-sums the partials per (key, day, arm) and runs the
    * SAME mSPRT closing chain as the batch query — merged sums equal
    * the one-shot aggregate exactly, so `x_stream_msprt` shares
    * `x_msprt_seq`'s oracle bit for bit. This is "may I stop the
    * experiment yet?", maintained continuously at batch-sized cost,
    * with the peeking-valid p the fixed-horizon tests cannot give. */
  def msprtMaintSink(source: DataFrame, storePath: String,
      checkpoint: String): StreamingQuery = {
    val ns = checkpointTagNsLong(checkpoint)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.CacheRegistry.scoped {
            appendMsprtBatch(batch, storePath, ns | batchId)
          }
      }
      .start()
  }

  def appendMsprtBatch(batch: DataFrame, storePath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val storeHp = new org.apache.hadoop.fs.Path(storePath)
    val storeFs = storeHp.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val redelivered = storeFs.exists(storeHp) &&
      spark.read.parquet(storePath)
        .filter(col("batch_id") === batchId).limit(1).count() > 0
    if (redelivered) return
    graft.operators.Hypothesis.perDayArmStats(batch,
      graft.operators.Hypothesis.variantOf(col("user_id")))
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(storePath)
  }

  /** Batch-parity harness for [[msprtMaintSink]]: split `events` into
    * time-ordered micro-batches, stream them through the real sink,
    * then serve the always-valid p from the STORE — re-summed
    * partials through [[graft.operators.Hypothesis
    * .msprtFromPerDayArm]]. */
  def msprtMaintReplay(spark: SparkSession, events: DataFrame,
      nBatches: Int = 4, workDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = events
      .withColumn("b", ntile(nBatches).over(
        Window.orderBy(col("ts"), col("event_id"))))
    val in = stageBatchFiles(staged, nBatches, workDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val store = new java.io.File(workDir, "msprt-store").toString
    withReplayPartitions(spark, in) {
      val q = msprtMaintSink(stream, store,
        new java.io.File(workDir, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
    }
    graft.operators.Hypothesis.msprtFromPerDayArm(
      spark.read.parquet(store)
        .groupBy(col("key"), col("day"), col("v"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
          sum(col("ss")).as("ss")))
  }

  def appendFreqBatch(batch: DataFrame, storePath: String,
      batchId: Long, maxMapSize: Int): Unit = {
    val spark = batch.sparkSession
    // existence probes go through the Hadoop FS API (the AggStore /
    // SnapshotDir discipline): a java.io.File probe silently never
    // fires on HDFS/S3, re-appending the replayed trigger's sketch
    // and double-counting its tokens
    val storeHp = new org.apache.hadoop.fs.Path(storePath)
    val storeFs = storeHp.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val redelivered = storeFs.exists(storeHp) &&
      spark.read.parquet(storePath)
        .filter(col("batch_id") === batchId).limit(1).count() > 0
    if (redelivered) return
    graft.operators.CorpusStats
      .freqState(batch, lit(batchId), maxMapSize)
      .withColumnRenamed("part", "batch_id")
      .write.mode("append").parquet(storePath)
  }

  /** Batch-parity harness for [[freqMaintSink]]: split `docs` into
    * `nBatches` id-ordered micro-batches, stream them through the
    * real sink one file per trigger, and return the stored state rows
    * (one per trigger). The caller validates the merged store with
    * [[graft.operators.CorpusStats.freqStatesValidated]] — the same
    * contract the batch merge audit hashes. */
  def freqMaintReplay(spark: SparkSession, docs: DataFrame,
      nBatches: Int = 4, workDir: String,
      maxMapSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = docs.select(col("doc_id"), col("text"))
      .withColumn("b", ntile(nBatches).over(Window.orderBy(col("doc_id"))))
    val in = stageBatchFiles(staged, nBatches, workDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val store = new java.io.File(workDir, "freq-store").toString
    withReplayPartitions(spark, in) {
      val q = freqMaintSink(stream, store,
        new java.io.File(workDir, "ckpt").toString, maxMapSize)
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(store)
  }

  /** Batch-parity harness for [[hilbertMaintSink]]: split `rows` into
    * `nBatches` micro-batches ordered by `orderCol`, stream them
    * through the real sink one file per trigger. The caller scans the
    * store afterwards — [[graft.sources.HilbertStore.rectScan]] over
    * clustered ∪ tail is the validated surface. */
  def hilbertMaintReplay(spark: SparkSession, rows: DataFrame,
      storePath: String, aCol: String, bCol: String, bits: Int,
      orderCol: String, nBatches: Int = 2, workDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val staged = rows
      .withColumn("b", ntile(nBatches).over(Window.orderBy(col(orderCol))))
    val in = stageBatchFiles(staged, nBatches, workDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    withReplayPartitions(spark, in) {
      val q = hilbertMaintSink(stream, storePath, aCol, bCol, bits,
        new java.io.File(workDir, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Incremental sync as a streaming sink: every micro-batch of source rows
    * is synced against the persistent state with a `lookbackDays` window
    * ending at the batch's max event date (the reference's
    * `DIAS_LOOKBACK` re-scan, continuously). */
  def syncSink(source: DataFrame, statePath: String, auditPath: String,
      conflictPath: String, lookbackDays: Int = 10,
      checkpoint: String): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatch(batch, statePath, auditPath, conflictPath, lookbackDays)
      }
      .start()

  /** One micro-batch: window from the batch's own dates, sync, persist. */
  def runBatch(batch: DataFrame, statePath: String, auditPath: String,
      conflictPath: String, lookbackDays: Int): Unit = {
    if (batch.isEmpty) return
    val end = batch.agg(max(col("fecha"))).collect().head.getDate(0)
    val start = java.sql.Date.valueOf(end.toLocalDate.minusDays(lookbackDays))
    SyncApp.sync(batch, SyncApp.Paths(statePath, auditPath, conflictPath),
      start.toString, end.toString)
  }
}
