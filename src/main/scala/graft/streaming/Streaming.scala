package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming restatement of the reference's incremental
  * semantics (SURVEY.md §2.9).
  *
  * The reference polls a landing directory daily, picks the newest file,
  * and anti-joins against DB history to skip already-loaded keys
  * (dags/etl_municipios.py:64-69,138-142). That contract — "each input file
  * processed exactly once, duplicate keys dropped" — is exactly a file-source
  * stream with checkpointed offsets + `dropDuplicates` state, so the
  * anti-join disappears into engine bookkeeping.
  */
object Streaming {

  /** Run `body` — code that starts and synchronously drains a bounded
    * micro-batch stream — with AQE disabled on the session, restoring the
    * previous value afterwards (r14, guide §1.2 step 3 after steps 1-2).
    *
    * Why: the stateful streaming plan itself already runs without AQE
    * (Spark disables adaptive execution for streaming plans), but every
    * foreachBatch body and per-batch sub-job is a BATCH query that
    * re-plans adaptively on every micro-batch. Under the engine's seam
    * protocol (maxFilesPerTrigger-bounded AvailableNow drains) each
    * batch is a small bounded chunk whose plan never benefits from
    * runtime re-optimization — the per-stage plan finalization is pure
    * driver overhead paid once per stage per batch. Measured at sf0.1
    * `local[32]`: q234 5.4→3.2 s, q236 7.7→3.8 s, q272 6.6→4.9 s with
    * AQE off for the drain; landed CONTENTS are unaffected (partition
    * counts may differ; every landed sum/row in this engine is
    * partition-order-independent by the decimal discipline).
    *
    * Scale honesty: micro-batch size is set by trigger config, not
    * corpus size, so static per-batch plans are the right default on a
    * cluster too. A session that already runs with AQE off is left as is.
    *
    * Scope (r14, measured per family — isolated c32 A/B each way): this
    * wraps only the drain/land lanes whose per-batch bodies are trivial
    * (aggregate-to-memory, append-to-parquet) and whose wall is
    * dominated by per-batch plan finalization: `runToMemory`
    * (q234 10.5→3.4 s, q236 9.0→4.7 s, q196 6.7→3.1 s in-suite),
    * `incrementalFileLoad` (q120 4.05 vs 4.47 s), `partitionedSink`,
    * `Lake.streamLand`. The `*Maintain` helpers are NOT wrapped: their
    * foreachBatch bodies join each batch against accumulated parquet
    * state, and AQE's runtime broadcast decision on the growing state
    * side wins (q247 4.59 vs 5.90 s, q342 2.33 vs 3.55 s, q336 3.57 vs
    * 4.31 s, q289 3.96 vs 4.29 s, q272 5.22 vs 5.88 s AQE-on vs static).
    */
  private[graft] def withStaticMicrobatchPlans[T](spark: SparkSession)
                                          (body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    if (prev != "true") body
    else {
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, prev)
    }
  }

  /** Incremental file-source load: process all currently-available files
    * exactly once (checkpoint-tracked), drop duplicate keys within the
    * watermark horizon, append to a parquet lake table. Returns after the
    * available data is drained (`Trigger.AvailableNow` — the batch-cron
    * replacement).
    */
  def incrementalFileLoad(spark: SparkSession, sourceDir: String,
                          schema: StructType, keys: Seq[String],
                          eventTime: String, watermark: String,
                          targetDir: String, checkpointDir: String): Unit =
    withStaticMicrobatchPlans(spark) {
    val stream = spark.readStream
      .schema(schema)
      .option("latestFirst", "false")
      .parquet(sourceDir)
      .withWatermark(eventTime, watermark)
      .dropDuplicates(keys :+ eventTime)
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Bounded-state streaming dedup: drop repeats of a key arriving within
    * the watermark horizon of the first occurrence. Unlike
    * `dropDuplicates(keys)` — whose key state grows FOREVER and is the
    * unbounded-stream failure mode ([[incrementalFileLoad]] tolerates it
    * only because its key includes the event time, which the watermark
    * evicts) — `dropDuplicatesWithinWatermark` evicts each key's state
    * once the watermark passes it, so state is bounded by the horizon's
    * key arrival rate regardless of stream lifetime. The contract is
    * correspondingly weaker: a duplicate arriving AFTER the horizon is
    * treated as new — the right trade for at-least-once sources whose
    * redeliveries cluster near the original (Kafka redelivery, retried
    * uploads).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           eventTime: String, watermark: String): DataFrame =
    events.withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Event-time windowed aggregation with a watermark: per (window, type)
    * counts and value sums — the streaming analogue of the engine's batch
    * `q_stream_window` query. With `slide` set below the window length the
    * windows OVERLAP (each event lands in len/slide windows) — the same
    * built-in `window()` generator the batch twin (q128) uses, which is
    * the point: one query text serves both modes, and q136 hash-gates the
    * streamed result against the batch oracle verbatim.
    */
  def windowedCounts(events: DataFrame, eventTime: String = "ts",
                     watermark: String = "10 minutes",
                     windowLen: String = "1 hour",
                     slide: Option[String] = None): DataFrame = events
    .withWatermark(eventTime, watermark)
    .groupBy(slide.fold(window(col(eventTime), windowLen))(s =>
      window(col(eventTime), windowLen, s)), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      // decimal accumulation: exact and batch/stream/oracle-identical
      sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Custom state: running per-user session stats via mapGroupsWithState —
    * the arbitrary-stateful-operator surface (KeyValueGroupedDataset).
    */
  final case class UserEvent(user_id: Long, event_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "event_id", "value").as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n; var tot = prev.total
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          next
      }.toDF()
  }

  /** Streaming sessionization via flatMapGroupsWithState + event-time
    * timeout: the full custom-state surface. Events accumulate into an open
    * per-user session; a session CLOSES (and is emitted, Append mode) when
    * a later event arrives past the gap, or when the watermark passes
    * `last event + gap` (the timeout path — so idle sessions flush without
    * waiting for the user's next event).
    *
    * State per key is one fixed-size session record — at 100 TB state size
    * is O(active users), not O(events), and the watermark bounds how long a
    * key stays resident.
    */
  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  final case class SessState(start_us: Long, last_us: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                                 n_events: Long)

  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.selectExpr("user_id", "ts", "event_id").as[SessEvent]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          def us(t: java.sql.Timestamp): Long = tsMicros(t)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.start_us, s.last_us, s.n))
          } else {
            // events within a batch arrive unordered — order before folding
            val sorted = rows.toVector.sortBy(e => (us(e.ts), e.event_id))
            var closed = Vector.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                // late in-gap arrivals (allowed by the watermark) may sort
                // before the state's bounds: extend, never rewind
                case Some(s) if us(e.ts) >= s.start_us - gapUs &&
                    us(e.ts) - s.last_us <= gapUs =>
                  cur = Some(SessState(math.min(s.start_us, us(e.ts)),
                    math.max(s.last_us, us(e.ts)), s.n + 1))
                // older than the open session's reach: its own (already
                // gap-expired) singleton session, state untouched
                case Some(s) if us(e.ts) < s.start_us =>
                  closed :+= ClosedSession(uid, us(e.ts), us(e.ts), 1)
                case Some(s) =>
                  closed :+= ClosedSession(uid, s.start_us, s.last_us, s.n)
                  cur = Some(SessState(us(e.ts), us(e.ts), 1))
                case None =>
                  cur = Some(SessState(us(e.ts), us(e.ts), 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close via timeout when the watermark passes last + gap
              state.setTimeoutTimestamp((s.last_us + gapUs) / 1000L)
            }
            closed.iterator
          }
      }.toDF()
  }

  /** Update-mode approximate distinct count per user: the 100 TB variant of
    * the exact Complete-mode `collect_set` formulation (SparkEntry q45).
    * Two state blowups go away at once: per-key state becomes a fixed-size
    * HyperLogLog++ sketch instead of a set that grows with distinct values,
    * and Update output emits only the keys that changed each batch instead
    * of re-emitting the whole result table. Note the KEY COUNT is still
    * unbounded in both modes — one state entry per user_id lives forever
    * without a watermark or state TTL; what this variant bounds is the
    * per-key state size and the output volume. For truly unbounded key
    * spaces add a watermarked window or state TTL on top, and put state on
    * disk via the RocksDB provider. `rsd` is the target relative
    * standard deviation (Spark default 0.05); the error envelope vs exact is
    * pinned by StreamingSpec, and the RocksDB state-store provider path is
    * exercised there too (the on-disk store is what makes huge key spaces
    * viable — state no longer lives on the executor heap).
    */
  def distinctTypesApprox(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("user_id"))
      .agg(approx_count_distinct(col("event_type"), rsd).as("n_types_approx"))

  /** Stream-stream range join: left rows join right rows with the same key
    * and `rightTime` within `[leftTime - lookback, leftTime]`. Both sides
    * carry watermarks, and the time-range condition bounds the join state:
    * the engine drops right-side state older than
    * `watermark + lookback` — without the range bound a stream-stream join
    * buffers forever, which is the 100 TB failure mode this guards.
    *
    * Column names must be distinct across the two inputs (standard
    * stream-stream join constraint for unambiguous conditions).
    */
  def streamStreamRangeJoin(left: DataFrame, leftKey: String, leftTime: String,
                            right: DataFrame, rightKey: String, rightTime: String,
                            lookback: String = "1 hour",
                            watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    // condition built from Column ops, not string interpolation: column
    // names needing backticks (dots, spaces, reserved words) resolve
    // correctly instead of producing parse errors or mis-binding
    l.join(r, l(leftKey) === r(rightKey) &&
      r(rightTime) >= l(leftTime) - expr(s"INTERVAL $lookback") &&
      r(rightTime) <= l(leftTime))
  }

  /** Exactly-once landing of a stream in a partitioned lake table:
    * foreachBatch → delete-partition-then-insert scoped to THIS batch.
    *
    * foreachBatch is at-least-once: after a failure the same batch id is
    * redelivered (with identical content — the checkpoint pins each
    * batch's offsets). Overwriting the user partitions directly would be
    * wrong twice over: a redelivered batch carrying a SUBSET of a
    * partition's rows would delete earlier rows of that partition, and a
    * later incremental batch would clobber what previous batches landed.
    * Scoping the overwrite with a `__batch_id` partition level fixes
    * both: batch N only ever replaces the `__batch_id=N` subtree, so
    * replaying N is idempotent and batches never touch each other —
    * exactly-once table contents under the streaming checkpoint contract.
    * (Losing the checkpoint voids that contract for ANY sink without a
    * transaction log — land into a fresh table after checkpoint loss: a
    * replay renumbered from batch 0 only re-covers the subtrees of the
    * batch ids it re-emits. The single-batch instance of that case —
    * `AvailableNow` re-run with a fresh checkpoint — does converge, and
    * the spec and q89 drive it.)
    *
    * Readers see `__batch_id` as an extra partition column; filter or
    * drop it (it also enables per-batch lineage/rollback, the poor man's
    * transaction log).
    */
  def partitionedSink(stream: DataFrame, tablePath: String,
                      partitionKeys: Seq[String], checkpoint: String): Unit =
    withStaticMicrobatchPlans(stream.sparkSession) {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.idempotent.Idempotent.overwritePartitions(
          batch.toDF().withColumn("__batch_id", lit(batchId)),
          tablePath, partitionKeys :+ "__batch_id")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Full-microsecond epoch value of a Timestamp: getTime alone is
    * millisecond-granular and would collapse sub-ms event orderings that
    * batch oracles distinguish. Shared by every stateful operator here.
    */
  private def tsMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming debounce — [[graft.ops.Timeseries.debounce]]'s stateful
    * twin: keep an event only ≥ `minGapSeconds` after the last KEPT one,
    * with the last-kept clock carried in per-key GroupState across
    * micro-batches. Within a batch events fold in (event-time, id)
    * order; across batches the fold requires the batch boundary to be
    * event-time-monotone per key (a batch never delivers an event older
    * than an already-consumed one — q140's pinned precondition, arranged
    * by the time-split staging harness), because a kept decision cannot
    * be revoked once emitted. Under that precondition the kept set
    * equals the batch operator's output on the union — the shared-oracle
    * gate — for ANY micro-batch partitioning.
    *
    * State is one long per key, append-mode emission; state never
    * expires here (the fixture is bounded) — production would add the
    * sessionizeStream timeout to GC idle keys.
    */
  final case class DebEvent(user_id: Long, ts: java.sql.Timestamp,
                            event_id: Long)
  final case class DebState(last_kept_us: Long)
  final case class KeptEvent(user_id: Long, event_id: Long)

  def debounceStream(events: DataFrame, minGapSeconds: Long): DataFrame = {
    require(minGapSeconds >= 1L,
      s"minGapSeconds must be >= 1, got $minGapSeconds")
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = minGapSeconds * 1000000L
    events.selectExpr("user_id", "ts", "event_id").as[DebEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DebState, KeptEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[DebEvent], state: GroupState[DebState]) =>
          val sorted = rows.toVector.sortBy(e => (tsMicros(e.ts), e.event_id))
          var last = state.getOption.map(_.last_kept_us)
            .getOrElse(Long.MinValue)
          val kept = Vector.newBuilder[KeptEvent]
          sorted.foreach { e =>
            val t = tsMicros(e.ts)
            if (last == Long.MinValue || t - last >= gapUs) {
              last = t
              kept += KeptEvent(uid, e.event_id)
            }
          }
          if (last != Long.MinValue) state.update(DebState(last))
          kept.result().iterator
      }.toDF()
  }

  /** Streaming EWMA — [[graft.ops.Timeseries.ewmaDailyCounts]]'s stateful
    * twin: the per-(key, day) count series folds through per-key
    * GroupState carrying (observations so far, the last `taps−1` daily
    * counts most-recent-first), one smoothed-rate row emitted per
    * completed day — the online drift/anomaly monitor shape, O(taps)
    * state per key.
    *
    * Bit-equality with the batch operator (the shared-oracle gate): each
    * emission rebuilds the IDENTICAL left-folded chain — ascending-tap
    * terms `cnt₋ⱼ·2^−j` (missing taps as exact +0.0 addends) summed in
    * the same association order, divided by the same Scala-computed
    * normalizer table — so the only difference from the batch plan is
    * WHERE the lagged counts come from (GroupState instead of a window).
    * The unrounded quotient is emitted; the caller applies the readout
    * round, exactly as the batch query does.
    *
    * Preconditions (q119/q140's staging contract): batches are day-
    * monotone per key (a day never splits across batches and days arrive
    * in order) — enforced, not assumed: a day at-or-before the state's
    * frontier throws rather than silently double-counting.
    */
  final case class EwmaEvent(event_type: String, ts: java.sql.Timestamp)
  final case class EwmaState(n_obs: Long, last_day: Long, recent: List[Long])
  final case class EwmaOut(key: String, day: String, cnt: Long,
                           n_obs: Long, ewma_raw: Double)

  def ewmaStream(events: DataFrame, taps: Int): DataFrame = {
    require(taps >= 2 && taps <= 16, s"taps must be in [2, 16], got $taps")
    val spark = events.sparkSession
    import spark.implicits._
    val weights = (0 until taps).map(j => math.pow(0.5, j))
    val norms = graft.ops.Timeseries.ewmaNorms(taps)
    events.selectExpr("event_type", "ts").as[EwmaEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val byDay = rows.foldLeft(Map.empty[Long, Long]) { (m, e) =>
            val d = math.floorDiv(tsMicros(e.ts), 86400000000L)
            m.updated(d, m.getOrElse(d, 0L) + 1L)
          }.toSeq.sortBy(_._1)
          var st = state.getOption.getOrElse(
            EwmaState(0L, Long.MinValue, Nil))
          val out = Vector.newBuilder[EwmaOut]
          byDay.foreach { case (day, cnt) =>
            if (day <= st.last_day)
              throw new IllegalStateException(
                s"ewmaStream: day $day for key $key arrived at-or-before " +
                  s"the state frontier ${st.last_day} — batches must be " +
                  "day-monotone per key")
            val hist = cnt :: st.recent // most recent first, ≤ taps long
            val num = (0 until taps).map { j =>
              (if (j < hist.length) hist(j) else 0L).toDouble * weights(j)
            }.reduceLeft(_ + _)
            val m = math.min(st.n_obs + 1L, taps.toLong)
            out += EwmaOut(key,
              java.time.LocalDate.ofEpochDay(day).toString, cnt, m,
              num / norms(m.toInt - 1))
            st = EwmaState(st.n_obs + 1L, day, hist.take(taps - 1))
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** Streaming CDC resolution — [[graft.idempotent.Idempotent.applyCdc]]
    * in-flight: per key, GroupState carries the highest (seq, op,
    * payload) seen so far; a micro-batch emits a key's new frontier only
    * when its sequence ADVANCES, so stale redeliveries die in state
    * instead of reaching the sink. The payload travels as JSON
    * (`to_json` of the payload struct) to keep the operator
    * payload-schema-generic; the caller decodes after landing. Returns
    * the emitted frontier stream (key, seq, op, payload_json) —
    * materialize and take the last row per key (the landing step every
    * exactly-once sink here performs) for final table state.
    *
    * State is one (long, string, string) per key; emission is
    * append-mode. Unlike sessionize/debounce, NO batch-boundary
    * precondition is needed: max-by-seq is order-insensitive, so any
    * partitioning of the log into micro-batches (even interleaved)
    * converges to the same final state — the gate proves it.
    */
  final case class CdcEvent(key: Long, seq: Long, op: String, js: String)
  final case class CdcState(seq: Long, op: String, js: String)

  def cdcApplyStream(log: DataFrame, keyCol: String, seqCol: String,
                     opCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "cdcApplyStream needs payload columns")
    val spark = log.sparkSession
    import spark.implicits._
    log.select(col(keyCol).cast("long").as("key"),
        col(seqCol).cast("long").as("seq"), col(opCol).as("op"),
        to_json(struct(payloadCols.map(col): _*)).as("js"))
      .as[CdcEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[CdcState, CdcEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[CdcEvent], state: GroupState[CdcState]) =>
          val best = rows.maxBy(e => (e.seq, e.op))
          val cur = state.getOption
          if (cur.forall(_.seq < best.seq)) {
            state.update(CdcState(best.seq, best.op, best.js))
            Iterator.single(CdcEvent(k, best.seq, best.op, best.js))
          } else Iterator.empty
      }.toDF()
  }

  /** Streaming ordered funnel (stage0 → stage1 → stage2, e.g. view →
    * click → purchase): emits each user's earliest in-order completion
    * times the moment the final stage lands, then DROPS the user's state —
    * O(1) state per active user, append-mode emission, and an event-time
    * timeout that garbage-collects users who never complete once the
    * watermark passes their horizon.
    *
    * Within a batch, events fold in event-time order (sorted here), so
    * any intra-batch arrival order yields the exact batch-semantics
    * frontier: first stage0 = min ts; first stage1 strictly after it;
    * first stage2 strictly after that. Across batches the fold assumes a
    * user's events do not arrive event-time-earlier than an already
    * consumed frontier (the same monotone-refinement contract as
    * [[sessionizeStream]]'s "extend, never rewind"); emission is
    * at-most-once per user either way.
    */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                               event_type: String)
  final case class FunnelState(tv_us: Long, tc_us: Long)
  final case class FunnelDone(user_id: Long, t_view_us: Long, t_click_us: Long,
                              t_purchase_us: Long)

  def funnelStream(events: DataFrame,
                   stages: (String, String, String) = ("view", "click", "purchase"),
                   watermark: String = "10 minutes",
                   idleHorizonMinutes: Int = 240): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (s0, s1, s2) = stages
    events.selectExpr("user_id", "ts", "event_type")
      // non-stage events can only hit the fold's no-op case: dropping them
      // BEFORE groupByKey keeps them off the shuffle and keeps users who
      // never enter the funnel out of the state store entirely
      .filter(col("event_type").isin(s0, s1, s2))
      .as[FunnelEvent]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelDone](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          def us(t: java.sql.Timestamp): Long = tsMicros(t)
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L))
            var done: Option[FunnelDone] = None
            var lastUs = 0L
            rows.toVector.sortBy(e => (us(e.ts), e.event_type)).foreach { e =>
              val t = us(e.ts)
              lastUs = math.max(lastUs, t)
              if (done.isEmpty) e.event_type match {
                case `s0` if st.tv_us < 0 => st = FunnelState(t, -1L)
                case `s1` if st.tv_us >= 0 && st.tc_us < 0 && t > st.tv_us =>
                  st = FunnelState(st.tv_us, t)
                case `s2` if st.tc_us >= 0 && t > st.tc_us =>
                  done = Some(FunnelDone(uid, st.tv_us, st.tc_us, t))
                case _ => () // stage out of order for this frontier: no-op
              }
            }
            done match {
              case Some(d) => state.remove(); Iterator.single(d)
              case None =>
                state.update(st)
                // GC un-completed users once the watermark passes their
                // last activity + horizon
                state.setTimeoutTimestamp(
                  lastUs / 1000L + idleHorizonMinutes * 60L * 1000L)
                Iterator.empty
            }
          }
      }.toDF()
  }

  /** Exactly-once funnel landing: [[funnelStream]]'s completions routed
    * through the batch-scoped overwrite of [[partitionedSink]]. The plain
    * memory/console emission of a stateful stream is at-most-once on a
    * crash between emit and commit — the state that produced the
    * completion is already dropped, but the sink never saw the row. Here
    * the redelivered batch regenerates the same completions from the
    * CHECKPOINTED pre-batch state and its landing replaces exactly its own
    * `__batch_id` subtree, so replay converges instead of losing or
    * duplicating completions (the same contract q89 proves for plain
    * aggregates; the replay law is spec-pinned in StreamingSpec).
    */
  def funnelLanding(events: DataFrame, tablePath: String, checkpoint: String,
                    stages: (String, String, String) = ("view", "click", "purchase"),
                    watermark: String = "10 minutes",
                    idleHorizonMinutes: Int = 240): Unit =
    partitionedSink(
      funnelStream(events, stages, watermark, idleHorizonMinutes),
      tablePath, Nil, checkpoint)

  /** Run a streaming aggregation over a bounded source synchronously into an
    * in-memory table (test/bench harness path).
    */
  def runToMemory(agg: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete): DataFrame =
    withStaticMicrobatchPlans(agg.sparkSession) {
    val q = agg.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    agg.sparkSession.table(name)
  }

  /** Streaming distribution-drift monitor: run
    * [[graft.ops.Profile.binCounts]] as a streaming aggregation over the
    * event stream (complete mode — the histogram is the bounded state:
    * groups × bins rows regardless of stream length), then fold the
    * landed counts through the SAME
    * [[graft.ops.Profile.driftFold]] the batch operator uses. The
    * statistic from streamed sufficient statistics is therefore
    * bit-identical to the batch q147 — its gate shares the batch oracle
    * verbatim.
    */
  def histogramDriftStream(events: DataFrame, group: Column, value: Column,
                           isCurrent: Column, binWidth: Double, nBins: Int,
                           name: String): DataFrame =
    graft.ops.Profile.driftFold(
      runToMemory(graft.ops.Profile.binCounts(events, group, value,
        isCurrent, binWidth, nBins), name))

  /** Streaming distribution-shift monitor, KS flavor: the exact
    * two-sample Kolmogorov–Smirnov statistic over a live stream —
    * `Eval.ksCounts` runs as a Complete-mode streaming aggregation
    * (state = one (long, long) per distinct value; bounded whenever the
    * value domain is, e.g. fixed-point prices — the q45/q150
    * exact-sufficient-statistic budget) and the landed counts finish
    * through the SAME `Eval.ksFinish` fold the batch statistic uses, so
    * the streamed KS is bit-identical to batch and its gate shares the
    * batch oracle verbatim. The rank-based companion to
    * [[histogramDriftStream]] — no bin edges to tune, catches shifts
    * bins hide.
    */
  def ksDriftStream(events: DataFrame, value: Column, inA: Column,
                    name: String): DataFrame =
    graft.ops.Eval.ksFinish(
      runToMemory(graft.ops.Eval.ksCounts(events, value, inA), name))

  /** Watermarked daily counts — [[graft.ops.Timeseries.dailyCounts]]'
    * streaming twin in APPEND mode (round-7, replacing the r6
    * Complete-mode form whose (key, day) state AND per-trigger output
    * grew without bound as the stream aged): counts aggregate per
    * (key, event-time day window) under `withWatermark(delay)`, so a
    * day's row is emitted ONCE when the watermark passes its end and its
    * state is EVICTED — live state is bounded by keys × open days
    * regardless of stream age (AppendStreamSpec pins the eviction
    * through StreamingQueryProgress state counts). Day windows are
    * UTC-epoch-aligned, identical to the batch `to_date` day under the
    * repo's UTC session contract; the day lands as the ISO string for
    * the same memory-sink decode reason as the batch frame.
    *
    * Append-mode caveat the caller owns: windows the final watermark has
    * not passed are NEVER emitted. A bounded replay that must flush all
    * real days appends a sentinel row with an event time > last real
    * day's end + delay (q236's flush device) — the sentinel's own open
    * window is the only state left behind.
    */
  def dailyCountsStream(events: DataFrame, key: Column, ts: Column,
                        watermarkDelay: String): DataFrame =
    events.select(key.as("key"), ts.as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(col("key"), window(col("__ts"), "1 day").as("__w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("key"),
        date_format(col("__w.start"), "yyyy-MM-dd").as("day"), col("cnt"))

  /** Streaming seasonality-aware anomaly screen: the live (key, day)
    * counts run as a WATERMARKED Append-mode streaming aggregation
    * ([[dailyCountsStream]] — closed days emit once and evict, state
    * bounded by open days, not stream age) and the landed table is
    * screened by the SAME `Timeseries.seasonalAnomalies` join against a
    * FROZEN [[graft.ops.Timeseries.seasonalProfile]] baseline — a Monday
    * spike judged against Mondays, online. Each emitted (key, day, cnt)
    * is the complete day's count by the watermark contract, so the
    * statistic is bit-identical to batch and the gate shares the batch
    * oracle verbatim (the q150/q234 sufficient-statistic device; the
    * static baseline side is q100's stream-static shape).
    */
  def seasonalAnomalyStream(events: DataFrame, key: Column, ts: Column,
                            profile: DataFrame, factor: Double,
                            name: String,
                            watermarkDelay: String = "1 day"): DataFrame =
    graft.ops.Timeseries.seasonalAnomalies(
      runToMemory(dailyCountsStream(events, key, ts, watermarkDelay),
        name, OutputMode.Append()),
      profile, factor)

  /** Streaming hot-key monitor: [[graft.ops.Skew.keyCounts]] as a
    * complete-mode streaming aggregation (state = one long per key —
    * bounded by key cardinality, the same budget as the batch counts
    * frame), finished through the SAME [[graft.ops.Skew.skewFinish]] the
    * batch report uses. Counts are integers, so the streamed report is
    * bit-identical to the batch one and its gate shares the batch oracle
    * verbatim — the live "is this key going hot" readout that decides
    * salting BEFORE the nightly job falls over.
    */
  def skewReportStream(events: DataFrame, key: Column, k: Int,
                       name: String): DataFrame =
    graft.ops.Skew.skewFinish(
      runToMemory(graft.ops.Skew.keyCounts(events, key), name), k)


  /** Drain every file currently under `sourceDir` through `body`, at most
    * `maxFilesPerTrigger` files per micro-batch, each batch exactly once
    * per checkpoint (`Trigger.AvailableNow`), returning once the files
    * available at start are drained — the file-stream skeleton every
    * foreachBatch maintainer here shares. AQE is left as the session
    * has it (see [[withStaticMicrobatchPlans]]'s scope note); a caller
    * that wants static per-batch plans wraps the call.
    */
  private[graft] def drainFiles(spark: SparkSession, sourceDir: String,
                                schema: StructType, checkpointDir: String,
                                maxFilesPerTrigger: Int)
                               (body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The `v{N}` version numbers under a versioned-state dir (none when
    * the dir does not exist) — the one place the protocol lists them.
    */
  private def stateVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toLong }
  }

  /** The newest state version under `dir` strictly below `below`. */
  private[graft] def latestVersion(spark: SparkSession, dir: String,
                                   below: Long = Long.MaxValue): Option[Long] =
    stateVersions(spark, dir).filter(_ < below).maxOption

  /** The newest state version under `dir` strictly below `below`, read
    * with the declared `stateSchema` — or the empty state when there is
    * none (an AvailableNow run over an empty source fires zero batches;
    * the empty state is the correct "seen so far", the empty law). The
    * schema is explicit because an empty micro-batch lands a
    * part-file-less dir that inference cannot read.
    */
  private def latestState(spark: SparkSession, dir: String,
                          stateSchema: StructType,
                          below: Long = Long.MaxValue): DataFrame =
    latestVersion(spark, dir, below) match {
      case Some(v) => spark.read.schema(stateSchema).parquet(s"$dir/v$v")
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stateSchema)
    }

  /** One step of the versioned-overwrite state protocol: `dir/v{batchId}`
    * = `next` of the latest `v{M}, M < batchId` (gaps legal; the empty
    * state when none). Overwriting `v{batchId}` on replay converges
    * because its input is exactly the pre-batch state, which no later
    * batch has mutated yet — batches process serially under one
    * checkpointed query — so a redelivered batch rewrites its own
    * version instead of re-adding its rows.
    *
    * Retention: after the landing, every version except the newest 2 is
    * deleted. Without this, state STORAGE grows linearly with batch
    * count even when each version is bounded — the "k rows forever" /
    * "≤ depth·width rows" claims hold per version, not per directory,
    * and these folds run per-batch forever in the day-2 story. 2 is the
    * correctness floor: under one checkpointed AvailableNow query the
    * only replayable batch is the LAST uncommitted one, and its
    * recompute reads the latest version strictly below it — the
    * predecessor must survive the prune. Everything older is
    * unreachable (batches commit serially).
    *
    * A batch older than the newest version is refused with an
    * [[IllegalStateException]]: it means the stream restarted from a fresh
    * checkpoint over existing state, so batch ids began again at 0. Folding
    * on would write versions older than the survivors, prune them at once,
    * and silently drop batches. A redelivery of the last batch
    * (`batchId` equal to the newest version) is the legal replay above.
    */
  private def foldVersion(spark: SparkSession, dir: String, batchId: Long,
                          stateSchema: StructType)
                         (next: DataFrame => DataFrame): Unit = {
    stateVersions(spark, dir).maxOption.filter(_ > batchId).foreach { newest =>
      throw new IllegalStateException(
        s"state directory $dir already holds version v$newest, newer than " +
          s"batch $batchId (v$batchId): the stream restarted without its " +
          "checkpoint; restore the checkpoint or use a new state directory")
    }
    next(latestState(spark, dir, stateSchema, batchId))
      .write.mode("overwrite").parquet(s"$dir/v$batchId")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    stateVersions(spark, dir).sorted.dropRight(2)
      .foreach(v => fs.delete(new Path(s"$dir/v$v"), true))
  }

  /** Streaming k-NN graph maintenance — the day-2 deployment of
    * [[graft.ops.Similarity.knnGraphIncremental]]: an embedding stream
    * lands micro-batch by micro-batch, and each batch folds into the
    * persisted graph via the incremental merge law (batch×corpus +
    * batch×batch pairs only; the corpus never self-joins again), so
    * ingest cost per batch is Σ batch·block instead of Σ block².
    *
    * State layout under `statePath` (both sides exactly-once under
    * [[partitionedSink]]'s reasoning):
    *  - `corpus/__batch_id=N/` — batch N's vectors; a redelivered batch
    *    replaces only its own subtree, and batch N's fold reads strictly
    *    `__batch_id < N`, so replay is idempotent and batches never see
    *    themselves;
    *  - `graph/v{N}/` — the full k-NN graph AFTER batch N, one
    *    [[foldVersion]] step from the latest `v{M}, M < N` + the prior
    *    corpus.
    *
    * By induction over the merge law, the latest graph version equals
    * [[graft.ops.Similarity.knnGraph]] over ALL landed vectors — ANY
    * partition of the stream into micro-batches yields the identical
    * final graph, which is what lets SparkEntry's q144 hash-gate the
    * streamed result against q137's full-recompute oracle verbatim.
    */
  def knnGraphMaintain(spark: SparkSession, sourceDir: String,
                       schema: StructType, idCol: String, vecCol: String,
                       blockCols: Seq[String], k: Int, statePath: String,
                       checkpointDir: String,
                       maxFilesPerTrigger: Int = 1): Unit = {
    val corpusDir = s"$statePath/corpus"
    val graphDir = s"$statePath/graph"
    // explicit schema for the same empty-batch reason as latestState
    val corpusSchema = StructType(
      schema.fields :+ StructField("__batch_id", LongType))
    val graphSchema = knnGraphSchema(schema, idCol)
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val corpus = new Path(corpusDir)
        val priorCorpus =
          if (corpus.getFileSystem(s.sparkContext.hadoopConfiguration)
              .exists(corpus))
            s.read.schema(corpusSchema).parquet(corpusDir)
              .filter(col("__batch_id") < batchId)
              .drop("__batch_id")
          else batch.limit(0)
        foldVersion(s, graphDir, batchId, graphSchema) { priorGraph =>
          graft.ops.Similarity.knnGraphIncremental(
            priorGraph, priorCorpus, batch, col(idCol), col(vecCol),
            blockCols.map(col), k)
        }
        graft.idempotent.Idempotent.overwritePartitions(
          batch.withColumn("__batch_id", lit(batchId)),
          corpusDir, Seq("__batch_id"))
    }
  }

  /** Streaming KMV sketch maintenance — the mergeable-sketch day-2
    * shape: each micro-batch's k-minimum positions fold into the
    * persisted sketch via [[graft.ops.Sketch.kmvMergeStates]] (k rows in,
    * k rows out — the state is KILOBYTES at any corpus size, and each
    * batch costs one distinct over the batch, never a corpus recompute).
    * Because the merge is commutative, associative and duplicate-
    * insensitive (positions are a set), ANY partition of the stream into
    * micro-batches lands on the batch sketch EXACTLY — q243 gates the
    * streamed estimate against q240's batch oracle VERBATIM.
    *
    * State layout: `statePath/v{N}` holds the sketch AFTER batch N
    * ([[foldVersion]]), so a redelivered batch rewrites only its own
    * version from unmutated inputs and replay is idempotent.
    */
  def kmvMaintain(spark: SparkSession, sourceDir: String,
                  schema: StructType, valueCol: String, k: Int,
                  statePath: String, checkpointDir: String,
                  maxFilesPerTrigger: Int = 1): Unit =
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, kmvSchema) {
          prior => graft.ops.Sketch.kmvMergeStates(prior,
            graft.ops.Sketch.kmvState(batch, col(valueCol), k), k)
        }
    }

  /** Streaming quantile-bins maintenance — the quantile member of the
    * maintained-sketch family ([[kmvMaintain]] distinct, [[cmsMaintain]]
    * frequency, this quantiles): each micro-batch's bin table
    * ([[graft.ops.Sketch.qbinState]]) folds into the persisted state by
    * bin-wise sum ([[graft.ops.Sketch.qbinMergeStates]]); state is
    * ≤ bins rows at any corpus size. The fold is commutative and
    * associative but NOT duplicate-insensitive (counters add), so
    * exactly-once rides the versioned-overwrite protocol
    * ([[foldVersion]]): a redelivered batch rewrites its own version
    * from unmutated inputs. Because vector addition commutes, ANY batch
    * partition of the corpus lands on the batch state EXACTLY — the
    * gate reads the final store's quantile readout against the batch
    * oracle verbatim.
    */
  def qbinMaintain(spark: SparkSession, sourceDir: String,
                   schema: StructType, valueCol: String, lo: Double,
                   w: Double, bins: Int, statePath: String,
                   checkpointDir: String,
                   maxFilesPerTrigger: Int = 1): Unit = {
    val stateSchema = StructType(Seq(
      StructField("bin", LongType), StructField("n", LongType)))
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, stateSchema) {
          prior => graft.ops.Sketch.qbinMergeStates(prior,
            graft.ops.Sketch.qbinState(batch, col(valueCol), lo, w, bins))
        }
    }
  }

  /** GROUPED streaming quantile-bins maintenance — [[qbinMaintain]] with
    * the state keyed by a group column ([[graft.ops.Sketch.qbinStateBy]]
    * folded via [[graft.ops.Sketch.qbinMergeStatesBy]]): the per-stratum
    * distribution table a profiling monitor keeps live. State is
    * ≤ groups·bins rows at any corpus size; the group key lands as
    * STRING on disk (the engine-portable key representation — the
    * claims-log discipline). Same versioned-overwrite exactly-once
    * protocol as the global fold, and the same batching-invariance:
    * per-group vector addition commutes, so ANY batch split of the
    * corpus lands on the batch state exactly — the gate (q342) shares
    * q337's oracle STRING verbatim across a forced multi-batch seam,
    * and the group-independence law extends to the streamed fold
    * (Round11OpsSpec: maintaining group G's rows alone yields G's grid
    * unchanged).
    */
  def qbinMaintainBy(spark: SparkSession, sourceDir: String,
                     schema: StructType, groupCol: String, valueCol: String,
                     lo: Double, w: Double, bins: Int, statePath: String,
                     checkpointDir: String,
                     maxFilesPerTrigger: Int = 1): Unit = {
    val stateSchema = StructType(Seq(StructField("group", StringType),
      StructField("bin", LongType), StructField("n", LongType)))
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, stateSchema) {
          prior => graft.ops.Sketch.qbinMergeStatesBy(prior,
            graft.ops.Sketch.qbinStateBy(batch,
              col(groupCol).cast("string"), col(valueCol), lo, w, bins))
        }
    }
  }

  /** Streaming crawl-frontier maintenance — the q306 canonical-URL dedup
    * as it runs in production, where the frontier IS the state: each
    * micro-batch canonicalizes its URLs
    * ([[graft.ops.Web.urlCanonicalize]]; NULL canonicals — inputs that
    * are not fetchable absolute URLs — drop), claims each canonical key
    * once (min id within the batch, the q306/q20 keeper rule),
    * anti-joins the persisted claims log so only never-before-claimed
    * keys survive, and lands the fresh claims under their own
    * `__batch_id` partition
    * ([[graft.idempotent.Idempotent.overwritePartitions]] — a
    * redelivered batch rewrites exactly its own partition from
    * unmutated inputs, [[knnGraphMaintain]]'s corpus protocol, so
    * replay is idempotent and a second AvailableNow run with no new
    * files is a no-op).
    *
    * Scale shape — deliberately NOT GroupState and NOT the
    * versioned-overwrite fold: a crawl frontier is 10¹¹ keys, so state
    * must live key-grain on disk (never in executor memory) and must
    * never be rewritten whole (a version per batch would re-land the
    * full frontier every trigger). Per batch the cost is one
    * batch-grain aggregate plus one batch×frontier equi anti-join.
    * The claims log lands as a BUCKETED table on `canon`
    * ([[graft.sinks.Sinks.landBucketedPartition]] — every batch
    * partition shares one bucket spec), so the anti-join plans with NO
    * exchange on the frontier leg: only the batch side shuffles (to the
    * bucket count), the frontier is read bucket-aligned in place
    * (Round11OpsSpec pins the plan differentially against a plain
    * parquet read of the same log). The frontier leg is hinted `merge`:
    * the frontier is by definition the enormous side — broadcasting it
    * is never right, and the hint keeps the test-scale plan the
    * production plan.
    */
  def frontierMaintain(spark: SparkSession, sourceDir: String,
                       schema: StructType, idCol: String, urlCol: String,
                       statePath: String, checkpointDir: String,
                       maxFilesPerTrigger: Int = 1,
                       claimsBuckets: Int = 32): Unit = {
    val claimsDir = s"$statePath/claims"
    val table = frontierClaimsTable(statePath)
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val claims = batch
          .select(col(idCol).cast("long").as("doc_id"),
            graft.ops.Web.urlCanonicalize(col(urlCol)).as("canon"))
          .filter(col("canon").isNotNull)
          .groupBy(col("canon")).agg(min(col("doc_id")).as("doc_id"))
        val prior =
          if (s.catalog.tableExists(table))
            s.table(table).filter(col("__batch_id") < batchId)
              .select(col("canon"))
          else claims.select(col("canon")).limit(0)
        // the landing target IS the anti-join's read side: checkpoint the
        // fresh set (batch-grain, never frontier-grain) to cut the scan
        // lineage, or the dynamic-partition insert rejects the
        // read-write-same-table plan
        val fresh = claims.join(prior.hint("merge"), Seq("canon"),
          "left_anti").localCheckpoint()
        graft.sinks.Sinks.landBucketedPartition(
          fresh.withColumn("__batch_id", lit(batchId)),
          table, claimsDir, Seq("canon"), claimsBuckets, "__batch_id")
    }
  }

  /** The session-catalog name of [[frontierMaintain]]'s bucketed claims
    * table for a given state path — exposed so gates and specs can plan
    * against (and drop) the log the stream landed.
    */
  def frontierClaimsTable(statePath: String): String = {
    // collision-resistant digest (round-12, ADVICE): String.hashCode is
    // 32-bit — two state paths colliding would silently alias to one
    // catalog table and cross-wire two frontiers' claims logs
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(statePath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_frontier_claims_" +
      d.take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Streaming Count-Min maintenance — the frequency complement of
    * [[kmvMaintain]]: each micro-batch's cell table
    * ([[graft.ops.Sketch.cmsState]]) folds into the persisted sketch by
    * cell-wise sum ([[graft.ops.Sketch.cmsMergeStates]]); state is
    * ≤ depth·width rows at any corpus size. The fold is commutative and
    * associative but NOT duplicate-insensitive (counters add), so
    * exactly-once rides the versioned-overwrite protocol
    * ([[foldVersion]]): a redelivered batch rewrites its own version
    * from unmutated inputs instead of double-counting. Because vector
    * addition commutes, ANY batch partition of the corpus lands on the
    * batch sketch EXACTLY — the gate reads the final store cell-for-cell
    * against the batch oracle.
    */
  def cmsMaintain(spark: SparkSession, sourceDir: String,
                  schema: StructType, keyCol: String, depth: Int, width: Int,
                  statePath: String, checkpointDir: String,
                  maxFilesPerTrigger: Int = 1): Unit =
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, cmsSchema) {
          prior => graft.ops.Sketch.cmsMergeStates(prior,
            graft.ops.Sketch.cmsState(batch, col(keyCol), depth, width))
        }
    }

  /** Streaming Naive Bayes sufficient-statistic maintenance — the
    * classifier day-2 shape ([[kmvMaintain]]'s protocol over
    * [[graft.ops.Train.naiveBayesState]]): each micro-batch's
    * (class, token) and per-class document counts fold into the
    * persisted state via [[graft.ops.Train.naiveBayesMergeStates]] —
    * integer sums on the state key, so ANY partition of the labeled
    * stream into batches lands on the batch statistic EXACTLY, and
    * [[graft.ops.Train.naiveBayesFromState]] trains the bit-identical
    * model from it (q313 gates this against q301's batch oracle
    * VERBATIM — the q289 train-from-state discipline). Per batch the
    * cost is one token-grain aggregate over the BATCH plus a state-key
    * merge — the labeled corpus is never rescanned, which is what makes
    * a continuously-retrained quality filter affordable.
    *
    * State layout: `statePath/v{N}` = the statistic AFTER batch N
    * ([[foldVersion]]) — replay-idempotent, storage-bounded.
    */
  def nbStateMaintain(spark: SparkSession, sourceDir: String,
                      schema: StructType, labelCol: String, textCol: String,
                      statePath: String, checkpointDir: String,
                      maxFilesPerTrigger: Int = 1): Unit = {
    val stateSchema = StructType(Seq(StructField("kind", StringType),
      StructField("class", StringType), StructField("token", StringType),
      StructField("cnt", LongType)))
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, stateSchema) {
          prior => graft.ops.Train.naiveBayesMergeStates(prior,
            graft.ops.Train.naiveBayesState(batch, col(labelCol),
              col(textCol)))
        }
    }
  }

  /** Streaming calibration-drift maintenance — the q305 monitor as it
    * actually deploys: a FROZEN model + FROZEN recalibration map score
    * each arriving micro-batch statelessly (`score`/`calScore` are
    * caller-built expression trees over the batch columns — the weights
    * are literals, so serving cannot drift from the batch fit), the
    * scored rows land append-only (q312's stateless-landing device),
    * and the MERGEABLE fixed-width-bin statistic
    * ([[graft.ops.Eval.calibState]] on the calibrated score) folds into
    * versioned state — ≤ `bins` rows per version, the tightest state
    * budget in the streaming family. The per-version reliability curve
    * ([[graft.ops.Eval.calibStateBins]]) is the live readout a monitor
    * diffs against its frozen baseline curve; the exact global Brier is
    * recoverable from state (decimal sums), which is what lets the
    * caller assert state ≡ landed-fold as an in-query law. Versioned-
    * overwrite + prune per [[foldVersion]].
    */
  def calibScoreMaintain(spark: SparkSession, sourceDir: String,
                         schema: StructType, id: Column, label: Column,
                         score: Column, calScore: Column, bins: Int,
                         landPath: String, statePath: String,
                         checkpointDir: String,
                         maxFilesPerTrigger: Int = 1): Unit = {
    val stateSchema = StructType(Seq(StructField("bin", LongType),
      StructField("n", LongType), StructField("n_pos", LongType),
      StructField("ssum", DecimalType(28, 12)),
      StructField("brier_sum", DecimalType(28, 18))))
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        val scored = batch.select(id.as("doc_id"),
          label.cast("double").as("__y"), score.as("score"),
          calScore.as("cal_score"))
        scored.write.mode("append").parquet(landPath)
        foldVersion(batch.sparkSession, statePath, batchId, stateSchema) {
          prior => graft.ops.Eval.calibMergeStates(prior,
            graft.ops.Eval.calibState(scored, col("cal_score"),
              col("__y") === 1.0d, bins))
        }
    }
  }

  /** Streaming perceptual-dedup maintenance — the multimodal dedup leg
    * run incrementally: each micro-batch's assets are banded
    * (`toBands`: the caller's decode → dHash → band composition) and
    * near-dup pairs are found as batch×batch PLUS batch×corpus-index
    * band joins ([[graft.ops.Multimodal.hammingNearDupPairsAcross]]) —
    * the corpus NEVER re-self-joins, which is the q74/q144 incremental
    * economics for image dedup: per batch cost is |batch|·(corpus
    * band-bucket occupancy), not corpus².
    *
    * Each pair lands exactly once — in the batch of its later-arriving
    * member — so the landed union over any batch partition of the
    * corpus equals the whole-corpus batch pairs EXACTLY (q272 gates
    * that against the batch oracle verbatim). Both the band index and
    * the pair log ride partitioned overwrite by `__batch_id`
    * ([[graft.idempotent.Idempotent.overwritePartitions]]): a
    * redelivered batch rewrites only its own partition from unmutated
    * inputs — idempotent replay without a versioned full rewrite (the
    * pair log is additive, unlike the CMS fold).
    */
  def dhashPairsMaintain(spark: SparkSession, sourceDir: String,
                         schema: StructType,
                         toBands: DataFrame => DataFrame,
                         maxDist: Int, statePath: String,
                         checkpointDir: String,
                         maxFilesPerTrigger: Int = 1): Unit = {
    val indexDir = s"$statePath/index"
    val pairsDir = s"$statePath/pairs"
    val indexSchema = StructType(Seq(StructField("id", LongType),
      StructField("bands", ArrayType(IntegerType, containsNull = false)),
      StructField("__batch_id", LongType)))
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val index = new Path(indexDir)
        val bb = toBands(batch)
          .select(col("id").cast("long").as("id"), col("bands"))
          .localCheckpoint() // read by two joins and the index landing
        val prior =
          if (index.getFileSystem(s.sparkContext.hadoopConfiguration)
              .exists(index))
            s.read.schema(indexSchema).parquet(indexDir)
              .filter(col("__batch_id") < batchId)
          else s.createDataFrame(s.sparkContext.emptyRDD[Row], indexSchema)
        val within = graft.ops.Multimodal.hammingNearDupPairs(
          bb, col("id"), col("bands"), maxDist)
        val across = graft.ops.Multimodal.hammingNearDupPairsAcross(
          bb, col("id"), col("bands"),
          prior, col("id"), col("bands"), maxDist)
        graft.idempotent.Idempotent.overwritePartitions(
          within.unionByName(across).withColumn("__batch_id", lit(batchId)),
          pairsDir, Seq("__batch_id"))
        graft.idempotent.Idempotent.overwritePartitions(
          bb.withColumn("__batch_id", lit(batchId)),
          indexDir, Seq("__batch_id"))
    }
  }

  /** The landed pair log of [[dhashPairsMaintain]] — additive across
    * batches, read with the explicit schema (empty-batch law).
    */
  def latestDhashPairs(spark: SparkSession, statePath: String): DataFrame = {
    val pairsSchema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType), StructField("hamming", IntegerType),
      StructField("__batch_id", LongType)))
    spark.read.schema(pairsSchema).parquet(s"$statePath/pairs")
      .drop("__batch_id")
  }

  /** Streaming bounded-uniform-sample maintenance — reservoir sampling's
    * job without its sequential-order dependence: each micro-batch's
    * deterministic top-k sample
    * ([[graft.ops.Sampling.uniformTopKSample]]: k smallest salted md5
    * positions, WITH payload) folds into the persisted sample by
    * union-then-top-k — the KMV merge law with payload rows, so ANY
    * batch partition of the corpus lands on the batch sample EXACTLY
    * and state is k rows forever. Versioned-overwrite protocol
    * ([[foldVersion]]: replay rewrites, never re-adds). The day-2 shape
    * for "keep a representative corpus sample as data streams in"
    * (eval-set carving, drift eyeballing) at kilobyte state.
    */
  def sampleMaintain(spark: SparkSession, sourceDir: String,
                     schema: StructType, idCol: String, k: Int,
                     statePath: String, checkpointDir: String,
                     maxFilesPerTrigger: Int = 1): Unit = {
    val stateSchema = sampleSchema(schema)
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId, stateSchema) {
          prior => prior.unionByName(
              graft.ops.Sampling.uniformTopKSample(batch, col(idCol), k))
            .orderBy(col("__pos").asc, col(idCol).asc).limit(k)
        }
    }
  }

  /** [[sampleMaintain]]'s state schema: the SOURCE schema plus `__pos`. */
  private def sampleSchema(source: StructType): StructType =
    StructType(source.fields :+ StructField("__pos", LongType))

  /** Latest landed sample under [[sampleMaintain]]'s state dir (empty
    * sample when no batch landed — the empty law). `schema` is the
    * SOURCE schema; `__pos` is appended.
    */
  def latestSample(spark: SparkSession, statePath: String,
                   schema: StructType): DataFrame =
    latestState(spark, statePath, sampleSchema(schema))

  private val cmsSchema = StructType(Seq(StructField("r", IntegerType),
    StructField("c", LongType), StructField("cnt", LongType)))

  /** Latest landed CMS under [[cmsMaintain]]'s state dir (the empty
    * sketch — all-zero cells, represented sparsely as zero rows — when
    * no batch landed: the empty law).
    */
  def latestCmsState(spark: SparkSession, statePath: String): DataFrame =
    latestState(spark, statePath, cmsSchema)

  private val kmvSchema = StructType(Seq(StructField("__h", LongType)))

  /** Latest landed sketch version under [[kmvMaintain]]'s state dir —
    * or the EMPTY sketch when no batch ever landed (the empty law).
    */
  def latestKmvState(spark: SparkSession, statePath: String): DataFrame =
    latestState(spark, statePath, kmvSchema)

  /** Streaming word-count maintenance — the tokenizer family's day-2
    * leg: [[graft.ops.Bpe.wordCounts]] is the SUFFICIENT STATISTIC of
    * BPE training (the trainer never re-reads the corpus after the one
    * word-count pass), so maintaining it incrementally is exactly what
    * lets a tokenizer retrain as data streams in without ever
    * re-scanning the corpus. Each micro-batch's word counts fold into
    * the persisted table by word-grain sum — commutative and
    * associative, so ANY batch partition of the corpus lands on the
    * batch word count EXACTLY (q289 gates a trainer run FROM the
    * folded state against the whole-corpus training oracle verbatim).
    * NOT duplicate-insensitive (counts add), so exactly-once rides the
    * same versioned-overwrite protocol as [[cmsMaintain]]
    * ([[foldVersion]], which also bounds the directory). State is
    * vocab-grain — Zipf-small relative to the corpus, the same asymmetry
    * that makes the trainer itself corpus-free after one pass.
    */
  def wordCountsMaintain(spark: SparkSession, sourceDir: String,
                         schema: StructType, textCol: String,
                         statePath: String, checkpointDir: String,
                         maxFilesPerTrigger: Int = 1): Unit =
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId,
            wordCountsSchema) { prior =>
          prior.unionByName(graft.ops.Bpe.wordCounts(batch, col(textCol)))
            .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
        }
    }

  private val wordCountsSchema = StructType(Seq(
    StructField("word", StringType), StructField("cnt", LongType)))

  /** Latest landed word-count table under [[wordCountsMaintain]]'s
    * state dir (empty when no batch landed — the empty law).
    */
  def latestWordCounts(spark: SparkSession, statePath: String): DataFrame =
    latestState(spark, statePath, wordCountsSchema)

  /** Streamed PQ coding against a FROZEN codebook artifact — the day-2
    * economics of the compressed-domain index ([[graft.ops.Similarity
    * .pqTrain]] runs once on the base corpus; arriving batches never
    * retrain): each micro-batch is coded MAP-SIDE (broadcast books, no
    * state read at all — coding is stateless given the artifact) and
    * lands in its own `batch=<batchId>` partition, so a replayed batch
    * overwrites itself (idempotent) and the assembled store equals the
    * batch coding of the whole corpus — q295 gates exactly that
    * equality against the training unroll's final codes.
    */
  def pqCodesMaintain(spark: SparkSession, sourceDir: String,
                      schema: StructType, idCol: String, vecCol: String,
                      books: DataFrame, m: Int, storePath: String,
                      checkpointDir: String,
                      maxFilesPerTrigger: Int = 1): Unit =
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        graft.ops.Similarity.pqCode(batch, col(idCol), col(vecCol), books, m)
          .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    }

  /** Streaming chunk-store maintenance — sub-document dedup on INGEST:
    * each micro-batch's documents chunk via
    * [[graft.ops.TextAnalysis.contentChunks]] and their distinct chunk
    * hashes union into the persisted store ([[foldVersion]]'s
    * versioned-overwrite protocol, so replay is idempotent). Because set
    * union is commutative, associative and duplicate-insensitive, ANY
    * batch partition of the corpus lands on the batch chunk set EXACTLY
    * — q247 gates the final store row-for-row against the batch oracle.
    * Per batch the cost is chunking the BATCH plus one hash-keyed
    * union-distinct against the store — the day-2 economics that lets
    * chunk-grain dedup ([[graft.ops.Dedup.chunkOverlapPairs]]) run
    * incrementally: a new document's novelty is one anti-join against
    * this store, never a corpus rechunk.
    */
  def chunkStoreMaintain(spark: SparkSession, sourceDir: String,
                         schema: StructType, idCol: String, textCol: String,
                         statePath: String, checkpointDir: String,
                         window: Int = 16, modulus: Int = 64,
                         maxFilesPerTrigger: Int = 1): Unit =
    drainFiles(spark, sourceDir, schema, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        foldVersion(batch.sparkSession, statePath, batchId,
            chunkStoreSchema) { prior =>
          prior.unionByName(graft.ops.TextAnalysis.contentChunks(
              batch, col(idCol), col(textCol), window, modulus)
            .select(col("chunk_hash"))).distinct()
        }
    }

  private val chunkStoreSchema =
    StructType(Seq(StructField("chunk_hash", StringType)))

  /** Latest landed chunk store under [[chunkStoreMaintain]]'s state dir
    * (the empty store when no batch landed — the empty law).
    */
  def latestChunkStore(spark: SparkSession, statePath: String): DataFrame =
    latestState(spark, statePath, chunkStoreSchema)

  /** [[knnGraphMaintain]]'s graph schema, from the source schema: the
    * id type twice (node, nbr), the score, the rank. Declared rather than
    * inferred so rowless state dirs stay readable.
    */
  private def knnGraphSchema(source: StructType,
                             idCol: String): StructType =
    StructType(Seq(
      StructField("node", source(idCol).dataType),
      StructField("nbr", source(idCol).dataType),
      StructField("cosine", DoubleType),
      StructField("rank", LongType)))

  /** Latest landed graph version under [[knnGraphMaintain]]'s state dir.
    * `sourceSchema` + `idCol` (the maintain call's own arguments) let the
    * read succeed even when the latest version landed from an empty batch
    * (no part files to infer from).
    */
  def latestKnnGraph(spark: SparkSession, statePath: String,
                     sourceSchema: StructType, idCol: String): DataFrame = {
    val graphDir = s"$statePath/graph"
    val v = latestVersion(spark, graphDir)
    require(v.nonEmpty, s"no graph versions under $graphDir")
    spark.read.schema(knnGraphSchema(sourceSchema, idCol))
      .parquet(s"$graphDir/v${v.get}")
  }
}
