package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY.md §2.10).
  *
  * The same aggregations as StreamQueries run here as actual streams:
  * `readStream` → event-time window/session_window + watermark →
  * `writeStream`. Batch/stream parity means the DuckDB-oracled batch
  * queries validate these semantics; StreamingSpec drives this module with
  * a memory sink and compares against the batch result.
  *
  * Scale notes: watermark state is per-key-and-window in the state store;
  * at 100 TB of events the partition key must be the shuffle key
  * (user_id / window start), watermark delay bounds state size, and
  * `dropDuplicatesWithinWatermark` is the streaming dedup primitive whose
  * state also expires with the watermark.
  */
object EventStreams {

  /** The streaming-side schema, parameterized on the fixture's physical ts
    * encoding (raw nanos long vs plain µs timestamp) — see [[readEvents]].
    */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("ts", tsType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** File-source stream over a directory of events parquet. Watermarks
    * require TIMESTAMP (not NTZ), so ts stays an instant here; under the
    * UTC session timezone it is value-identical to the batch loader's NTZ.
    *
    * The fixture's ts column has shipped in two encodings over time —
    * TIMESTAMP(NANOS) (which Spark only reads as raw longs, via
    * `nanosAsLong`) and plain timestamp[us]. File-source streams need an
    * explicit schema, so peek the footer with a one-off batch read (schema
    * inference only — no data scan) and dispatch exactly like the batch
    * loader (`sources/Tables.scala`). Hard-coding either encoding breaks
    * event time by 1000× when the fixture carries the other one.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // An empty watch directory (start-stream-then-add-files, the pattern
    // the checkpoint-recovery test approximates) has no footer to peek:
    // fall back to the shipped fixtures' encoding (timestamp[us] NTZ).
    val footerTs = try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    footerTs match {
      case LongType => // nanos-as-long fixture: truncate ns → µs like the batch loader
        spark.readStream
          .schema(rawSchema(LongType))
          .parquet(dir)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case other => // timestamp fixture (NTZ µs, or LTZ if UTC-adjusted): declare the
        // footer's OWN type — a mismatched request crashes the vectorized
        // reader mid-batch — then cast to instant (no-op for LTZ; under
        // the UTC session timezone value-identical for NTZ)
        spark.readStream
          .schema(rawSchema(other))
          .parquet(dir)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling event-time counts with a watermark (late data beyond the
    * delay is dropped; state for closed windows is evicted).
    */
  def tumblingCounts(events: DataFrame, width: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user with a gap timeout. */
  def userSessions(events: DataFrame, gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"))

  /** Streaming dedup on event_id bounded by the watermark. */
  def dedupedEvents(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom arbitrary state (SURVEY.md §2.10 mapGroupsWithState tier): a
    * per-user running profile maintained across micro-batches. State lives
    * in the state store keyed by user; event-time timeout would evict idle
    * users in production (left at NoTimeout here for the bounded fixture).
    */
  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserProfile(user_id: Long, n_events: Long, n_purchases: Long, total_value: Double)

  def userProfiles(events: DataFrame): org.apache.spark.sql.Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("event_type"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserProfile, UserProfile](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[UserProfile]) =>
          val prev = state.getOption.getOrElse(UserProfile(uid, 0L, 0L, 0.0))
          val next = evs.foldLeft(prev) { (p, e) =>
            UserProfile(uid, p.n_events + 1,
              p.n_purchases + (if (e.event_type == "purchase") 1 else 0),
              p.total_value + e.value)
          }
          state.update(next)
          Iterator(next)
      }
  }

  /** Spark-4-native arbitrary state (transformWithState): the same per-user
    * profile as [[userProfiles]] but through the [[StatefulProcessor]] API —
    * typed named state handles (ValueState here; ListState/MapState and
    * per-key timers in general), declared TTL instead of hand-rolled
    * timeout logic, and schema-evolution-capable state encoding. Requires
    * the RocksDB state store provider. Emitting both implementations and
    * asserting they agree (StreamingSpec) pins the migration path.
    */
  class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserProfile] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserProfile] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserProfile]("profile",
        org.apache.spark.sql.Encoders.product[UserProfile], TTLConfig.NONE)
    override def handleInputRows(
        uid: Long,
        rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserProfile] = {
      val prev = if (state.exists()) state.get() else UserProfile(uid, 0L, 0L, 0.0)
      val next = rows.foldLeft(prev) { (p, e) =>
        UserProfile(uid, p.n_events + 1,
          p.n_purchases + (if (e.event_type == "purchase") 1 else 0),
          p.total_value + e.value)
      }
      state.update(next)
      Iterator.single(next)
    }
  }

  def userProfilesTws(events: DataFrame): org.apache.spark.sql.Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id"), col("event_type"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[UserProfile])
  }

  /** Stream-stream interval join: each purchase is enriched with clicks of
    * the same user in the preceding `windowSeconds`. Both sides carry
    * watermarks and the join condition bounds event time on BOTH ends, so
    * the state store can evict rows once the watermark passes — the
    * canonical bounded-state stream-stream join shape. `joinType`
    * "leftOuter" emits unmatched purchases too — null-padded rows are
    * produced only once the watermark proves no matching click can still
    * arrive (the outer variant is exactly why the time bounds are
    * mandatory: without them unmatched state could never be finalized).
    */
  def purchaseClickJoin(
      events: DataFrame,
      windowSeconds: Long,
      watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), col("value").as("c_value"))
      .withWatermark("c_ts", watermarkDelay)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Stream-static join: enrich the event stream with a static dimension
    * (customer). No state store is involved — Spark re-plans the static
    * side each micro-batch (so a refreshed dim table is picked up) and
    * broadcasts it when small; this is the standard slowly-changing-
    * dimension enrichment shape, complementary to the stateful
    * stream-stream join above. Left join keeps events whose user has no
    * dimension row (stream-static left-outer needs no watermark: the
    * static side never makes a stream row "late").
    */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"), "left")
      .drop("c_custkey")

  /** foreachBatch sink: the escape hatch for arbitrary batch-writer logic
    * per micro-batch (upserts, multi-sink fanout). foreachBatch itself is
    * AT-LEAST-ONCE (a batch can replay after a failure between the data
    * write and the checkpoint commit), so the writer must be idempotent:
    * each batch dynamically OVERWRITES its own batch_id partition — a
    * replayed batch rewrites the same partition instead of appending dups.
    */
  def runForeachBatch(df: DataFrame, outDir: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Event-time-timer sessionization (the §2.10 timer tier of
    * transformWithState, complementing [[UserProfileProcessor]]'s
    * NoTimeout ValueState): per-user sessions close EITHER when a
    * later event exceeds the gap (in-batch rotation — the fast path,
    * since with a short watermark delay the next session's first event
    * usually arrives before the watermark passes the old session's
    * expiry) OR when the event-time watermark passes last+gap with no
    * successor (the timer path — the only way a user's FINAL session
    * ever closes on an unbounded stream). Every input batch re-arms the
    * user's single timer (listTimers → deleteTimer → registerTimer), so
    * no stale timer can fire against a newer session; the expiry guard
    * in [[handleExpiredTimer]] is defense in depth.
    *
    * Scale: state is one (start,last,n) triple per ACTIVE user, sharded
    * by the shuffle key and freed on session close — the bounded-state
    * contract that keeps unbounded sessionization viable; timers live in
    * the same keyed state store.
    */
  case class SessEvent(user_id: Long, ts_s: Long)
  case class SessState(start_s: Long, last_s: Long, n: Long)
  case class SessionRow(user_id: Long, session_start_s: Long, n: Long, last_s: Long)

  class SessionTimerProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEvent, SessionRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessState]("session",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[SessEvent],
        timerValues: TimerValues): Iterator[SessionRow] = {
      // intra-batch arrival order is not a contract: sort this user's
      // slice by event time before folding (a batch is bounded by design)
      val evs = rows.toSeq.sortBy(_.ts_s)
      val closed = scala.collection.mutable.ArrayBuffer[SessionRow]()
      var cur = if (state.exists()) Option(state.get()) else None
      evs.foreach { e =>
        cur match {
          case Some(c) if e.ts_s - c.last_s <= gapSeconds =>
            cur = Some(SessState(c.start_s, e.ts_s, c.n + 1))
          case Some(c) => // gap exceeded: rotate, emit the closed session
            closed += SessionRow(uid, c.start_s, c.n, c.last_s)
            cur = Some(SessState(e.ts_s, e.ts_s, 1))
          case None =>
            cur = Some(SessState(e.ts_s, e.ts_s, 1))
        }
      }
      cur.foreach { c =>
        state.update(c)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((c.last_s + gapSeconds) * 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(
        uid: Long,
        timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionRow] = {
      if (state.exists()) {
        val c = state.get()
        // guard: only close if THIS session's expiry is what fired (a
        // stale timer against a rotated session must be a no-op)
        if ((c.last_s + gapSeconds) * 1000L <= expired.getExpiryTimeInMs) {
          state.clear()
          return Iterator.single(SessionRow(uid, c.start_s, c.n, c.last_s))
        }
      }
      Iterator.empty
    }
  }

  /** Timer-based sessionization through the REAL micro-batch engine,
    * driver-gated like [[streamDedupGate]]. The deterministic construction:
    * 20 users × 10 real rounds (one event per user per round; 60 s between
    * rounds, +1 h every 5th round ⇒ exactly two 5-event sessions per user
    * with a 30 min gap rule), then two sentinel rounds carried by EVEN
    * users only (far-future timestamps, 60 s apart so they extend one
    * still-open sentinel session and never rotate). The sentinels exist to
    * advance the GLOBAL event-time watermark: even users' final real
    * session closes by in-batch rotation when sentinel-1 arrives, while
    * odd users — who never see another event, the unbounded-stream
    * endgame — close via [[SessionTimerProcessor]]'s registered timer
    * when batch 3 runs under the sentinel-advanced watermark. Both close
    * paths therefore execute, and the emitted set is EXACTLY the 40 real
    * sessions, which the DuckDB oracle recomputes from the same id
    * arithmetic (sentinel sessions stay open and are never emitted).
    *
    * rowsPerBatch=110 pins the batch layout: [0,110) real rounds 0–5,
    * [110,220) rounds 5–9 + sentinel-1, [220,240) sentinel-2 — the batch
    * that runs AFTER the watermark jump and fires the odd users' timers.
    */
  def streamSessionGate(spark: SparkSession, users: Long = 20): DataFrame = {
    import spark.implicits._
    // transformWithState keeps timers in their own column family — only
    // the RocksDB provider supports that (the HDFS-backed default hard-
    // rejects it), so this gate's session also overrides the provider
    val raw = gateSession(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", (users * 12).toString)
      .option("rowsPerBatch", (users * 11 / 2).toString)
      .load()
    val ev = raw
      .select((col("id") % users).as("user_id"), expr(s"id div $users").as("round"))
      // sentinel rounds (10, 11) ride with even users only; odd users'
      // sentinel ids are dropped BEFORE the watermark so they influence
      // nothing
      .filter(!(col("round") >= 10 && col("user_id") % 2 === 1))
      .select(col("user_id"),
        when(col("round") < 10,
          lit(1700000000L) + col("round") * 60 + expr("round div 5") * 3600)
          .otherwise(lit(1700000000L + 315360000L) + (col("round") - 10) * 60)
          .as("ts_s"))
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .withWatermark("ts", "10 seconds")
      .select(col("user_id"), col("ts_s")).as[SessEvent]
    val sessions = ev.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapSeconds = 1800L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SessionRow])
    runToMemoryDetached(sessions.toDF(), "stream_sessions", "append")(
      _.orderBy(col("user_id").asc, col("session_start_s").asc))
  }

  /** The session a BOUNDED gate stream runs on (r9, guide §2.2/§1.2-3): a
    * cached child of `spark` (`graft.Graft.childSession`) with
    * `spark.sql.shuffle.partitions = min(8, parallelism)`, plus `extra`
    * overrides. A stateful streaming operator creates ONE state-store
    * instance per shuffle partition (pinned into the checkpoint at first
    * start), and every micro-batch pays a load+commit per instance. The
    * gate streams carry ≤ a few hundred rows over ≤ ~100 keys by
    * construction, so at `spark.sql.shuffle.partitions = 32` the per-batch
    * state-store machinery outweighs the data by orders of magnitude — 3
    * batches × 32 RocksDB/HDFS store commits for 100 keys. The cap of 8 is
    * generous for ≤100-key state at ANY core count, and a constant because
    * only these bounded gates use it; an unbounded stream sizes its state
    * shards from its own key volume. Results are partitioning-independent
    * (state sharding only moves keys between stores). The gate's
    * batch-side post-processing plans on the same child: it is
    * gate-output-sized.
    */
  def gateSession(spark: SparkSession, extra: (String, String)*): SparkSession =
    graft.Graft.childSession(spark, ("spark.sql.shuffle.partitions" ->
      math.min(8, spark.sparkContext.defaultParallelism).toString) +: extra: _*)

  /** Run a streaming query over a bounded directory to completion using the
    * memory sink; returns the materialized result. Test/driver utility —
    * production sinks are writeStream.parquet/kafka with checkpoints.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }

  // memory-sink query names must be unique per ACTIVE query; each gated
  // stream runs once per Bench round in one session, so each run takes
  // a fresh name from this shared counter
  private val gateRunN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** [[runToMemory]] plus the suite-hygiene tail EVERY streaming gate
    * needs (one authoritative copy — the idiom previously lived in
    * three places): unique per-run sink name, caller's projection/
    * ordering applied via `post`, result DETACHED from the memory sink
    * by an eager localCheckpoint, and the temp view dropped immediately
    * — a long bench session would otherwise accumulate one table per
    * execution, unbounded. The checkpoint blocks are gate-output-sized
    * and reclaimed by Bench.dropLeftoverBlocks after the query.
    */
  def runToMemoryDetached(df: DataFrame, namePrefix: String,
      outputMode: String)(post: DataFrame => DataFrame): DataFrame = {
    val name = s"${namePrefix}_${gateRunN.incrementAndGet()}"
    val spark = df.sparkSession
    val sunk = post(runToMemory(df, name, outputMode))
    val out = sunk.localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** `dropDuplicatesWithinWatermark` through the REAL micro-batch engine,
    * driver-gated (VERDICT r4 #4). The operator hard-rejects batch frames,
    * so — unlike q136/q139–q141's batch-parity gates — the streaming
    * EXECUTION itself runs here: [[graft.sources.GraftStreamSource]] emits
    * `totalRows` offset rows in `rowsPerBatch`-sized micro-batches
    * (offset-ordered, checkpointed, the same admission-control path
    * ConnectorSpec restarts), each row becomes an event with
    * `event_id = id % keySpace` and an event time inside one watermark
    * window, and the engine's dedup state store suppresses every
    * re-occurrence across batches. The batch-checkable ARTIFACT is the
    * surviving set: first occurrence per key = `min(id)` over the same
    * offsets, which the DuckDB oracle recomputes relationally.
    *
    * Determinism: `rowsPerBatch == keySpace`, so batch 0 carries each key
    * exactly once (no intra-batch same-key race — arrival order inside a
    * shuffled micro-batch is not a contract) and every later batch is all
    * duplicates; micro-batches commit in offset order.
    *
    * Scale: dedup state is one entry per key in the state store, sharded
    * by the shuffle key, and the watermark EXPIRES entries — unbounded
    * streams hold state only for the delay window, the property that makes
    * this the 100 TB streaming-ingest dedup primitive.
    */
  def streamDedupGate(
      spark: SparkSession,
      totalRows: Long = 300,
      keySpace: Long = 100): DataFrame = {
    val raw = gateSession(spark).readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", totalRows.toString)
      .option("rowsPerBatch", keySpace.toString)
      .load()
    val events = raw.select(
      col("id"),
      (col("id") % keySpace).as("event_id"),
      // event times all inside one watermark window: every duplicate is
      // within-watermark, so exactly one row per key must survive
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"))
    val dedup = events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runToMemoryDetached(dedup, "stream_dedup", "append")(
      _.select(col("event_id"), col("id").as("first_id"),
          (col("id") * 7).as("v")) // v = id·7 is the source's row contract
        .orderBy(col("event_id").asc))
  }

  /** Streaming URL-canonicalization dedup (q230): the crawl-frontier
    * composition — messy URLs arrive continuously, the canonical key
    * ([[graft.functions.TextFunctions.canonicalizeUrl]], a pure projected
    * expression, streaming-legal by construction) is computed in-flight,
    * and `dropDuplicatesWithinWatermark` keeps the FIRST arrival per
    * canonical key. The three batches present the SAME canonical key in
    * three DIFFERENT messy spellings (case-mangled host + www., explicit
    * :443 + a utm param, trailing root-dot + trailing slash + fragment) —
    * the dedup must fold them despite no two raw strings matching.
    * Determinism: rowsPerBatch == keySpace, so batch 0 carries each key
    * exactly once and every survivor is id == k; batches commit in offset
    * order. Scale: state is one entry per canonical key, watermark-expired.
    */
  /** STREAMING ingest into the TRANSACTIONAL table (q267): the real
    * micro-batch engine drives foreachBatch, each batch lands through
    * [[graft.sources.TxLog.idempotentAppend]] with its (appId, batchId)
    * txn action, and a DELIBERATE replay of batch 0 afterwards — the
    * at-least-once re-delivery every checkpointed sink must survive —
    * must change nothing. Exactly-once table state = at-least-once
    * delivery + idempotent transactional commit, the composition this
    * gate pins end-to-end (stream source → micro-batches → commit log →
    * snapshot read). Scale: each micro-batch is one O(batch) distributed
    * parquet write + one O(1) driver-side log entry; replay suppression
    * is a map lookup in the snapshot, never a dedup scan of the table.
    */
  def streamTxLogGate(
      spark: SparkSession,
      dir: String,
      totalRows: Long = 300,
      rowsPerBatch: Long = 100): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txsink_ckpt").toString
    val raw = gateSession(spark).readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", totalRows.toString)
      .option("rowsPerBatch", rowsPerBatch.toString)
      .load()
    val rows = raw.select(col("id"), (col("id") % 7).as("k"))
    val q = rows.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.TxLog.idempotentAppend(
          batch.sparkSession, dir, batch, "q267_sink", batchId)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // the restart/at-least-once case the idempotent sink exists for:
    // re-deliver batch 0 verbatim — the table must not change
    val replay = spark.range(0, rowsPerBatch).toDF("id")
      .select(col("id"), (col("id") % 7).as("k"))
    graft.sources.TxLog.idempotentAppend(spark, dir, replay, "q267_sink", 0L)
    graft.sources.TxLog.read(spark, dir)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
      .orderBy(col("k").asc)
  }

  def streamCanonicalGate(
      spark: SparkSession,
      totalRows: Long = 300,
      keySpace: Long = 100): DataFrame = {
    val raw = gateSession(spark).readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", totalRows.toString)
      .option("rowsPerBatch", keySpace.toString)
      .load()
    val k = (col("id") % keySpace).cast("string")
    val messy = when(col("id") < keySpace,
        concat(lit("https://www.Host"), k, lit(".Example.com/p/"), k, lit("?a=1")))
      .when(col("id") < 2 * keySpace,
        concat(lit("HTTPS://HOST"), k, lit(".EXAMPLE.COM:443/p/"), k,
          lit("?utm_src=x&a=1")))
      .otherwise(
        concat(lit("https://host"), k, lit(".example.com./p/"), k, lit("/?a=1#f")))
    val urls = raw.select(
      col("id"),
      graft.functions.TextFunctions.canonicalizeUrl(messy).as("canonical_url"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"))
    val dedup = urls
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("canonical_url")
    runToMemoryDetached(dedup, "stream_canonical", "append")(
      _.select(col("canonical_url"), col("id").as("first_id"))
        .orderBy(col("first_id").asc))
  }

  /** STREAMING vector dedup by PQ code (q256): the q244 encoder is a
    * pure projection (the codebook rides the plan as a constant), so it
    * is streaming-legal by construction — each arriving embedding is
    * quantized map-side and `dropDuplicatesWithinWatermark` keys its
    * state on the CODE SIGNATURE, not the vector: per-key state is the
    * ~m-byte code instead of dims·4 floats, the 32× state cut that makes
    * streaming near-dup ingest admission control feasible at all.
    * Vectors are the dyadic md5 formula of `id % keySpace`, so batch 0
    * (rowsPerBatch == keySpace) presents each distinct vector exactly
    * once and later batches are all duplicates — survivors are batch 0's
    * rows, and the oracle replays vector → codes → signature → first-id
    * relationally (the q230 determinism argument; the 100 formula
    * vectors map to 100 DISTINCT signatures, so no intra-batch
    * first-arrival race exists).
    */
  def streamPqGate(
      spark: SparkSession,
      totalRows: Long = 300,
      keySpace: Long = 100): DataFrame = {
    val raw = gateSession(spark).readStream.format("graft.sources.GraftStreamSource")
      .option("maxRows", totalRows.toString)
      .option("rowsPerBatch", keySpace.toString)
      .load()
    val k = (col("id") % keySpace).cast("string")
    val vec = transform(sequence(lit(0), lit(63)), dd =>
      ((graft.functions.TextFunctions.md5Hash60(
        concat(lit("sv:"), k, lit(":"), dd.cast("string"))) % 2001) - 1000)
        .cast("double") / 1024.0)
    val encoded = raw.select(
      col("id"),
      concat_ws(",", transform(
        graft.functions.Similarity.pqEncode(vec, 64, 8, 16),
        c => c.cast("string"))).as("code_sig"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"))
    val dedup = encoded
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("code_sig")
    runToMemoryDetached(dedup, "stream_pq", "append")(
      _.select(col("code_sig"), col("id").as("first_id"))
        .orderBy(col("first_id").asc))
  }
}
