package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.streaming.EventStreams

/** Drives the REAL Structured Streaming path (readStream → watermark →
  * window agg → memory sink) over the bounded fixture directory and checks
  * batch/stream parity against the oracled batch computation.
  */
class StreamingSpec extends SparkTestBase {

  /** The state-store override the RocksDB tests run their streams under,
    * on a child session: the shared test session keeps its provider. */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def eventsDir = {
    // file-source streams read directories; stage the single fixture file
    val dir = java.nio.file.Paths.get(Graft.scratch("events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling window == batch tumbling window (parity)") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val agg = EventStreams.tumblingCounts(stream, "10 minutes", "1 hour")
    val got = EventStreams.runToMemory(agg, "t_tumbling", "append")
      .select(col("bucket_start").cast("timestamp").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // append mode emits only watermark-closed windows; bounded input closes
    // all but the trailing window(s)
    assert(got.nonEmpty)
    assert(got.subsetOf(batch))
    assert(got.size >= batch.size - 10)
  }

  test("streaming session windows produce rows under watermark") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val sess = EventStreams.userSessions(stream, "30 minutes", "1 hour")
    val got = EventStreams.runToMemory(sess, "t_sessions", "append").collect()
    assert(got.nonEmpty)
  }

  test("flatMapGroupsWithState accumulates per-user profiles across batches") {
    import org.apache.spark.sql.streaming.Trigger
    val stream = EventStreams.readEvents(spark, eventsDir)
    val profiles = EventStreams.userProfiles(stream)
    val q = profiles.writeStream.format("memory").queryName("t_profiles")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // update mode emits one row per key per batch; the LAST row per user is
    // the final state — compare against the batch ground truth
    val got = spark.table("t_profiles")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("n_purchases")).as("n_purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val joined = EventStreams.purchaseClickJoin(stream, windowSeconds = 600,
      watermarkDelay = "1 hour")
    val got = EventStreams.runToMemory(joined, "t_ssj", "append")
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = graft.sources.Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 600 SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bounded input: watermark closes all but the trailing region
    assert(got.nonEmpty && got.subsetOf(want))
    assert(got.size >= want.size / 2)
  }

  test("left-outer stream-stream join emits watermark-finalized unmatched rows") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val joined = EventStreams.purchaseClickJoin(stream, windowSeconds = 600,
      watermarkDelay = "1 hour", joinType = "leftOuter")
    val rows = EventStreams.runToMemory(joined, "t_ssj_lo", "append")
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val matched = rows.collect { case (p, Some(c)) => (p, c) }.toSet
    val unmatched = rows.collect { case (p, None) => p }.toSet

    val ev = graft.sources.Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 600 SECONDS") &&
        col("c_ts") <= col("p_ts"), "left")
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val wantMatched = batch.collect { case (pp, Some(cc)) => (pp, cc) }.toSet
    val wantUnmatched = batch.collect { case (pp, None) => pp }.toSet

    // matched pairs are exact (subset: trailing region past the final
    // watermark never finalizes on bounded input); null-padded rows must
    // be genuinely unmatched AND never also emitted as matched
    assert(matched.nonEmpty && matched.subsetOf(wantMatched))
    assert(unmatched.subsetOf(wantUnmatched), "false unmatched row emitted")
    assert(unmatched.intersect(matched.map(_._1)).isEmpty)
    assert(unmatched.nonEmpty, "outer join emitted no null-padded rows")
  }

  test("stream-static join enriches events with the customer dimension (parity)") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val cust = graft.sources.Tables.customer(spark, sf)
    val enriched = EventStreams.enrichWithCustomer(stream, cust)
    // stateless: append mode with no watermark emits every input row
    val got = EventStreams.runToMemory(enriched, "t_enrich", "append")
      .select(col("event_id"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet

    val want = graft.sources.Tables.events(spark, sf)
      .join(cust.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(got == want)
    assert(got.exists(_._2 != null), "no event matched the dimension")
  }

  test("foreachBatch sink writes each micro-batch exactly once") {
    val out = Graft.scratch("fb_out")
    val ckpt = Graft.scratch("fb_ckpt")
    val stream = EventStreams.readEvents(spark, eventsDir)
      .select(col("event_id"), col("user_id"))
    EventStreams.runForeachBatch(stream, out, ckpt)
    val written = spark.read.parquet(out)
    assert(written.count() == graft.sources.Tables.events(spark, sf).count())
    assert(written.groupBy(col("event_id")).count().filter(col("count") > 1).count() == 0)
  }

  test("checkpoint recovery: restart processes only new files, no dup/loss") {
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Paths.get(Graft.scratch("events_ckpt_src"))
    val ckpt = Graft.scratch("events_ckpt")
    val outDir = Graft.scratch("events_ckpt_out")

    def runOnce(): Unit = {
      val stream = EventStreams.readEvents(spark, src.toString)
        .select(col("event_id"), col("user_id"))
      val q = stream.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // first incarnation sees file A only
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      src.resolve("a.parquet"))
    runOnce()
    val afterA = spark.read.parquet(outDir).count()

    // second incarnation (same checkpoint) sees A again plus new file B (a
    // second copy) — exactly-once means A is NOT reprocessed: the total
    // doubles rather than tripling, and every id appears exactly twice
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      src.resolve("b.parquet"))
    runOnce()
    val afterB = spark.read.parquet(outDir)
    assert(afterB.count() == 2 * afterA)
    assert(afterB.groupBy(col("event_id")).count().filter(col("count") =!= 2).count() == 0)
  }

  test("stateful agg under the RocksDB state store provider (parity + metrics)") {
    // At production state sizes (billions of keys across sessions/dedup
    // state) the default HDFS-backed in-memory provider OOMs; RocksDB spills
    // state to local disk and incrementally checkpoints. Same query, same
    // results — provider choice must be invisible to semantics.
    val rocks = Graft.childSession(spark, RocksDb)
    import org.apache.spark.sql.streaming.Trigger
    val stream = EventStreams.readEvents(rocks, eventsDir)
    val agg = EventStreams.tumblingCounts(stream, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_rocksdb")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progress.nonEmpty, "no stateful progress recorded")
    // the provider actually in use surfaces through its custom metrics
    val metrics = progress.last.stateOperators.head.customMetrics
    assert(metrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb metrics: ${metrics.keySet}")
    val got = rocks.table("t_rocksdb")
      .select(col("bucket_start").cast("timestamp").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    rocks.catalog.dropTempView("t_rocksdb")
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got.subsetOf(batch))
  }

  test("transformWithState (Spark 4 StatefulProcessor) agrees with flatMapGroupsWithState") {
    // the new typed-state API must be a drop-in semantic replacement for
    // the GroupState tier — same inputs, same final per-user profile
    val rocks = Graft.childSession(spark, RocksDb)
    import org.apache.spark.sql.streaming.Trigger
    val stream = EventStreams.readEvents(rocks, eventsDir)
    val q = EventStreams.userProfilesTws(stream)
      .writeStream.format("memory").queryName("t_tws")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = rocks.table("t_tws")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("n_purchases")).as("n_purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    rocks.catalog.dropTempView("t_tws")
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("stream reader path == batch reader path (ts encoding parity)") {
    // Guards the parity suite's foundation: readEvents and Tables.events
    // must agree on the fixture's ts encoding. If the fixture encoding
    // changes (r5: nanos-as-long → timestamp[us]) and only one reader
    // adapts, every event-time test above fails with opaque subset
    // mismatches — this test fails FIRST and names the encoding.
    // peek on the loaders' child session: under a TIMESTAMP(NANOS) fixture
    // a bare read throws PARQUET_TYPE_ILLEGAL before the diagnostic below
    // can fire
    val encoding = Graft.childSession(spark, graft.sources.Tables.nanosAsLong)
      .read.parquet(s"$sf/events.parquet").schema("ts").dataType.simpleString
    val stream = EventStreams.readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts").cast("long").as("ts_s"))
    val got = EventStreams.runToMemory(stream, "t_encoding", "append")
      .agg(count(lit(1)), min(col("ts_s")), max(col("ts_s")), sum(col("ts_s")))
      .collect().head
    val want = graft.sources.Tables.events(spark, sf)
      .select(col("ts").cast(org.apache.spark.sql.types.TimestampType).cast("long").as("ts_s"))
      .agg(count(lit(1)), min(col("ts_s")), max(col("ts_s")), sum(col("ts_s")))
      .collect().head
    assert(got == want,
      s"stream vs batch reader divergence for fixture ts encoding '$encoding': " +
        s"stream (count,min,max,sum)=$got, batch=$want — " +
        "readEvents and Tables.load must dispatch on the SAME footer schema")
  }

  test("a TIMESTAMP(NANOS) events file loads as truncated µs through both readers, session conf unset") {
    // The shipped fixtures store ts as timestamp[us]; write the older
    // TIMESTAMP(NANOS) encoding, which a bare read rejects.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Graft.scratch("events_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val nanos = Seq(1700000000123456789L, 1700000060000000999L, 1700003600999999000L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet")).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("event_type", "click").append("value", 1.0)
        .append("props", "{}"))
    } finally writer.close()
    val bare = intercept[Exception](spark.read.parquet(dir).collect())
    assert(bare.getMessage.contains("PARQUET_TYPE_ILLEGAL"), bare.getMessage)
    // the footer schema the loaders declare is the child session's inferred one
    val nanosReader = Graft.childSession(spark, graft.sources.Tables.nanosAsLong)
    assert(graft.sources.Tables.parquetSchema(nanosReader, dir) ==
      Some(nanosReader.read.parquet(dir).schema))

    def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("ts").cast("timestamp"))).collect().map(_.getLong(0)).toSeq.sorted
    val want = nanos.map(_ / 1000)
    assert(micros(graft.sources.Tables.events(spark, dir)) == want)
    assert(micros(EventStreams.runToMemory(
      EventStreams.readEvents(spark, dir), "t_nanos", "append")) == want)
    assert(spark.conf.getAll.get(graft.sources.Tables.nanosAsLong._1).isEmpty,
      "an events loader wrote nanosAsLong onto the caller's session")
  }

  test("dropDuplicatesWithinWatermark removes duplicate event_ids") {
    val dir = eventsDir
    // duplicate the file → every event appears twice
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir, "events2.parquet"))
    val stream = EventStreams.readEvents(spark, dir)
    val dedup = EventStreams.dedupedEvents(stream, "1 hour")
      .groupBy(col("event_id")).count()
    val got = EventStreams.runToMemory(dedup, "t_dedup", "complete")
    assert(got.filter(col("count") > 1).count() == 0)
  }

  test("timer sessionization: rotation AND timer close paths both emit (q186 construction)") {
    val out = EventStreams.streamSessionGate(spark).collect()
    // 20 users × 2 real sessions, sentinel sessions never emitted
    assert(out.length == 40, s"expected 40 closed sessions, got ${out.length}")
    assert(out.forall(_.getLong(2) == 5L), "every real session has exactly 5 events")
    // odd users receive no sentinel: their SECOND session (start =
    // base + 5·60 + 3600) can only close via handleExpiredTimer firing
    // under the sentinel-advanced watermark — its presence proves the
    // timer path executed, not just in-batch rotation
    val secondStart = 1700000000L + 5 * 60 + 3600
    val oddTimerClosed = out.filter(r =>
      r.getLong(0) % 2 == 1 && r.getLong(1) == secondStart)
    assert(oddTimerClosed.length == 10,
      s"all 10 odd users' final sessions must close via the timer path, got ${oddTimerClosed.length}")
  }
}
