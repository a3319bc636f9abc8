package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** The transactional-table-format contracts: snapshot isolation,
  * optimistic concurrency (the create-no-overwrite primitive), schema
  * enforcement, time travel, torn-log honesty, checkpoint-bounded
  * replay, metadata-only counts, and vacuum retention.
  */
class TxLogSpec extends SparkTestBase {
  import spark.implicits._

  /** A table path whose directory does not exist yet. */
  private def freshDir(): String = s"${Graft.scratch("txlog")}/table"

  private def batch(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("id", "s")

  test("append/overwrite/read: versions accumulate, overwrite replaces") {
    val dir = freshDir()
    assert(TxLog.append(spark, dir, batch(0, 10)) == 1L)
    assert(TxLog.append(spark, dir, batch(10, 15)) == 2L)
    assert(TxLog.read(spark, dir).count() == 15L)
    assert(TxLog.overwrite(spark, dir, batch(100, 103)) == 3L)
    val rows = TxLog.read(spark, dir).select(col("id")).as[Long].collect().sorted
    assert(rows.toSeq == Seq(100L, 101L, 102L))
    assert(TxLog.append(spark, dir, batch(200, 202)) == 4L)
    assert(TxLog.read(spark, dir).count() == 5L)
  }

  test("time travel reads every historical version exactly") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 4))
    TxLog.append(spark, dir, batch(4, 9))
    TxLog.overwrite(spark, dir, batch(50, 52))
    assert(TxLog.read(spark, dir, Some(1L)).count() == 4L)
    assert(TxLog.read(spark, dir, Some(2L)).count() == 9L)
    assert(TxLog.read(spark, dir, Some(3L)).count() == 2L)
    // version 0 is the empty table; asOf beyond HEAD is HEAD
    assert(TxLog.read(spark, dir, Some(0L)).count() == 0L)
    assert(TxLog.read(spark, dir, Some(99L)).count() == 2L)
  }

  test("metadata-only row count matches the scan count at every version") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 7))
    TxLog.append(spark, dir, batch(7, 20))
    TxLog.overwrite(spark, dir, batch(0, 3))
    for (v <- 1L to 3L)
      assert(TxLog.rowCount(spark, dir, Some(v)) == TxLog.read(spark, dir, Some(v)).count(),
        s"version $v")
  }

  test("schema enforcement: append rejects drift, overwrite may change it") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 3))
    val drifted = Seq((1L, 2.5)).toDF("id", "score")
    assertThrows[IllegalArgumentException] { TxLog.append(spark, dir, drifted) }
    // the failed append must not have committed anything
    assert(TxLog.snapshot(spark, dir).version == 1L)
    TxLog.overwrite(spark, dir, drifted) // full replace: new schema is legal
    assert(TxLog.read(spark, dir).schema.fieldNames.toSeq == Seq("id", "score"))
    TxLog.append(spark, dir, Seq((2L, 3.5)).toDF("id", "score")) // now conforms
    assert(TxLog.read(spark, dir).count() == 2L)
  }

  test("optimistic concurrency: parallel appends all land, none lost") {
    val dir = freshDir()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = TxLog.append(spark, dir, batch(t * 100, t * 100 + 10))
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions == (1L to 8L), s"got $versions") // distinct, contiguous
      assert(TxLog.read(spark, dir).count() == 80L)    // no lost update
      assert(TxLog.rowCount(spark, dir) == 80L)
    } finally pool.shutdown()
  }

  test("torn log entries: final is uncommitted, non-final fails loudly") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 5))
    TxLog.append(spark, dir, batch(5, 8))
    // a crashed writer's torn FINAL entry: readers ignore it
    val torn = java.nio.file.Paths.get(dir, "_txlog", f"${3L}%020d.json")
    java.nio.file.Files.write(torn, "{\"version\":3,".getBytes)
    assert(TxLog.snapshot(spark, dir).version == 2L)
    assert(TxLog.read(spark, dir).count() == 8L)
    // a writer colliding with the torn slot must not silently overwrite it
    assertThrows[IllegalStateException] { TxLog.append(spark, dir, batch(8, 9)) }
    // torn NON-final: version 4 lands after the torn 3 → corrupt table
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_txlog", f"${4L}%020d.json"), "also torn".getBytes)
    assertThrows[IllegalStateException] { TxLog.snapshot(spark, dir) }
  }

  test("checkpoint bounds replay; vacuum honors retention, grace, and refuses vacuumed versions") {
    val dir = freshDir()
    for (i <- 0 until TxLog.CheckpointInterval) // versions 1..10 → checkpoint at 10
      TxLog.append(spark, dir, batch(i * 10, i * 10 + 10))
    val ckpt = java.nio.file.Paths.get(dir, "_txlog",
      f"${TxLog.CheckpointInterval.toLong}%020d.checkpoint.json")
    assert(java.nio.file.Files.exists(ckpt), "checkpoint not written")
    assert(TxLog.read(spark, dir).count() == 100L)
    // overwrite (v11) makes all 10 earlier data dirs dead at HEAD — but
    // the v10 checkpoint still references them: RETENTION must keep them
    // so time travel back to the checkpoint works after the vacuum
    TxLog.overwrite(spark, dir, batch(0, 5))
    assert(TxLog.vacuum(spark, dir, graceMs = 0L) == 0L,
      "vacuum deleted files a retained version still references")
    assert(TxLog.read(spark, dir, Some(10L)).count() == 100L)
    // advance past a SECOND checkpoint (v12..v20): the old files fall
    // out of retention — but the GRACE window still protects young files
    // (they could be an in-flight commit's not-yet-referenced data)
    for (i <- 0 until 9) TxLog.append(spark, dir, batch(300 + i, 301 + i))
    assert(TxLog.vacuum(spark, dir, graceMs = 3600L * 1000L) == 0L,
      "vacuum ignored the grace window")
    val removed = TxLog.vacuum(spark, dir, graceMs = 0L)
    assert(removed > 0L, "vacuum removed nothing past retention")
    assert(TxLog.read(spark, dir).count() == 14L) // 5 + 9 singles
    assert(TxLog.read(spark, dir, Some(20L)).count() == 14L) // the checkpoint version reads
    // a pre-retention version refuses LOUDLY — reading it as empty would
    // be silent data loss
    assertThrows[IllegalStateException] { TxLog.read(spark, dir, Some(10L)) }
  }

  test("merge: updates replace, inserts land, untouched rows intact") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 10))
    val src = Seq((3L, "UPDATED3"), (7L, "UPDATED7"), (100L, "NEW100")).toDF("id", "s")
    val v = TxLog.merge(spark, dir, src, "id")
    assert(v == 2L)
    val rows = TxLog.read(spark, dir).as[(Long, String)].collect().toMap
    assert(rows.size == 11)
    assert(rows(3L) == "UPDATED3" && rows(7L) == "UPDATED7" && rows(100L) == "NEW100")
    assert(rows(0L) == "v0" && rows(9L) == "v9")
    // time travel still sees the pre-merge state
    assert(TxLog.read(spark, dir, Some(1L)).as[(Long, String)].collect().toMap.apply(3L) == "v3")
    // empty source is a no-op at the same version
    assert(TxLog.merge(spark, dir, batch(0, 0), "id") == 2L)
    // a NON-empty source whose key is all NULL must fail loudly — a
    // silent no-op would discard every update (review r9 finding)
    val nullKey = batch(0, 1).select(lit(null).cast("long").as("id"), col("s"))
    assertThrows[IllegalArgumentException] { TxLog.merge(spark, dir, nullKey, "id") }
  }

  test("merge prunes by file stats: files outside the source key range survive by reference") {
    val dir = freshDir()
    // three single-file commits with disjoint key ranges (tight footer stats)
    for (b <- 0 until 3)
      TxLog.append(spark, dir, batch(b * 10, b * 10 + 10).repartition(1))
    val before = TxLog.snapshot(spark, dir)
    assert(before.files.size == 3)
    // a merge touching only keys 0–3 must rewrite ONLY the first file
    TxLog.merge(spark, dir, Seq((2L, "U")).toDF("id", "s"), "id")
    val after = TxLog.snapshot(spark, dir)
    val survivors = before.files.toSet.intersect(after.files.toSet)
    assert(survivors.size == 2, s"untouched files rewritten: kept $survivors")
    assert(TxLog.read(spark, dir).count() == 30L)
    assert(TxLog.read(spark, dir).filter(col("id") === 2L).as[(Long, String)].head()._2 == "U")
  }

  test("readPruned skips files by logged stats and matches the plain filtered read") {
    val dir = freshDir()
    for (b <- 0 until 4)
      TxLog.append(spark, dir, batch(b * 100, b * 100 + 50).repartition(1))
    val pruned = TxLog.readPruned(spark, dir, "id", 100L, 149L)
    val plain = TxLog.read(spark, dir).filter(col("id").between(100L, 149L))
    assert(pruned.as[(Long, String)].collect().sorted.toSeq ==
      plain.as[(Long, String)].collect().sorted.toSeq)
    // the pruned scan opens ONE file; the plain read opens all four
    assert(pruned.inputFiles.length == 1, s"pruning failed: ${pruned.inputFiles.length} files")
    assert(TxLog.read(spark, dir).inputFiles.length == 4)
  }

  test("merge aborts loudly when a concurrent commit takes its version") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 5))
    // the race, made deterministic through the snapshot-explicit seam:
    // take the snapshot, let a competitor commit, then try to publish a
    // merge computed against the now-stale snapshot
    val stale = TxLog.snapshot(spark, dir)
    TxLog.append(spark, dir, batch(5, 7)) // the competitor
    assertThrows[java.util.ConcurrentModificationException] {
      TxLog.mergeAt(spark, dir, Seq((1L, "U")).toDF("id", "s"), "id", stale)
    }
    // the table is unharmed: the competitor's commit is the state and
    // the stale rewrite never published
    assert(TxLog.read(spark, dir).count() == 7L)
    assert(TxLog.read(spark, dir).as[(Long, String)].collect().toMap.apply(1L) == "v1")
  }

  test("idempotentAppend: replays and stale batches are no-ops, apps are independent") {
    val dir = freshDir()
    assert(TxLog.idempotentAppend(spark, dir, batch(0, 5), "appA", 0L) == 1L)
    assert(TxLog.idempotentAppend(spark, dir, batch(5, 8), "appA", 1L) == 2L)
    // exact replay of batch 1: no-op at the same version
    assert(TxLog.idempotentAppend(spark, dir, batch(5, 8), "appA", 1L) == 2L)
    // a STALE batch (restart replaying from an old offset): also a no-op
    assert(TxLog.idempotentAppend(spark, dir, batch(0, 5), "appA", 0L) == 2L)
    assert(TxLog.read(spark, dir).count() == 8L)
    // a different app's batch 0 is independent and commits
    assert(TxLog.idempotentAppend(spark, dir, batch(100, 102), "appB", 0L) == 3L)
    assert(TxLog.read(spark, dir).count() == 10L)
    assert(TxLog.snapshot(spark, dir).txns == Map("appA" -> 1L, "appB" -> 0L))
    // the high-water marks survive a checkpoint: force one, then replay
    for (i <- 0 until TxLog.CheckpointInterval)
      TxLog.append(spark, dir, batch(200 + i, 201 + i))
    val n = TxLog.read(spark, dir).count()
    assert(TxLog.idempotentAppend(spark, dir, batch(5, 8), "appA", 1L) ==
      TxLog.snapshot(spark, dir).version) // still a no-op post-checkpoint
    assert(TxLog.read(spark, dir).count() == n)
  }

  test("optimize clusters files: content identical, pruning becomes sharp, feed-silent") {
    val dir = freshDir()
    // interleaved appends: every file spans the whole key range, so
    // range pruning is blunt (all files open)
    for (b <- 0 until 4)
      TxLog.append(spark, dir,
        (0 until 400 by 4).map(i => ((i + b).toLong, s"v${i + b}")).toDF("id", "s")
          .repartition(1))
    val before = TxLog.read(spark, dir).as[(Long, String)].collect().sorted.toSeq
    assert(TxLog.readPruned(spark, dir, "id", 0L, 49L).inputFiles.length == 4)
    val v = TxLog.optimize(spark, dir, Seq("id"), targetFiles = 8)
    val after = TxLog.read(spark, dir).as[(Long, String)].collect().sorted.toSeq
    assert(after == before, "optimize changed table content")
    val opened = TxLog.readPruned(spark, dir, "id", 0L, 49L).inputFiles.length
    assert(opened <= 2, s"pruning still blunt after optimize: $opened files")
    // layout-only: the change feed is empty across an optimize
    assert(TxLog.changes(spark, dir, v - 1, v).count() == 0L)
  }

  test("change feed: inserts, overwrite delete+insert, windows, merge pairs") {
    val dir = freshDir()
    TxLog.append(spark, dir, batch(0, 5))        // v1: +5
    TxLog.append(spark, dir, batch(5, 8))        // v2: +3
    TxLog.overwrite(spark, dir, batch(100, 102)) // v3: -8 +2
    val got = TxLog.changes(spark, dir, 0L, 3L)
      .groupBy(col("_version"), col("_change_type")).count()
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "insert", 5L), (2L, "insert", 3L),
      (3L, "delete", 8L), (3L, "insert", 2L)))
    // windowed feed
    assert(TxLog.changes(spark, dir, 1L, 2L).count() == 3L)
    assert(TxLog.changes(spark, dir, 3L, 3L).count() == 0L) // empty window
    // merge: the update appears as its delete+insert pair
    TxLog.merge(spark, dir, Seq((100L, "U")).toDF("id", "s"), "id") // v4
    val m = TxLog.changes(spark, dir, 3L, 4L).as[(Long, String, String, Long)].collect()
    assert(m.exists { case (id, s2, ct, _) => id == 100L && s2 == "U" && ct == "insert" })
    assert(m.exists { case (id, s2, ct, _) => id == 100L && s2 == "v100" && ct == "delete" })
  }

  test("empty and absent tables read as zero rows, never a crash") {
    val dir = freshDir()
    assert(TxLog.read(spark, dir).count() == 0L)
    assert(TxLog.snapshot(spark, dir).version == 0L)
    assert(TxLog.rowCount(spark, dir) == 0L)
  }
}
