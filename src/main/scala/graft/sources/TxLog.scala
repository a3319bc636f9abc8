package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count => scount, lit, max => smax, min => smin}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Minimal Delta-style TRANSACTIONAL table format over parquet — the
  * table-format-transactionality gap the r8 verdict ranked top-3 among
  * remaining engine deltas. Spark-first: data IO is ordinary distributed
  * parquet; only the COMMIT LOG — kilobytes of JSON per commit — touches
  * the driver, so the design carries to 100 TB unchanged (the log is
  * O(commits), never O(data); checkpoints bound replay to O(files)).
  *
  * Layout: `<table>/_txlog/<v%020d>.json` log entries + a full-state
  * `<v%020d>.checkpoint.json` every [[CheckpointInterval]] commits; data
  * files live under `<table>/data/<uuid>/` — one fresh directory per
  * commit, so data writes NEVER overwrite and need no rename dance.
  *
  * Concurrency (optimistic, writer-writer): a commit is the atomic
  * creation of the next version file — create(overwrite = false) on
  * HDFS (an atomic namenode operation) and java.nio createFile
  * (O_CREAT|O_EXCL) on local paths, because Hadoop's LocalFileSystem
  * implements no-overwrite create as a non-atomic exists()-then-open.
  * On collision an append/overwrite re-reads the snapshot, re-resolves
  * (appends never conflict semantically; an overwrite recomputes its
  * remove set against the fresh state), and retries the next version; a
  * MERGE is serializable-or-abort — its rewrite was computed against one
  * snapshot, so a concurrent commit aborts it loudly instead of silently
  * publishing a stale rewrite. Object stores without atomic
  * put-if-absent need an external commit coordinator — documented out of
  * scope, exactly as the public Delta protocol documents it.
  *
  * Reader semantics: snapshot isolation — a read resolves the live file
  * set at one version and never sees a half-commit (data directories are
  * immutable once their entry is visible). A torn FINAL entry (crashed
  * writer) is uncommitted; an existing-but-unparseable entry gets
  * bounded patience (an in-flight writer's bytes land between create and
  * close) before any torn verdict; a torn NON-final entry is a corrupt
  * table and reads fail loudly rather than silently dropping committed
  * data.
  *
  * Data skipping: every add action carries the file's parquet-footer row
  * count and per-INT64-column min/max — so COUNT(*) is metadata-only and
  * [[readPruned]]/[[merge]] skip files whose key range cannot match
  * (the Delta/Iceberg file-stats pruning shape; non-INT64 columns simply
  * carry no stats and are never pruned on — safe, not silently wrong).
  *
  * Schema: enforced on append/merge (exact StructType match against the
  * current snapshot — silent drift is how lakes rot); `overwrite` may
  * change it (the full-replace semantics).
  */
object TxLog {

  val CheckpointInterval = 10
  private val MaxRetries = 50

  /** Per-file INT64 column ranges: col -> (min, max). */
  type FileStats = Map[String, (Long, Long)]

  final case class Entry(
      version: Long,
      operation: String, // "append" | "overwrite" | "merge" | "checkpoint"
      schemaJson: String,
      add: Seq[String],    // table-relative paths
      remove: Seq[String],
      rowCounts: Seq[Long], // per added file, parquet-footer truth
      stats: Seq[FileStats], // per added file
      txns: Map[String, Long] = Map.empty) // appId -> highest committed batch

  final case class Snapshot(
      version: Long,
      schema: StructType,
      files: Seq[String],
      rows: Long,
      fileRows: Map[String, Long],
      fileStats: Map[String, FileStats],
      txns: Map[String, Long])

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Schema normalized to all-nullable for comparison/storage: a
    * streaming micro-batch and its batch-frame replay differ only in
    * nullability flags — never a semantic schema drift (and parquet
    * reads everything back nullable anyway).
    */
  private def normSchemaJson(st: StructType): String = {
    def nl(dt: DataType): DataType = dt match {
      case t: StructType =>
        StructType(t.fields.map(f => f.copy(dataType = nl(f.dataType), nullable = true)))
      case t: org.apache.spark.sql.types.ArrayType =>
        t.copy(elementType = nl(t.elementType), containsNull = true)
      case t: org.apache.spark.sql.types.MapType =>
        t.copy(valueType = nl(t.valueType), valueContainsNull = true)
      case d => d
    }
    nl(st).asInstanceOf[StructType].json
  }

  private def logDir(table: Path) = new Path(table, "_txlog")
  private def entryPath(table: Path, v: Long) = new Path(logDir(table), f"$v%020d.json")
  private def ckptPath(table: Path, v: Long) = new Path(logDir(table), f"$v%020d.checkpoint.json")

  private def writeJson(e: Entry): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", e.version)
    root.put("operation", e.operation)
    root.put("schema", e.schemaJson)
    val add = root.putArray("add"); e.add.foreach(add.add)
    val rem = root.putArray("remove"); e.remove.foreach(rem.add)
    val rc = root.putArray("rowCounts"); e.rowCounts.foreach(rc.add)
    val st = root.putArray("stats")
    e.stats.foreach { m =>
      val o = st.addObject()
      m.foreach { case (c, (lo, hi)) =>
        val a = o.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (e.txns.nonEmpty) {
      val tx = root.putObject("txns")
      e.txns.foreach { case (a, b) => tx.put(a, b) }
    }
    (root.toString + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** null on any parse failure — the torn-entry signal, never an exception. */
  private def parseJson(bytes: Array[Byte]): Entry =
    try {
      val n = mapper.readTree(bytes)
      if (n == null || !n.has("version") || !n.has("operation") || !n.has("schema") ||
        !n.has("add") || !n.has("remove")) null
      else {
        val add = n.get("add").elements().asScala.map(_.asText()).toSeq
        val stats: Seq[FileStats] =
          if (!n.has("stats")) add.map(_ => Map.empty[String, (Long, Long)])
          else n.get("stats").elements().asScala.map { o =>
            o.properties().asScala.map { en =>
              val a = en.getValue
              en.getKey -> (a.get(0).asLong(), a.get(1).asLong())
            }.toMap
          }.toSeq
        Entry(
          n.get("version").asLong(),
          n.get("operation").asText(),
          n.get("schema").asText(),
          add,
          n.get("remove").elements().asScala.map(_.asText()).toSeq,
          if (n.has("rowCounts")) n.get("rowCounts").elements().asScala.map(_.asLong()).toSeq
          else Seq.empty,
          stats,
          if (!n.has("txns")) Map.empty
          else n.get("txns").properties().asScala
            .map(en => en.getKey -> en.getValue.asLong()).toMap)
      }
    } catch { case _: Exception => null }

  private def fsOf(spark: SparkSession, table: Path): FileSystem =
    table.getFileSystem(spark.sessionState.newHadoopConf())

  private def isLocalFs(fs: FileSystem): Boolean = fs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case _: org.apache.hadoop.fs.LocalFileSystem => true
    case _ => false
  }

  /** readEntry with bounded patience: create(no-overwrite) atomically
    * CLAIMS a version, but the entry's bytes land between create and
    * close, so another process can observe the file before its content —
    * an in-flight commit, not a torn one. Poll briefly before deciding;
    * a crashed writer's file never becomes parseable, an in-flight write
    * completes in milliseconds.
    */
  private def readEntryPatient(fs: FileSystem, p: Path, patienceMs: Long): Entry = {
    val deadline = System.nanoTime() + patienceMs * 1000000L
    var e = readEntry(fs, p)
    while (e == null && System.nanoTime() < deadline) {
      Thread.sleep(20)
      e = readEntry(fs, p)
    }
    e
  }

  private def readEntry(fs: FileSystem, p: Path): Entry =
    try {
      val in = fs.open(p)
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        parseJson(buf)
      } finally in.close()
    } catch { case _: Exception => null }

  /** (versions present, checkpoint versions present), both sorted. */
  private def listLog(fs: FileSystem, table: Path): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val vs = names.collect { case n if n.matches("\\d{20}\\.json") => n.take(20).toLong }.sorted
    val cs = names.collect { case n if n.matches("\\d{20}\\.checkpoint\\.json") => n.take(20).toLong }.sorted
    (vs, cs)
  }

  /** The snapshot at `asOf` (latest when None). Version 0 = the empty
    * table (exists as soon as the directory does, or not at all — both
    * read as zero files with an empty schema).
    */
  def snapshot(spark: SparkSession, dir: String, asOf: Option[Long] = None): Snapshot = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val (vsAll, csAll) = listLog(fs, table)
    val vs = asOf.fold(vsAll)(v => vsAll.filter(_ <= v))
    if (vs.isEmpty) {
      // distinguish "the table was never written" / "asOf 0 = the empty
      // table" from "that version predates vacuum retention" — reading a
      // vacuumed version as empty would be silent data loss
      val minRetained = (vsAll ++ csAll).minOption
      if (asOf.exists(_ > 0L) && minRetained.exists(_ > asOf.get))
        throw new IllegalStateException(
          s"txlog version ${asOf.get} in $dir predates vacuum retention (oldest retained: ${minRetained.get})")
      return Snapshot(0L, new StructType(), Seq.empty, 0L, Map.empty, Map.empty, Map.empty)
    }
    // start from the newest parseable checkpoint <= asOf, replay forward
    val usable = asOf.fold(csAll)(v => csAll.filter(_ <= v))
    var base: Entry = null
    var baseV = 0L
    usable.reverse.find { cv =>
      val e = readEntry(fs, ckptPath(table, cv))
      if (e != null) { base = e; baseV = cv; true } else false
    }
    val files = scala.collection.mutable.LinkedHashMap[String, (Long, FileStats)]()
    val txns = scala.collection.mutable.Map[String, Long]()
    var schemaJson = ""
    def applyEntry(e: Entry): Unit = {
      e.remove.foreach(files.remove)
      e.add.indices.foreach { i =>
        files(e.add(i)) = (
          e.rowCounts.lift(i).getOrElse(0L),
          e.stats.lift(i).getOrElse(Map.empty))
      }
      e.txns.foreach { case (a, b) =>
        txns(a) = math.max(txns.getOrElse(a, Long.MinValue), b)
      }
      schemaJson = e.schemaJson
    }
    def finish(ver: Long): Snapshot = {
      val schema =
        if (schemaJson.isEmpty) new StructType()
        else DataType.fromJson(schemaJson).asInstanceOf[StructType]
      Snapshot(ver, schema, files.keys.toSeq, files.values.map(_._1).sum,
        files.map { case (f, (r, _)) => f -> r }.toMap,
        files.map { case (f, (_, st)) => f -> st }.toMap,
        txns.toMap)
    }
    if (base != null) applyEntry(base)
    val present = vs.toSet
    var v = baseV + 1
    val last = vs.last
    while (v <= last) {
      if (!present.contains(v))
        throw new IllegalStateException(s"txlog gap at version $v in $dir")
      // FINAL entry unparseable = uncommitted (in-flight or crashed
      // writer) — the snapshot correctly ends one version earlier, no
      // patience needed; a NON-final unparseable entry gets patience
      // (later versions exist, so a writer was mid-close when we listed)
      // and only then is the table declared corrupt — committed data
      // must never be silently dropped
      val e =
        if (v == last) readEntry(fs, entryPath(table, v))
        else readEntryPatient(fs, entryPath(table, v), patienceMs = 2000)
      if (e == null) {
        if (v == last) return finish(v - 1)
        throw new IllegalStateException(s"txlog torn non-final entry $v in $dir — repair required")
      }
      applyEntry(e)
      v += 1
    }
    finish(last)
  }

  /** Snapshot read as a DataFrame (time travel via `asOf`). */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    scanFiles(spark, dir, snap, snap.files)
  }

  /** Snapshot read pruned by a key range: files whose logged [min, max]
    * cannot intersect [lo, hi] are never opened (file-stats data
    * skipping); files without stats for `key` are read — safe, never
    * silently wrong. The residual filter still applies, so the result is
    * exactly `read(...).filter(key between)`.
    */
  def readPruned(spark: SparkSession, dir: String, key: String, lo: Long, hi: Long,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    val keep = snap.files.filter { f =>
      snap.fileStats.get(f).flatMap(_.get(key)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }
    scanFiles(spark, dir, snap, keep).filter(col(key).between(lo, hi))
  }

  private def scanFiles(spark: SparkSession, dir: String, snap: Snapshot, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), snap.schema)
    else
      spark.read.schema(snap.schema).parquet(files.map(f => s"$dir/$f"): _*)

  /** Metadata-only row count at a version — the log carries per-file
    * footer counts, so COUNT(*) never scans data (the 100 TB posture).
    */
  def rowCount(spark: SparkSession, dir: String, asOf: Option[Long] = None): Long =
    snapshot(spark, dir, asOf).rows

  def append(spark: SparkSession, dir: String, df: DataFrame): Long =
    commitLoop(spark, dir, df, overwriteAll = false, Map.empty)

  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Long =
    commitLoop(spark, dir, df, overwriteAll = true, Map.empty)

  /** Idempotent append — the exactly-once STREAMING SINK primitive (the
    * public Delta `txn` action shape): the entry records (appId,
    * batchId), the snapshot tracks the highest committed batch per app,
    * and a replayed batch (foreachBatch re-delivery after a restart, the
    * at-least-once contract of checkpointed micro-batch sinks) commits
    * NOTHING — so stream + txlog composes to exactly-once table state
    * without any sink-side dedup scan.
    */
  def idempotentAppend(spark: SparkSession, dir: String, df: DataFrame,
      appId: String, batchId: Long): Long = {
    require(appId.nonEmpty, "txlog idempotentAppend needs a stable appId")
    val pre = snapshot(spark, dir, None)
    if (pre.txns.get(appId).exists(_ >= batchId)) return pre.version // replay: no-op
    commitLoop(spark, dir, df, overwriteAll = false, Map(appId -> batchId))
  }

  /** Copy-on-write keyed MERGE (upsert): rows of `source` replace target
    * rows with the same `key`; unmatched source rows insert. Only files
    * whose logged key range intersects the source's key range are
    * rewritten — untouched files survive by reference (the Delta MERGE
    * file-pruning shape; at 100 TB a merge touching one day's partition
    * rewrites one day, not the lake). Serializable: computed against one
    * snapshot, the commit CAS-claims exactly the next version and aborts
    * on any concurrent commit (retrying the whole merge is the caller's
    * decision — a stale rewrite must never publish silently).
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame, key: String): Long =
    mergeAt(spark, dir, source, key, snapshot(spark, dir, None))

  /** The snapshot-explicit form of [[merge]] — the unit seam that makes
    * the serializable-or-abort contract testable: a commit that lands
    * between `snap` and the claim makes this merge's rewrite stale, and
    * it must abort, never publish.
    */
  private[graft] def mergeAt(spark: SparkSession, dir: String, source: DataFrame, key: String,
      snap: Snapshot): Long = {
    require(snap.files.nonEmpty, s"txlog merge into an empty table $dir: use append")
    require(snap.schema.json == normSchemaJson(source.schema),
      s"txlog merge schema mismatch in $dir: table ${snap.schema.simpleString} vs source ${source.schema.simpleString}")
    val bounds = source
      .agg(scount(lit(1)), smin(col(key)).cast(LongType), smax(col(key)).cast(LongType))
      .head()
    if (bounds.getLong(0) == 0L) return snap.version // empty source: no-op
    // a NON-empty source with null/un-castable key bounds must fail, not
    // silently no-op: all-NULL keys or a non-integer key type would
    // otherwise discard every update (review r9 finding)
    if (bounds.isNullAt(1) || bounds.isNullAt(2))
      throw new IllegalArgumentException(
        s"txlog merge key '$key' in $dir yields no integer bounds — all-NULL or non-castable key column")
    val (lo, hi) = (bounds.getLong(1), bounds.getLong(2))
    // untouched files carry over by NOT being in the remove set
    val touched = snap.files.filter { f =>
      snap.fileStats.get(f).flatMap(_.get(key)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }
    val target = scanFiles(spark, dir, snap, touched)
    val rewritten = target.join(source.select(col(key)).distinct(), Seq(key), "left_anti")
      .unionByName(source)
    val (addRel, counts, stats) = writeData(spark, dir, rewritten)
    val entry = Entry(snap.version + 1, "merge", snap.schema.json,
      addRel, touched, counts, stats)
    if (!tryClaim(spark, dir, entry))
      throw new java.util.ConcurrentModificationException(
        s"txlog merge lost the race at version ${snap.version + 1} in $dir — recompute against the new snapshot")
    maybeCheckpoint(spark, dir, snap.version + 1)
    snap.version + 1
  }

  /** Clustered COMPACTION (the lake OPTIMIZE/cluster-by operation):
    * rewrite the CURRENT live file set range-partitioned and sorted by
    * `clusterCols` into ~`targetFiles` files — after it, each file
    * covers a near-disjoint range of the cluster key, so the logged
    * min/max stats make [[readPruned]] and [[merge]]'s file pruning
    * sharp instead of best-effort (the Z-order/cluster-by payoff:
    * data-skipping effectiveness is a WRITE-side property). Content is
    * bit-identical — only layout changes. Serializable-or-abort like
    * merge: the rewrite is computed against one snapshot and never
    * publishes over a concurrent commit.
    */
  def optimize(spark: SparkSession, dir: String, clusterCols: Seq[String],
      targetFiles: Int): Long = {
    require(clusterCols.nonEmpty && targetFiles >= 1)
    val snap = snapshot(spark, dir, None)
    if (snap.files.isEmpty) return snap.version
    val clustered = scanFiles(spark, dir, snap, snap.files)
      .repartitionByRange(targetFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    val (addRel, counts, stats) = writeData(spark, dir, clustered)
    val entry = Entry(snap.version + 1, "optimize", snap.schema.json,
      addRel, snap.files, counts, stats)
    if (!tryClaim(spark, dir, entry))
      throw new java.util.ConcurrentModificationException(
        s"txlog optimize lost the race at version ${snap.version + 1} in $dir")
    maybeCheckpoint(spark, dir, snap.version + 1)
    snap.version + 1
  }

  /** CHANGE FEED (file-granular CDC): every row added or removed by the
    * commits in (fromExclusive, toInclusive], tagged `_change_type`
    * ("insert" | "delete") and `_version`. An append yields inserts; an
    * overwrite yields deletes of the prior state plus inserts; a merge
    * yields delete+insert pairs for every row of the files it rewrote
    * (file-granular CDC — an update appears as its delete/insert pair,
    * carried rows appear as a no-op pair; exact row-level CDC would need
    * per-row tracking the format deliberately does not pay for). An
    * `optimize` is layout-only and contributes NOTHING to the feed.
    * Requires the range's entries and removed files to still exist —
    * i.e. run the feed before vacuum retention passes it (missing data
    * fails loudly, never silently shrinks the delta).
    */
  def changes(spark: SparkSession, dir: String, fromExclusive: Long, toInclusive: Long): DataFrame = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    import org.apache.spark.sql.functions.{lit => slit}
    // schema of the state BEFORE each version (removed files were written
    // under it) — replay schemas from the start
    val (vsAll, _) = listLog(fs, table)
    var parts = Vector.empty[DataFrame]
    var prevSchemaJson = ""
    vsAll.filter(_ <= toInclusive).foreach { v =>
      val e = readEntry(fs, entryPath(table, v))
      if (e == null)
        throw new IllegalStateException(s"txlog changes: entry $v unreadable in $dir (vacuumed or torn)")
      if (v > fromExclusive && e.operation != "optimize") {
        def scan(files: Seq[String], schemaJson: String): Option[DataFrame] =
          if (files.isEmpty || schemaJson.isEmpty) None
          else Some(spark.read
            .schema(DataType.fromJson(schemaJson).asInstanceOf[StructType])
            .parquet(files.map(f => s"$dir/$f"): _*))
        scan(e.add, e.schemaJson).foreach(df => parts :+=
          df.withColumn("_change_type", slit("insert")).withColumn("_version", slit(v)))
        scan(e.remove, prevSchemaJson).foreach(df => parts :+=
          df.withColumn("_change_type", slit("delete")).withColumn("_version", slit(v)))
      }
      prevSchemaJson = e.schemaJson
    }
    if (parts.isEmpty) {
      val snap = snapshot(spark, dir, Some(toInclusive))
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        snap.schema.add("_change_type", "string").add("_version", "long"))
    } else parts.reduce(_ unionByName _)
  }

  /** Write df's files under a commit-unique directory and return
    * (relative paths, footer row counts, footer INT64 min/max stats).
    * Data is unreferenced until a log entry lands — a crash here leaks
    * only unreachable files (vacuum's job), never a broken table.
    */
  private def writeData(spark: SparkSession, dir: String, df: DataFrame): (Seq[String], Seq[Long], Seq[FileStats]) = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val uuid = java.util.UUID.randomUUID().toString
    val dataRel = s"data/$uuid"
    df.write.parquet(s"$dir/$dataRel")
    val written = fs.listStatus(new Path(table, dataRel)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)
    val (counts, stats) = written.map(footerInfo(spark, _)).unzip
    (written.map(p => s"$dataRel/${p.getName}"), counts, stats)
  }

  /** Footer truth for one file: (row count, INT64 col -> (min, max)). */
  private def footerInfo(spark: SparkSession, p: Path): (Long, FileStats) = {
    val conf = spark.sessionState.newHadoopConf()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val agg = scala.collection.mutable.Map[String, (Long, Long)]()
      var statsComplete = true
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) statsComplete = false
            else {
              val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
              val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
              val cur = agg.get(name)
              agg(name) = cur.fold((mn, mx))(c0 => (math.min(c0._1, mn), math.max(c0._2, mx)))
            }
          }
        }
      }
      // a column with any stats-less block must not advertise a range —
      // pruning on a partial range would silently drop rows
      (r.getRecordCount, if (statsComplete) agg.toMap else Map.empty)
    } finally r.close()
  }

  /** CAS-claim exactly `entry.version` (create-no-overwrite). False =
    * the version was taken by a parseable competitor; a NEVER-parseable
    * occupant is a poisoned slot and fails loudly.
    */
  private def tryClaim(spark: SparkSession, dir: String, entry: Entry): Boolean = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    if (!fs.mkdirs(logDir(table)) && !fs.exists(logDir(table))) return false
    // The atomicity primitive. On HDFS, create(overwrite = false) is an
    // atomic namenode operation. Hadoop's LOCAL filesystem, however,
    // implements it as exists()-then-open — two racing writers can both
    // pass the check (review r9 finding) — so local paths claim through
    // java.nio Files.createFile, which IS O_CREAT|O_EXCL: exactly one
    // winner, the loser gets FileAlreadyExistsException. The winner then
    // writes its bytes into the claimed file; a reader observing the
    // empty/partial window is the in-flight case readEntryPatient covers.
    val ep = entryPath(table, entry.version)
    val created =
      try {
        if (isLocalFs(fs)) {
          val nio = java.nio.file.Paths.get(ep.toUri.getPath)
          java.nio.file.Files.createFile(nio) // atomic O_EXCL claim
          java.nio.file.Files.write(nio, writeJson(entry))
          true
        } else {
          val out = fs.create(ep, false)
          try out.write(writeJson(entry)) finally out.close()
          true
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    if (!created && readEntryPatient(fs, ep, patienceMs = 2000) == null)
      throw new IllegalStateException(
        s"txlog torn entry at version ${entry.version} in $dir — repair required")
    created
  }

  /** THE optimistic commit: write the data files once, then retry
    * snapshot → schema check → claim of the next version until a claim
    * wins. `txns` (appId -> batchId, empty for a plain append/overwrite)
    * rides the entry, and a batch some racing commit already recorded
    * commits nothing ([[idempotentAppend]]'s replay rule).
    */
  private def commitLoop(spark: SparkSession, dir: String, df: DataFrame, overwriteAll: Boolean,
      txns: Map[String, Long]): Long = {
    val (addRel, counts, stats) = writeData(spark, dir, df)
    val schemaJson = normSchemaJson(df.schema)
    var attempt = 0
    while (attempt < MaxRetries) {
      val snap = snapshot(spark, dir, None)
      if (txns.exists { case (app, batch) => snap.txns.get(app).exists(_ >= batch) })
        return snap.version // raced replay
      if (!overwriteAll && snap.files.nonEmpty && snap.schema.json != schemaJson)
        throw new IllegalArgumentException(
          s"txlog append schema mismatch in $dir: table ${snap.schema.simpleString} vs data ${df.schema.simpleString}")
      val v = snap.version + 1
      val entry = Entry(v, if (overwriteAll) "overwrite" else "append", schemaJson,
        addRel, if (overwriteAll) snap.files else Seq.empty, counts, stats, txns)
      if (tryClaim(spark, dir, entry)) {
        maybeCheckpoint(spark, dir, v)
        return v
      }
      attempt += 1
    }
    throw new IllegalStateException(s"txlog commit contention in $dir: $MaxRetries retries exhausted")
  }

  private def maybeCheckpoint(spark: SparkSession, dir: String, v: Long): Unit =
    if (v % CheckpointInterval == 0) try {
      val table = new Path(dir)
      val fs = fsOf(spark, table)
      val snap = snapshot(spark, dir, Some(v))
      val entry = Entry(v, "checkpoint", snap.schema.json, snap.files, Seq.empty,
        snap.files.map(snap.fileRows), snap.files.map(snap.fileStats), snap.txns)
      val out = fs.create(ckptPath(table, v), true) // checkpoints are idempotent
      try out.write(writeJson(entry)) finally out.close()
    } catch { case _: Exception => () } // best-effort: replay still works

  /** VACUUM with the three guards a concurrent lake needs (review r9
    * findings, the same shape Delta documents):
    *
    *  - RETENTION: a file is live if ANY retained version references it —
    *    retained = the newest PARSEABLE checkpoint and everything after —
    *    so time travel back to that checkpoint keeps working after the
    *    vacuum (earlier versions are gone; [[snapshot]] refuses them
    *    loudly instead of reading them as empty).
    *  - GRACE WINDOW (`graceMs`, default 10 min): a data file younger
    *    than the window is never deleted — it may belong to an in-flight
    *    commit that has written its files but not yet claimed its log
    *    entry. Deleting it would let the commit land referencing missing
    *    data. Tests that own the table exclusively may pass 0.
    *  - CHECKPOINT TRUST: log-entry retention keys on a checkpoint that
    *    PARSES — a torn checkpoint (crash inside the best-effort
    *    checkpoint write) must not cause the entries the replay still
    *    needs to be deleted.
    */
  def vacuum(spark: SparkSession, dir: String, graceMs: Long = 10 * 60 * 1000L): Long = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val (vs, cs) = listLog(fs, table)
    if (vs.isEmpty) return 0L
    val ckParseable = cs.sorted.reverse.find(cv => readEntry(fs, ckptPath(table, cv)) != null)
    // files referenced by ANY retained log document (checkpoint + after)
    val retainedFrom = ckParseable.getOrElse(0L)
    val live = scala.collection.mutable.Set[String]()
    ckParseable.foreach(cv => live ++= readEntry(fs, ckptPath(table, cv)).add)
    vs.filter(_ >= retainedFrom).foreach { v =>
      val e = readEntry(fs, entryPath(table, v))
      if (e != null) live ++= e.add
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val dataRoot = new Path(table, "data")
    var removed = 0L
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { d =>
        def isMarker(n: String) = n.startsWith("_") || n.startsWith(".")
        fs.listStatus(d.getPath).foreach { f =>
          val name = f.getPath.getName
          val rel = s"data/${d.getPath.getName}/$name"
          // only DATA files count toward `removed` — _SUCCESS/.crc
          // markers ride along when their directory empties below
          if (!isMarker(name) && !live.contains(rel) && f.getModificationTime < cutoff) {
            fs.delete(f.getPath, false); removed += 1
          }
        }
        val remaining = fs.listStatus(d.getPath)
        // a directory left with only write markers (or nothing) is spent —
        // but only past the grace window: an in-flight commit's directory
        // can transiently look marker-only while its parts stream in
        if (remaining.forall(f => isMarker(f.getPath.getName)) &&
          d.getModificationTime < cutoff)
          fs.delete(d.getPath, true)
      }
    }
    ckParseable.foreach { ck =>
      vs.filter(_ < ck).foreach(v => fs.delete(entryPath(table, v), false))
      cs.filter(_ < ck).foreach(v => fs.delete(ckptPath(table, v), false))
    }
    removed
  }
}
