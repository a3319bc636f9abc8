package graft

import org.apache.spark.sql.functions._

class GraftInstallSpec extends SparkTestBase {

  test("install registers cosine_sim for SQL and the as-of strategy") {
    Graft.install(spark)
    val viaSql = graft.sql.GraftSql.sql(spark,
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 5 ORDER BY a.vec_id""".stripMargin,
      "embeddings" -> graft.sources.Tables.embeddings(spark, sf))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaApi = {
      val e = graft.sources.Tables.embeddings(spark, sf)
      val a = e.select(col("vec_id"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
      a.join(b, "vec_id").filter(col("vec_id") < 5)
        .select(col("vec_id"), graft.functions.Similarity.cosine(col("ea"), col("eb")).as("s"))
        .orderBy(col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.nonEmpty)
  }

  test("install registers misra_gries as a SQL aggregate") {
    Graft.install(spark)
    // k=64 >= fixture vocab -> sketch is exact: compare against plain counts
    val viaSql = graft.sql.GraftSql.sql(spark,
      """SELECT misra_gries(term, 64) AS m FROM
        |  (SELECT explode(split(text, ' ')) AS term FROM documents)""".stripMargin,
      "documents" -> graft.sources.Tables.documents(spark, sf))
      .collect()(0).getMap[String, Long](0)
    val exact = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == exact)
    // non-literal k must fail cleanly at resolution
    val err = intercept[Exception] {
      spark.sql("SELECT misra_gries(term, length(term)) FROM (SELECT 'x' AS term)").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("install is idempotent") {
    Graft.install(spark)
    Graft.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) == 1)
  }

  test("cosine_sim SQL arity error is clean") {
    Graft.install(spark)
    val e = intercept[Exception] { spark.sql("SELECT cosine_sim(array(1.0F))") }
    assert(e.getMessage.contains("two array<float>") || e.getMessage.toLowerCase.contains("argument"))
  }

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty

  /** Every line of every Scala file under `dir`, trimmed, with its path. */
  private def sourceLines(dir: String): Seq[(String, String)] =
    scalaFiles(new java.io.File(dir)).flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
        .map(l => f.getPath -> l.trim)
    }

  test("src holds exactly one session builder call, in Graft.session") {
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val sites = scalaFiles(new java.io.File("src")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Seq.fill(call.findAllIn(text).size)(f.getPath)
    }
    assert(sites == Seq("src/main/scala/graft/Graft.scala"), sites)
  }

  test("src/main writes session conf only at its allow-listed sites") {
    // A setting written onto a caller's session leaks into, or races with,
    // every other query on it; a different setting belongs on
    // Graft.childSession (or, for a shuffle width, in the plan). This list
    // may only shrink.
    val allowed = Set(
      "src/main/scala/graft/Graft.scala" ->
        "overrides.foreach { case (k, v) => child.conf.set(k, v) }")
    val write = """conf\s*\.\s*(set|unset)\s*\(|setConf\s*\(""".r
    val sites = sourceLines("src/main").filter { case (_, l) => write.findFirstIn(l).isDefined }
    val extra = sites.filterNot(allowed.contains)
    assert(extra.isEmpty, s"conf writes outside the allow-list: ${extra.mkString("; ")}")
  }

  test("src/main writes files only under Graft.scratch") {
    // A hand-built path is shared by every execution in the JVM (a second
    // run overwrites the first's files under it) and outlives the JVM; a
    // Graft.scratch directory is fresh per call and deleted at exit. This
    // list may only shrink.
    val allowed = Set(
      "src/main/scala/graft/Graft.scala" ->
        """val dir = java.nio.file.Files.createTempDirectory(scratchRoot.toPath, s"$name-").toFile""",
      "src/main/scala/org/apache/spark/sql/graftbridge.scala" ->
        "org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)",
      // a robots.txt path in the data, not a file the query writes
      "src/main/scala/graft/queries/SemanticCurationQueries.scala" ->
        """.when(col("doc_id") % 5 === 2, lit("/tmp/t"))""")
    val handMade = """"/tmp|createTempDir|createTempFile|ProcessHandle|tmpDir\(""".r
    val sites = sourceLines("src/main").filter { case (_, l) => handMade.findFirstIn(l).isDefined }
    val extra = sites.filterNot(allowed.contains)
    assert(extra.isEmpty, s"scratch paths outside Graft.scratch: ${extra.mkString("; ")}")
  }

  test("src/main registers temp views only in GraftSql.sql and drops only the memory sink's") {
    // A view on a caller's session is shared by every query on it: two
    // runs on different dirs under one fixed name read each other's
    // tables. SQL text binds its tables through GraftSql.sql, on a
    // throwaway clone; the memory sink names its own view. This list may
    // only shrink.
    val allowed = Set(
      "src/main/scala/graft/sql/GraftSql.scala" ->
        "tables.foreach { case (name, df) => Graft.onSession(clone, df).createOrReplaceTempView(name) }",
      "src/main/scala/graft/streaming/EventStreams.scala" ->
        "spark.catalog.dropTempView(name)")
    val view = """createOrReplaceTempView|createTempView|createGlobalTempView|dropTempView""".r
    val sites = sourceLines("src/main").filter { case (_, l) => view.findFirstIn(l).isDefined }
    assert(sites.toSet == allowed, s"temp-view sites: ${sites.mkString("; ")}")
  }

  /** The trimmed lines of the member `def name` in `file`: its def line and
    * every following line indented deeper (or blank).
    */
  private def defBody(file: String, name: String): Seq[String] = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file)), "UTF-8").split("\n").toSeq
    val start = lines.indexWhere(l => l.trim.matches(s"(private(\\[\\w+\\])? )?def $name\\b.*"))
    assert(start >= 0, s"no def $name in $file")
    val indent = lines(start).indexWhere(_ != ' ')
    (lines(start) +: lines.drop(start + 1).takeWhile(l =>
      l.trim.isEmpty || l.indexWhere(_ != ' ') > indent)).map(_.trim)
  }

  test("src/main walks each byte format once: every walk's marker stays inside its walk") {
    // A copied container walk has to be fuzzed, and every crash fixed,
    // once per copy. Each marker below belongs to one walk; consumers call
    // the walk or extend its layout. This list may only grow.
    val mm = "src/main/scala/graft/multimodal/Multimodal.scala"
    val sh = "src/main/scala/graft/multimodal/Shards.scala"
    val walks = Seq(
      (sh, "walkTar", "isUstar("),                    // ustar header check
      (mm, "walkAviList", "\"LIST\")"),               // AVI LIST fourcc match
      (mm, "walkFlac", "0xfffffffffL"),               // STREAMINFO sample count
      (sh, "readCapped", "> maxOut)"),                // capped inflate
      (mm, "synchsafe", "0x7f) << 21"),               // ID3v2 synchsafe size
      (mm, "withReader", "ImageIO.getImageReaders("), // image reader open
      (mm, "read", "addIIOReadWarningListener("),     // full image decode
      (mm, "write", "ImageIO.write("))                // image encode
    val all = sourceLines("src/main")
    walks.foreach { case (file, walk, marker) =>
      val sites = all.filter(_._2.contains(marker))
      val inside = defBody(file, walk).count(_.contains(marker))
      assert(inside > 0 && sites.length == inside,
        s"'$marker' outside $walk: ${sites.mkString("; ")}")
    }
    // the one decode is ImageOps.read; the cache flag is set once, by it
    assert(!all.exists(_._2.contains("ImageIO.read(")))
    assert(all.filter(_._2.contains("ImageIO.setUseCache(")).map(_._1) == Seq(mm))
  }

  test("BPE training and q161 keep their bounded state on the driver") {
    // Both loops carry a small state (a merge list, a 64-long vector), so a
    // round is an aggregate whose result is collected, not a relation
    // carried through windows and checkpoints on a loop session.
    val bpe = sourceLines("src/main/scala/graft/functions/Bpe.scala").map(_._2)
    val q161 = defBody("src/main/scala/graft/queries/MatrixQueries.scala", "powerIteration")
    for ((what, lines) <- Seq("Bpe.scala" -> bpe, "q161" -> q161);
         marker <- Seq("checkpoint(", "Window", "IterLoop"))
      assert(!lines.exists(_.contains(marker)), s"$what holds $marker")
  }

  test("src/main materializes only through Graft and never lists the context's RDDs") {
    // Graft.checkpoint hands what it materializes to the open execution,
    // which releases exactly that. A direct call leaves its blocks to a GC,
    // and a drop of every persistent RDD of the context also drops the
    // checkpoints a concurrent query still reads. A persist outside an
    // execution stays in the session's CacheManager, so none is left.
    // The release frees blocks through the bridge's `unpersistRdd`; the
    // scan allows its definition in the bridge and no other call.
    val graftFile = "src/main/scala/graft/Graft.scala"
    val bridgeFile = "src/main/scala/org/apache/spark/sql/graftbridge.scala"
    val materialize = """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\w*\(""".r
    val all = sourceLines("src/main")
    val hits = all.filter { case (_, l) => materialize.findFirstIn(l).isDefined }
    val release = (bridgeFile, "rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)")
    val outside = hits.filter { case (f, l) =>
      f != graftFile && (f, l) != release && !(f == bridgeFile && l.startsWith("def unpersistRdd(")) }
    assert(outside.isEmpty, s"materialization outside Graft: ${outside.mkString("; ")}")
    assert(all.exists { case (f, l) => f == graftFile && l.contains("df.localCheckpoint(eager)") })
    assert(hits.contains(release))
    assert(!all.exists(_._2.contains(".persist(")), "a persist in src/main")
    val listing = all.filter(_._2.contains("getPersistentRDDs"))
    assert(listing.isEmpty, s"getPersistentRDDs in src/main: ${listing.mkString("; ")}")
  }

  test("Graft.checkpoint call sites in src/main only shrink") {
    // A checkpoint earns its place as loop state, as a snapshot, or where
    // measurement shows that it pays: two consumers in one plan mostly
    // share the branch through a reused exchange. This budget may only
    // shrink.
    val budget = 37
    val sites = sourceLines("src/main").filter(_._2.contains("Graft.checkpoint("))
    assert(sites.length <= budget,
      s"${sites.length} Graft.checkpoint( sites, budget $budget: ${sites.mkString("; ")}")
  }

  /** Runs `body` on a factory-built session over `spark.newSession()`: a
    * session no test has called `install` on (the builder hands back the
    * thread's active session).
    */
  private def onFreshFactorySession(body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val fresh = spark.newSession()
    val prior = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    try {
      val s = Graft.session(4)
      assert(s eq fresh)
      body(s)
    } finally prior match {
      case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
      case None => org.apache.spark.sql.SparkSession.clearActiveSession()
    }
  }

  test("a factory-built session resolves cosine_sim and misra_gries with no install call") {
    onFreshFactorySession { s =>
      assert(s.sql("SELECT cosine_sim(array(3.0F, 4.0F), array(3.0F, 4.0F))")
        .head().getDouble(0) == 1.0)
      assert(s.sql("SELECT misra_gries(x, 4) FROM VALUES ('a'), ('a'), ('b') AS t(x)")
        .head().getMap[String, Long](0) == Map("a" -> 2L, "b" -> 1L))
    }
  }

  test("a factory-built session holds AsOfStrategy exactly once") {
    onFreshFactorySession { s =>
      Graft.session(4)
      assert(s.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) == 1)
    }
  }
}
