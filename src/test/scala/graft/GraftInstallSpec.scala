package graft

import org.apache.spark.sql.functions._

class GraftInstallSpec extends SparkTestBase {

  test("install registers cosine_sim for SQL and the as-of strategy") {
    Graft.install(spark)
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("g_emb")
    val viaSql = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s
        |FROM g_emb a JOIN g_emb b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 5 ORDER BY a.vec_id""".stripMargin)
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
    graft.sources.Tables.documents(spark, sf).createOrReplaceTempView("g_docs")
    // k=64 >= fixture vocab -> sketch is exact: compare against plain counts
    val viaSql = spark.sql(
      """SELECT misra_gries(term, 64) AS m FROM
        |  (SELECT explode(split(text, ' ')) AS term FROM g_docs)""".stripMargin)
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

  test("src holds exactly one session builder call, in Graft.session") {
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
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
        "overrides.foreach { case (k, v) => child.conf.set(k, v) }",
      "src/main/scala/graft/tools/GenScale.scala" ->
        """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""",
      // nanosAsLong has no per-read form; ROADMAP moves it to session
      // construction with the next benchmark change
      "src/main/scala/graft/sources/Tables.scala" ->
        """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""",
      "src/main/scala/graft/streaming/EventStreams.scala" ->
        """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""")
    val write = """conf\s*\.\s*(set|unset)\s*\(|setConf\s*\(""".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val sites = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n")
      lines.map(_.trim).filter(l => write.findFirstIn(l).isDefined).map(f.getPath -> _)
    }
    val extra = sites.filterNot(allowed.contains)
    assert(extra.isEmpty, s"conf writes outside the allow-list: ${extra.mkString("; ")}")
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
