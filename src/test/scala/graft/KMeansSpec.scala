package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.{Aggregators, KMeans, Similarity}

class KMeansSpec extends SparkTestBase {

  private def blob(center: Array[Float], jitterSeed: Int): Array[Float] = {
    val rnd = new scala.util.Random(jitterSeed)
    center.map(c => c + (rnd.nextFloat() - 0.5f) * 0.1f)
  }

  test("k-means recovers well-separated synthetic clusters") {
    import spark.implicits._
    val c1 = Array.tabulate(8)(i => if (i < 4) 1.0f else 0.0f)
    val c2 = Array.tabulate(8)(i => if (i >= 4) 1.0f else 0.0f)
    val rows = (0 until 30).map { i =>
      val center = if (i % 2 == 0) c1 else c2
      (i.toLong, blob(center, i))
    }
    val df = rows.toDF("vec_id", "embedding")
    val centroids = KMeans.fit(df, "vec_id", "embedding", k = 2, dims = 8, iterations = 5)
    val byCluster = KMeans.assign(df, "vec_id", "embedding", centroids).collect()
      .groupBy(_.getInt(1)).map { case (c, rs) => c -> rs.map(_.getLong(0) % 2).toSet }
    // each cluster must be pure: all-even ids or all-odd ids
    assert(byCluster.size == 2)
    assert(byCluster.values.forall(_.size == 1))
    assert(centroids.map(_.getInt(0)) == Seq(0, 1))
  }

  test("k-means is deterministic across runs") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def run() = clusters(KMeans.assign(emb, "vec_id", "embedding",
      KMeans.fit(emb, "vec_id", "embedding", k = 4, dims = 64, iterations = 3)))
    assert(run() == run())
  }

  test("IVF over learned k-means cells returns true cosines") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val centroids = KMeans.fit(emb, "vec_id", "embedding", k = 4, dims = 64, iterations = 2)
    val cells = emb.join(KMeans.assign(emb, "vec_id", "embedding", centroids), "vec_id")
    val queries = cells.filter(col("vec_id") < 3)
    val out = Similarity.ivfTopK(cells, queries, "vec_id", "embedding", "cluster",
      centroids, k = 3, nprobe = 2).collect()
    assert(out.nonEmpty)
    val truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    out.foreach(r => assert(truth((r.getLong(0), r.getLong(2))) == r.getDouble(3)))
  }

  /** Centroid float bits by cluster id. */
  private def bits(centroids: Seq[Row]): Map[Int, Seq[Int]] =
    centroids.map(r => r.getInt(0) ->
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits).toSeq).toMap

  private def clusters(assigned: DataFrame): Map[Long, Any] =
    assigned.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  private def jobsStartedBy(body: => Unit): Int =
    new JobGroupCounter().run(spark.sparkContext)(body).jobs.get

  test("k-means job budget: one seed job plus one job per Lloyd step, none to assign") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    for (n <- Seq(0, 3)) {
      var centroids: Seq[Row] = null
      val fitJobs = jobsStartedBy {
        centroids = KMeans.fit(emb, "vec_id", "embedding", k = 8, dims = 64, iterations = n)
      }
      assert(fitJobs == 1 + n, s"fit(iterations = $n) started $fitJobs jobs")
      val assignJobs = jobsStartedBy { KMeans.assignAll(emb, "embedding", centroids) }
      assert(assignJobs == 0, s"assignAll started $assignJobs jobs")
    }
  }

  test("one driver Lloyd step matches the relational step bit for bit") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val seeds = KMeans.fit(emb, "vec_id", "embedding", k = 8, dims = 64, iterations = 0)
    val relational = bits(KMeans.assignAll(emb, "embedding", seeds)
      .groupBy(col("cluster"))
      .agg(Aggregators.vectorCentroid(col("embedding"), 64).as("c"))
      .select(col("cluster"), col("c").cast("array<float>")).collect().toSeq)
    // every seed captures rows, so no cluster falls back to its seed
    assert(relational.size == 8)
    val step = KMeans.fit(emb, "vec_id", "embedding", k = 8, dims = 64, iterations = 1)
    assert(bits(step) == relational)
  }

  test("k-means gives the same assignments and centroid bits at 1 and 4 input partitions") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val one = emb.coalesce(1)
    val four = emb.repartition(4, col("vec_id"))
    assert(one.rdd.getNumPartitions == 1 && four.rdd.getNumPartitions == 4)
    val c1 = KMeans.fit(one, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
    val c4 = KMeans.fit(four, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
    assert(bits(c1) == bits(c4))
    assert(clusters(KMeans.assign(one, "vec_id", "embedding", c1)) ==
      clusters(KMeans.assign(four, "vec_id", "embedding", c4)))
  }

  test("k-means: a cluster that captures no rows keeps its seed") {
    import spark.implicits._
    val c1 = Array.tabulate(8)(i => if (i < 4) 1.0f else 0.0f)
    val c2 = Array.tabulate(8)(i => if (i >= 4) 1.0f else 0.0f)
    // ids 0 and 1 carry the same vector, so clusters 0 and 1 seed
    // identically and cluster 1 loses every tie to cluster 0
    val rows = (1 until 30).map(i => (i.toLong, blob(if (i % 2 == 0) c1 else c2, i)))
    val df = ((0L, rows.head._2) +: rows).toDF("vec_id", "embedding")
    val got = bits(KMeans.fit(df, "vec_id", "embedding", k = 3, dims = 8, iterations = 1))
    assert(got(1) == rows.head._2.toSeq.map(java.lang.Float.floatToRawIntBits))
    assert(got(0) != got(1), "cluster 0 should have moved off the shared seed")
  }

  test("k-means: a null embedding is neither counted nor assigned") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val withNull = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.agg((max(col("vec_id")) + 1).as("vec_id"))
        .select(col("vec_id"), lit(null).cast("array<float>").as("embedding")))
    val cPlain = KMeans.fit(emb, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
    val cNulled = KMeans.fit(withNull, "vec_id", "embedding", k = 8, dims = 64, iterations = 3)
    assert(bits(cNulled) == bits(cPlain))
    val got = clusters(KMeans.assign(withNull, "vec_id", "embedding", cNulled))
    assert(got.size == clusters(KMeans.assign(emb, "vec_id", "embedding", cPlain)).size + 1)
    assert(got.count(_._2 == null) == 1)
  }

  /** The fixture embeddings plus a row with a null cell, a null vector in
    * cell 0, and cell 99, whose only vector is null. */
  private def ivfCorpus: DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    val one = emb.filter(col("vec_id") === 1)
    emb
      .unionByName(one.select(lit(1000000L).as("vec_id"), col("embedding"),
        lit(null).cast("int").as("label")))
      .unionByName(one.select(lit(1000001L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"), lit(0).as("label")))
      .unionByName(one.select(lit(1000002L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"), lit(99).as("label")))
  }

  /** Cell centroid float bits by cell, non-null cells only. */
  private def cellBits(rows: Seq[org.apache.spark.sql.Row]): Map[Any, Seq[Int]] =
    rows.filter(!_.isNullAt(0)).map(r => r.get(0) ->
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits).toSeq).toMap

  /** The IVF cells as a relational aggregate, as ivfTopK built them before
    * they were folded on the driver. */
  private def relationalCells(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("label").as("cell"))
      .agg(Aggregators.vectorCentroid(col("embedding"), 64).as("centroid"))
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))

  /** ivfTopK over relational cells with the probe window always on — its
    * form before the cells were folded on the driver, restricted to
    * non-null cells (a null cell joins no corpus row, so probing it only
    * wasted one of the `nprobe` slots). */
  private def relationalIvf(corpus: DataFrame, queries: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = relationalCells(corpus).filter(col("cell").isNotNull)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probed = q.crossJoin(broadcast(cells))
      .withColumn("cr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(Similarity.cosine(col("qvec"), col("centroid")).desc, col("cell").asc)))
      .filter(col("cr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val c = corpus.select(col("label").as("cell"), col("vec_id").as("neighbor_id"),
      col("embedding").as("cvec"))
    Similarity.topKPerQuery(
      c.join(broadcast(probed), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("qvec"), col("cvec")).as("sim")),
      5)
  }

  test("IVF cells folded on the driver match the relational centroids bit for bit, and so do the searches") {
    val corpus = ivfCorpus
    val relational = relationalCells(corpus).collect().toSeq
    assert(relational.exists(_.isNullAt(0)), "the corpus should hold a null cell")
    val want = cellBits(relational)
    assert(want(99).isEmpty, "a cell of null vectors has an empty centroid")
    for (input <- Seq(corpus.coalesce(1), corpus.repartition(4, col("vec_id")))) {
      assert(cellBits(Similarity.cellCentroids(input, "label", "embedding", 64)) == want)
      val queries = input.filter(col("vec_id") < 10)
      // 11 non-null cells: a partial probe, all of them, and more than all
      for (nprobe <- Seq(3, want.size, want.size + 5)) {
        val got = Similarity.ivfTopK(input, queries, "vec_id", "embedding", "label",
          Similarity.cellCentroids(input, "label", "embedding", 64), k = 5, nprobe = nprobe)
          .collect().toSet
        assert(got.nonEmpty)
        assert(got == relationalIvf(input, queries, nprobe).collect().toSet, s"nprobe $nprobe")
      }
    }
  }
}
