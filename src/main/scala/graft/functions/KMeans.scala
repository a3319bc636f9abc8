package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.NearestCentroid

/** Lloyd's k-means over an embedding column (no MLlib dependency), as a
  * driver-resident loop with ONE Spark job per step: the k centroids are
  * k × dims floats, so they live on the driver and never become a relation
  * of their own.
  *  - Seed: one `collect` of the k lowest-id vectors; cluster ids 0..k-1 in
  *    id order.
  *  - Each iteration: one pass over the input — the native
  *    [[NearestCentroid]] kernel assigns every row against the centroids
  *    as a literal, and [[Aggregators.centroidBuffers]] folds the rows into
  *    ≤ k [[Aggregators.VectorCentroid]] buffers per task (the aggregate's
  *    own arithmetic and null/wrong-arity skipping), merged by
  *    `treeAggregate` on the way to the driver, which finishes them to
  *    floats. A cluster whose buffer holds no rows keeps its previous
  *    centroid — otherwise k silently shrinks across iterations.
  *
  * Why on the driver: under AQE every shuffle or broadcast stage is its
  * own job, and a job costs tens of milliseconds however little it reads,
  * so a k-row state kept as a relation pays that for every relational
  * step; here an iteration is a corpus scan and nothing else. At 100 TB an
  * iteration is still one scan with ≤ k buffers per task, and
  * `treeAggregate` bounds the driver's fan-in at about √partitions.
  *
  * Determinism: no RNG, and the argmax tie-break is the lowest cluster id,
  * so iterations are exactly reproducible. This turns
  * [[Similarity.ivfTopK]] into a true learned-quantizer IVF instead of
  * relying on a label column.
  */
object KMeans {

  /** Returns (assignments df: idCol, cluster; centroids df: cluster,
    * centroid array<float>). The centroids df is a local relation: reading
    * it back starts no job.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      iterations: Int): (DataFrame, DataFrame) = {
    // null when the seed row's vector is null (the kernel skips it)
    var centroids: Array[collection.Seq[Float]] = df.select(col(idCol), col(vecCol))
      .orderBy(col(idCol).asc).limit(k).collect().map(_.getSeq[Float](1))
    val n = centroids.length
    val agg = new Aggregators.VectorCentroid(dims)
    for (_ <- 0 until iterations) {
      val cents = centroidLit(centroids.toSeq.zipWithIndex.map(_.swap))
      // a null vector has a null cluster: neither counted nor assigned
      val bufs = Aggregators.centroidBuffers(
        df.select(NearestCentroid(col(vecCol), cents), col(vecCol)), dims)
      centroids = Array.tabulate(n) { c =>
        bufs.get(c).filter(_.n > 0).fold(centroids(c))(agg.finish(_).map(_.toFloat))
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val centroidDf = centroids.toSeq.zipWithIndex.map(_.swap).toDF("cluster", "centroid")
    (assign(df, idCol, vecCol, centroidDf), centroidDf)
  }

  /** Nearest-centroid assignment: (idCol, cluster) — a projection, no
    * shuffle.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    assignAll(df.select(col(idCol), col(vecCol)), vecCol, centroids)
      .select(col(idCol), col("cluster"))

  /** Nearest-centroid assignment keeping EVERY input column (+ cluster):
    * the k-row centroid table is collected (no job when it is the local
    * relation [[fit]] returns), sorted by cluster id on the driver — the
    * kernel's tie-break contract — and the argmax runs per row inside
    * codegen against it as a literal. Callers that need the vector next to
    * the cluster (the IVF cell build) use this and skip the corpus-sized
    * re-join by id an (id, cluster)-only result would force.
    */
  def assignAll(df: DataFrame, vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cluster"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    df.withColumn("cluster", NearestCentroid(col(vecCol), centroidLit(cents.toSeq)))
  }

  /** The kernel's array<struct<cluster int, centroid array<float>>>. */
  private def centroidLit(cents: Seq[(Int, collection.Seq[Float])]): Column = typedLit(cents)
}
