package graft.functions

import org.apache.spark.sql.{DataFrame, Row, graftbridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
import graft.expressions.NearestCentroid

/** Lloyd's k-means over an embedding column (no MLlib dependency), as a
  * driver-resident loop with ONE Spark job per step: the k centroids are
  * k × dims floats, so they live on the driver and never become a relation
  * of their own. The input is planned once, as one `toRdd` of its
  * (id, vector) rows that the seed and every step read.
  *  - Seed: one `takeOrdered` of the k lowest-id rows; cluster ids 0..k-1
  *    in id order.
  *  - Each iteration: one `treeAggregate` — the native
  *    [[NearestCentroid.nearest]] kernel assigns every row against the
  *    centroids, and [[Aggregators.centroidBuffers]] folds the rows into
  *    ≤ k [[Aggregators.VectorCentroid]] buffers per task (the aggregate's
  *    own arithmetic and null/wrong-arity skipping), which the driver
  *    merges and finishes to floats. A cluster whose buffer holds no rows
  *    keeps its previous centroid — otherwise k silently shrinks.
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

  /** The k centroids, a driver value: (cluster int, centroid array<float>)
    * rows in cluster id order; a seed's null vector is a null centroid. */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      iterations: Int): Seq[Row] = {
    val input = df.select(col(idCol), col(vecCol))
    val rows = input.queryExecution.toRdd
    // orderBy(idCol.asc): nulls first. The scan reuses its row object, so
    // each row is copied before the bounded queue keeps it.
    val byId = new InterpretedOrdering(Seq(SortOrder(
      BoundReference(0, input.schema.head.dataType, nullable = true), Ascending)))
    var centroids: Seq[Row] = rows.map(_.copy()).takeOrdered(k)(byId).toSeq.zipWithIndex
      .map { case (r, c) => Row(c, if (r.isNullAt(1)) null else r.getArray(1).toFloatArray().toSeq) }
    val agg = new Aggregators.VectorCentroid(dims)
    for (_ <- 0 until iterations) {
      val cents = literal(centroids).value.asInstanceOf[ArrayData]
      // a null vector has a null cluster: neither counted nor assigned
      val bufs = Aggregators.centroidBuffers(rows, dims) { r =>
        if (r.isNullAt(1)) null else NearestCentroid.nearest(r.getArray(1), cents)
      }
      centroids = centroids.map { case Row(c: Int, prev) =>
        Row(c, bufs.get(c).filter(_.n > 0).fold(prev)(agg.finish(_).map(_.toFloat)))
      }
    }
    centroids
  }

  /** Nearest-centroid assignment: (idCol, cluster) — a projection, no
    * shuffle.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, centroids: Seq[Row]): DataFrame =
    assignAll(df.select(col(idCol), col(vecCol)), vecCol, centroids)
      .select(col(idCol), col("cluster"))

  /** Nearest-centroid assignment keeping EVERY input column (+ cluster):
    * the argmax runs per row inside codegen against [[fit]]'s centroids
    * as one literal. Callers that need the vector next to the cluster (the
    * IVF cell build) use this and skip the corpus-sized re-join by id an
    * (id, cluster)-only result would force.
    */
  def assignAll(df: DataFrame, vecCol: String, centroids: Seq[Row]): DataFrame =
    df.withColumn("cluster", NearestCentroid(col(vecCol), graftbridge.toColumn(literal(centroids))))

  /** The kernel's array<struct<cluster int, centroid array<float>>>,
    * sorted by cluster id: its tie-break contract. */
  private def literal(centroids: Seq[Row]): Literal =
    Literal.create(centroids.sortBy(_.getInt(0)), ArrayType(StructType(Seq(
      StructField("cluster", IntegerType), StructField("centroid", ArrayType(FloatType))))))
}
