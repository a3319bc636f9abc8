package graft.functions

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom aggregate surface (SURVEY.md §2.9): the engine's UDAF tier is
  * `Aggregator[IN, BUF, OUT]` — typed, mergeable (associative partial
  * aggregation, so it parallelizes like any built-in agg at 100 TB).
  */
object Aggregators {

  /** Buffer for [[VectorCentroid]]: dim-wise double sums + row count. */
  case class CentroidBuf(sums: Array[Double], n: Long)

  /** Element-wise vector mean (centroid) of an embedding column. The buffer
    * merge is element-wise addition — exactly the decomposable shape
    * HashAggregate partial/final needs, so the shuffle carries one
    * (dims+1)-wide buffer per group per partition, never the vectors.
    */
  class VectorCentroid(dims: Int)
      extends Aggregator[Seq[Float], CentroidBuf, Seq[Double]] {
    override def zero: CentroidBuf = CentroidBuf(Array.fill(dims)(0.0), 0L)
    override def reduce(b: CentroidBuf, v: Seq[Float]): CentroidBuf = {
      // null or wrong-arity vectors are skipped entirely (counting them
      // would silently drag missing dimensions toward 0)
      if (v == null || v.length != dims) return b
      var i = 0
      while (i < dims) { b.sums(i) += v(i); i += 1 }
      CentroidBuf(b.sums, b.n + 1)
    }
    override def merge(x: CentroidBuf, y: CentroidBuf): CentroidBuf = {
      var i = 0
      while (i < dims) { x.sums(i) += y.sums(i); i += 1 }
      CentroidBuf(x.sums, x.n + y.n)
    }
    override def finish(b: CentroidBuf): Seq[Double] =
      if (b.n == 0) Seq.empty else b.sums.map(_ / b.n).toSeq
    override def bufferEncoder: Encoder[CentroidBuf] = ExpressionEncoder[CentroidBuf]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** Column-API centroid aggregate over an array<float> column. */
  def vectorCentroid(vec: Column, dims: Int): Column =
    udaf(new VectorCentroid(dims), ExpressionEncoder[Seq[Float]]()).apply(vec)

  /** One [[VectorCentroid]] buffer per non-null `key` of `rows`, whose
    * ordinal 1 holds the array<float> vector, folded on the driver in ONE
    * Spark job: each task reduces its rows into a buffer per key with the
    * aggregate's own `reduce`, and `treeAggregate` (depth 2) merges the
    * per-task maps on the way to the driver. A null or wrong-arity vector
    * still creates its key's buffer, holding no rows, as a relational group
    * of such rows does. `key` gives a row's key, null to skip the row.
    *
    * For state bounded by the key count (k-means clusters, IVF cells): the
    * relational `groupBy(key).agg(vectorCentroid)` costs an exchange, and
    * under AQE a job of its own, every time it is read.
    */
  private[graft] def centroidBuffers(rows: RDD[InternalRow], dims: Int)(
      key: InternalRow => Any): collection.Map[Any, CentroidBuf] = {
    val agg = new VectorCentroid(dims)
    rows.treeAggregate(mutable.HashMap.empty[Any, CentroidBuf])(
      (m, r) => {
        val k = key(r)
        if (k != null) {
          val v = if (r.isNullAt(1)) null else ArraySeq.unsafeWrapArray(r.getArray(1).toFloatArray())
          m(k) = agg.reduce(m.getOrElse(k, agg.zero), v)
        }
        m
      },
      (x, y) => { y.foreach { case (k, b) => x(k) = x.get(k).fold(b)(agg.merge(_, b)) }; x },
      depth = 2)
  }
}
