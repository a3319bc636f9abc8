package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: argmax-cosine centroid assignment — the
  * k-means / IVF coarse-quantizer inner loop as ONE codegen'd kernel.
  *
  * Semantics are exactly the relational form it replaces
  * (`crossJoin(broadcast(centroids))` + `row_number() OVER (PARTITION BY id
  * ORDER BY sim DESC, cluster ASC) = 1`):
  *  - per-centroid similarity is [[CosineSimilarity]]'s law verbatim
  *    (double accumulation in index order, null element / length mismatch /
  *    zero magnitude → null similarity);
  *  - null similarities lose to any non-null one (DESC ordering puts NULLS
  *    LAST), ties break toward the LOWER cluster id;
  *  - when every similarity is null the lowest cluster id wins (the
  *    window form still emits rn=1 for such rows).
  *
  * The input centroid array must be sorted by cluster id ascending
  * ([[graft.functions.KMeans]] sorts its literal on the driver), so a
  * strict `>` scan gives the lower-id tie-break and slot 0 is the all-null
  * fallback.
  *
  * Documented deviations from the window form (ADVICE r9 — intentional,
  * all unreachable from the KMeans/IVF callers and oracle-pinned there):
  *  - a NULL input vector yields a NULL cluster (BinaryExpression null
  *    propagation), where crossJoin+row_number assigned such rows the
  *    lowest cluster id; the gated pipelines never produce null embeddings
  *    (ArrayReduce/JL projection outputs are non-null by construction);
  *  - NaN similarities are skipped by the strict `>` scan, where Spark's
  *    DESC ordering sorts NaN above any double — finite-input assumption,
  *    holds for all gated embeddings (no ±Inf/NaN elements);
  *  - Int.MinValue is the reserved interpreted/codegen null sentinel: a
  *    caller-supplied centroid table must not use it as a cluster id
  *    (KMeans ids are 0..k-1).
  *
  * WHY: the window form shuffles N·k exploded rows (with the vector
  * attached) per assignment pass — at any scale the argmax needs no
  * shuffle at all, just the k centroids shipped with the task. This
  * kernel makes assignment a pure map-side projection: the 100 TB cost of
  * one k-means iteration drops from a corpus-sized exchange to a scan.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _),
          ArrayType(StructType(Array(f0, f1)), _))
        if f0.dataType == IntegerType && f1.dataType.isInstanceOf[ArrayType] &&
          f1.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "nearest_centroid expects (array<float>, array<struct<int,array<float>>>), got " +
        s"${l.simpleString} / ${r.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def nullSafeEval(vec: Any, cents: Any): Any = {
    val out = NearestCentroid.nearest(
      vec.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
    if (out == Int.MinValue) null else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.expressions.NearestCentroid.nearest($a, $b);
         |if (${ev.value} == Integer.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** Static kernel shared by interpreted eval and generated code.
    * Returns Int.MinValue as the "null" sentinel (empty centroid array).
    */
  def nearest(vec: ArrayData, cents: ArrayData): Int = {
    val k = cents.numElements()
    if (k == 0) return Int.MinValue
    val n = vec.numElements()
    var best = Int.MinValue     // cluster id of current best
    var bestSim = 0.0
    var haveBest = false
    var fallback = Int.MaxValue // lowest cluster id seen (all-null case)
    var c = 0
    while (c < k) {
      // struct<cluster int, centroid array<float>>
      val row = cents.getStruct(c, 2)
      val cluster = row.getInt(0)
      if (cluster < fallback) fallback = cluster
      val cent = row.getArray(1)
      // CosineSimilarity's law verbatim: null element / length mismatch /
      // zero magnitude → null (skipped here: DESC puts NULLS LAST)
      if (cent != null && cent.numElements() == n) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        var nullElem = false
        while (i < n && !nullElem) {
          if (vec.isNullAt(i) || cent.isNullAt(i)) nullElem = true
          else {
            val xi = vec.getFloat(i).toDouble
            val yi = cent.getFloat(i).toDouble
            dot += xi * yi; na += xi * xi; nb += yi * yi
          }
          i += 1
        }
        if (!nullElem && na != 0.0 && nb != 0.0) {
          val sim = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
          // strict >: centroids arrive sorted by cluster asc, so the
          // first max wins = the lower cluster id on ties
          if (!haveBest || sim > bestSim) { haveBest = true; bestSim = sim; best = cluster }
        }
      }
      c += 1
    }
    if (haveBest) best else fallback
  }

  /** Column-API entry point (classic-mode Column↔Expression bridge). */
  def apply(vec: Column, cents: Column): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      NearestCentroid(
        org.apache.spark.sql.graftbridge.toExpression(vec),
        org.apache.spark.sql.graftbridge.toExpression(cents)))
}
