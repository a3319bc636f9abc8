package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the hashed-linear gram score of q217/q229
  * — Σ over unigrams and adjacent bigrams g of
  * `md5_60("w:" + g) % 2001 − 1000`, where md5_60 is the first 15 hex
  * chars of the MD5 digest as a long (the engine-portable hash every
  * oracle replays with `('0x'||substr(md5(...),1,15))::BIGINT`).
  * Bit-identical to the `aggregate(grams, ...)` builtin composition it
  * replaces: same tokenization (split on a literal space, Java negative-
  * limit semantics — trailing empties kept, empty text scores its one
  * empty token), same gram order, same modular arithmetic — both gates'
  * oracles are unchanged.
  *
  * WHY native (the q223/CdcChunks lesson, NOTES_r9 #12): the builtin
  * form evaluates the md5-per-gram lambda on the SHARED interpreted
  * eval path (higher-order functions are CodegenFallback), which makes
  * the suite's heaviest query both slower than it needs to be and
  * exposed to session-wide JIT profile pollution. This kernel is one
  * tight loop per document over the shared md5-60 helper — fused
  * into whole-stage codegen, immune to expression-eval profile state.
  *
  * 100 TB note: O(grams) digest work per document, map-side at the scan.
  */
case class GramScore(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_score expects a string input, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    GramScore.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.GramScore.score($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramScore {

  /** md5_60("w:" + g) % 2001 − 1000 — the per-gram weight. */
  private def weight(g: String): Long =
    graft.functions.TextFunctions.md5Hash60Of("w:" + g) % 2001L - 1000L

  /** Static kernel shared by interpreted eval and generated code. */
  def score(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1) // negative limit: trailing empties kept
    var sum = 0L
    var i = 0
    while (i < toks.length) {
      sum += weight(toks(i))
      if (i + 1 < toks.length) sum += weight(toks(i) + " " + toks(i + 1))
      i += 1
    }
    sum
  }

  /** Column-API entry point (classic-mode Column↔Expression bridge). */
  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      GramScore(org.apache.spark.sql.graftbridge.toExpression(c)))
}
