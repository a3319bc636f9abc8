package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-gram shingles of a space-tokenized
  * document, in all four forms the corpus-statistics tier consumes —
  * strings or md5-60-bit hashes, multiset (positional) or distinct
  * (first-occurrence order). One tight loop per document, fused into
  * whole-stage codegen.
  *
  * Bit-identical to the builtin compositions it replaces
  * ([[graft.functions.TextFunctions.wordShinglesAll]] et al.):
  *  - tokens = split(text, " ") with Java negative-limit semantics
  *    (trailing empties kept; empty text yields one empty token);
  *  - shingle i = concat_ws(" ", tokens[i..i+n-1]), i ∈ [0, len−n];
  *    fewer than n tokens → EMPTY array (the callers' `when().otherwise`
  *    contract; null text stays null here — the Column wrappers coalesce
  *    to empty, preserving the old null law exactly);
  *  - hashed form = md5Hash60(shingle): first 15 hex chars of the MD5
  *    digest as a non-negative long (the engine-portable hash every
  *    oracle replays with `('0x'||substr(md5(g),1,15))::BIGINT`);
  *  - distinct form keeps the FIRST occurrence's position (array_distinct
  *    law).
  *
  * WHY native (the q223/CdcChunks lesson, NOTES_r9 #12): the builtin
  * forms run `transform`/`aggregate` lambdas — higher-order functions are
  * CodegenFallback — so every shingle of every document was evaluated on
  * the SHARED interpreted eval path: slower than it needs to be, and
  * exposed to session-wide megamorphic JIT profile pollution (the r8
  * driver's "one catastrophic round" signature). 100 TB: O(tokens) work
  * per document, map-side at the scan.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean, hashed: Boolean)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects a string input, got ${t.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(if (hashed) LongType else StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingles(input.asInstanceOf[UTF8String], n, distinct, hashed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.WordShingles.shingles($c, $n, $distinct, $hashed)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  /** Static kernel shared by interpreted eval and generated code. */
  def shingles(s: UTF8String, n: Int, distinct: Boolean, hashed: Boolean): ArrayData = {
    val toks = s.toString.split(" ", -1) // negative limit: trailing empties kept
    val m = toks.length - n + 1
    if (m <= 0) {
      return if (hashed) org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
      else new GenericArrayData(Array.empty[Any])
    }
    // build each shingle once; reuse a single StringBuilder
    val sb = new java.lang.StringBuilder
    if (hashed) {
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        out(i) = graft.functions.TextFunctions.md5Hash60Of(sb.toString)
        i += 1
      }
      if (!distinct) return ArrayData.toArrayData(out)
      // first-occurrence distinct (array_distinct law)
      val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
      var j = 0
      while (j < m) { seen.add(out(j)); j += 1 }
      val ded = new Array[Long](seen.size)
      val it = seen.iterator()
      var p = 0
      while (it.hasNext) { ded(p) = it.next(); p += 1 }
      ArrayData.toArrayData(ded)
    } else {
      if (!distinct) {
        val out = new Array[Any](m)
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var k = 0
          while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      } else {
        val seen = new java.util.LinkedHashSet[String](m * 2)
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var k = 0
          while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[Any](seen.size)
        val it = seen.iterator()
        var p = 0
        while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
        new GenericArrayData(out)
      }
    }
  }

  /** Column-API entry point (classic-mode Column↔Expression bridge). */
  def apply(text: Column, n: Int, distinct: Boolean, hashed: Boolean): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      WordShingles(org.apache.spark.sql.graftbridge.toExpression(text),
        n, distinct, hashed))
}
