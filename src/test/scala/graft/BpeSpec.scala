package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Bpe

/** The driver-side BPE trainer and q161's driver rounds against the
  * relational rounds they replaced, and what the BPE queries leave behind.
  */
class BpeSpec extends SparkTestBase {

  private val MemDisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The relational trainer [[Bpe.train]] replaced: (word, pos, sym) rows,
    * and per round a lead() window for the pairs, a 1-row argmax, and
    * island detection over consecutive matches (take the odd ones, drop
    * the position each taken match consumes, renumber). Returns the merges
    * as (round, a, b, c) and the final symbol rows.
    */
  private def relationalTrain(words: DataFrame, nRounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    var syms = words.select(col("word"),
        posexplode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
      .select(col("word"), (col("pos") + 1).cast("long").as("pos"), col("col").as("sym"))
      .localCheckpoint(false, MemDisk)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to nRounds) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val best = withNext.filter(col("nxt").isNotNull)
        .join(words, Seq("word"))
        .groupBy(col("sym"), col("nxt")).agg(sum(col("cnt")).as("c"))
        .select(col("sym").as("a"), col("nxt").as("b"), col("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc).limit(1)
        .localCheckpoint(false, MemDisk)
      merges ++= best.collect().map(b => (r.toLong, b.getString(0), b.getString(1), b.getLong(2)))
      val marked = withNext.withColumn("_k", lit(1))
        .join(broadcast(best.select(lit(1).as("_k"), col("a"), col("b"))), Seq("_k"), "left")
        .drop("_k")
        .withColumn("m",
          coalesce(col("sym") === col("a") && col("nxt") === col("b"), lit(false)))
        .withColumn("rnm", sum(when(col("m"), 1L).otherwise(0L)).over(wOrd))
        .withColumn("island", when(col("m"), col("pos") - col("rnm")))
        .withColumn("irn", row_number().over(
          Window.partitionBy(col("word"), col("island")).orderBy(col("pos"))))
        .withColumn("take", col("m") && col("irn") % 2 === 1)
        .withColumn("consumed", coalesce(lag(col("take"), 1).over(wOrd), lit(false)))
      syms = marked.filter(!col("consumed"))
        .select(col("word"), col("pos"),
          when(col("take"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
        .withColumn("pos2", row_number().over(wOrd).cast("long"))
        .select(col("word"), col("pos2").as("pos"), col("sym"))
        .localCheckpoint(true, MemDisk)
    }
    (merges.result(), syms)
  }

  private def symRows(syms: DataFrame): Set[(String, Long, String)] =
    syms.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  /** Both trainers on `words`: equal merges and equal (word, pos, sym) rows. */
  private def assertSameTraining(words: DataFrame, nRounds: Int): Seq[(Long, String, String, Long)] = {
    val (wantMerges, wantSyms) = relationalTrain(words, nRounds)
    val got = Bpe.train(words, nRounds)
    val gotMerges = got.merges.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(gotMerges == wantMerges)
    assert(got.syms.columns.toSeq == Seq("word", "pos", "sym"))
    assert(symRows(got.syms) == symRows(wantSyms))
    gotMerges
  }

  private def dictionary(words: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    words.toDF("word", "cnt")
  }

  test("driver BPE training equals the relational rounds on the sf0.001 dictionary") {
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    assert(assertSameTraining(words, 8).length == 8)
  }

  test("driver BPE training equals the relational rounds on seeded words with regex metacharacters") {
    // regex metacharacters (a symbol `\E` ends a \Q quote, `$` is a group
    // reference in a replacement), runs of one letter, an inner and a final
    // line terminator, and a supplementary code point
    val alphabet = Seq("a", "a", "a", "b", ".", "*", "$", "\\", "E", "Q", "(", ")", "|",
      "?", "+", "[", "^", "\n", "\r", "𝄞", "é")
    val rnd = new scala.util.Random(20261020L)
    val generated = Seq.fill(300)(Seq.fill(1 + rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val fixed = Seq("aaaa", "aaaaaaa", "a\na", "ab\n", "\\E\\E", "$1$1", ".*.*", "𝄞𝄞𝄞")
    val words = (generated ++ fixed).distinct.map(w => w -> (1L + rnd.nextInt(5)))
    assert(assertSameTraining(dictionary(words), 30).length == 30)
    // (b, \n) first, then (a, b) must not match inside [a, "b\n"]: an end
    // anchor that also matches before a final line terminator would
    assert(assertSameTraining(dictionary(Seq("b\n" -> 5L, "ab" -> 3L, "ab\n" -> 1L)), 3).length == 3)
  }

  test("driver BPE training stops when fewer pairs are left than rounds") {
    val small = dictionary(Seq("ab" -> 2L, "c" -> 1L, "aaa" -> 1L))
    // three merges leave no word with two symbols
    assert(assertSameTraining(small, 5).map(_._1) == Seq(1L, 2L, 3L))
    val rnd = new scala.util.Random(7L)
    // six words of at most four symbols allow at most 18 merges
    val tiny = Seq.fill(6)(Seq.fill(1 + rnd.nextInt(4))("ab\n.$"(rnd.nextInt(5))).mkString)
      .distinct.map(_ -> 1L)
    assert(assertSameTraining(dictionary(tiny), 20).length < 20)
    assert(Bpe.train(dictionary(Seq("x" -> 3L)), 4).merges.count() == 0)
  }

  /** q161's rounds as relations, the form they had before they moved to the
    * driver: per round a Gram × v join, a max and a trunc-toward-zero div
    * in DECIMAL(38,0), over the q160 cells mirrored to the full matrix.
    */
  private def relationalPower(tri: DataFrame, d: Int, rounds: Int): DataFrame = {
    val sym = tri.select(col("i").as("gi"), col("j").as("gj"), col("gram"))
      .unionByName(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("gi"), col("i").as("gj"), col("gram")))
      .localCheckpoint(false)
    var v = spark.range(d).select(col("id").cast("int").as("dim"), lit(1000L).as("v"))
    for (_ <- 1 to rounds) {
      val w = sym.join(v, col("gj") === col("dim"))
        .groupBy(col("gi")).agg(sum(col("gram") * col("v")).as("w"))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      v = w.crossJoin(broadcast(mx))
        .select(col("gi").as("dim"),
          expr("(CAST(w AS DECIMAL(38,0)) * 1000) div mx").cast("long").as("v"))
        .localCheckpoint()
    }
    v
  }

  test("q161's driver rounds equal the relational rounds at sf0.001") {
    def vec(df: DataFrame): Seq[(Int, Long)] =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val tri = SparkEntry.queries("q160_gram_matrix")(spark, sf)
    val want = vec(relationalPower(tri, 64, 6))
    val got = SparkEntry.queries("q161_pca_power")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    assert(got.map(_._1) == (0 until 64), "rows come in dim order")
    assert(got == want)
  }

  test("q150, q156 and q228 each leave no RDD after the execution closes") {
    // The dictionary checkpoint is held while the execution runs and
    // released when it closes.
    val sc = spark.sparkContext
    for (name <- Seq("q150_bpe_merges", "q156_bpe_encode", "q228_bpe_tokenize")) {
      val before = sc.getPersistentRDDs.keySet
      Graft.execution(SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save())
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left ${left.size} persistent RDDs")
    }
  }
}
