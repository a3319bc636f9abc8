package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Relational BPE (Sennrich et al., ACL 2016): learn pair merges over a
  * word-frequency dictionary and apply them, entirely as DataFrame ops.
  *
  * Shared by q150 (the merge trace) and q156 (encoding with the trained
  * merges) so the training semantics cannot drift between gates; the
  * [[oracle]] builders emit the DuckDB replay of the SAME rounds so both
  * queries' oracles come from one template too.
  *
  * Scale: BPE trains on the DICTIONARY (|vocab| rows) — the only
  * corpus-sized work is the word-count aggregation the caller does; each
  * round shuffles ≤ Σ|word| symbol rows, constant rounds, localCheckpoint
  * per round keeps plan depth flat (q68's pattern).
  */
object Bpe {

  // MEMORY_AND_DISK, not MEMORY_ONLY: localCheckpoint truncates lineage,
  // so an LRU-evicted MEMORY_ONLY block is unrecomputable — a hard crash
  // under storage pressure (ADVICE r8). This level spills only ON
  // eviction; the healthy path never touches disk.
  private val CkptLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  final case class Trained(merges: Vector[DataFrame], syms: DataFrame)

  /** (word, pos, sym) char-level symbol rows, pos 1-based. Callers must
    * have filtered empty words (Spark's sequence(1,0) is the descending
    * [1,0], not empty — see q150's guard).
    */
  def initialSymbols(words: DataFrame): DataFrame =
    words.select(col("word"),
      posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
      .select(col("word"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("sym"))

  /** Run `nRounds` merge rounds. Each round: weighted adjacent-pair
    * counts, argmax pair (count desc, pair lexical asc), greedy
    * left-to-right non-overlapping replacement (island detection over
    * consecutive matched positions, odd-index take), renumber.
    */
  def train(words: DataFrame, nRounds: Int): Trained = {
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    // checkpoint the char-level symbol table (round 1 reads it through two
    // consumers) and size the per-round shuffles to the measured symbol
    // count (r10, guide §2.2 — the dictionary is |vocab|·avg-len rows, so
    // a fixed 32-partition round pays far more scheduling than compute;
    // the clamp keeps corpus-scale dictionaries at full parallelism). The
    // count materializes the one corpus-sized word aggregate, a job round 1
    // was about to run anyway.
    val spark = words.sparkSession
    var syms = initialSymbols(words).localCheckpoint(false, CkptLevel)
    val loop = IterLoop.session(spark, IterLoop.partitionsFor(spark, syms.count()))
    val dict = Graft.onSession(loop, words)
    syms = Graft.onSession(loop, syms)
    var bests = Vector.empty[DataFrame]
    for (r <- 1 to nRounds) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val best = withNext.filter(col("nxt").isNotNull)
        .join(dict, Seq("word"))
        .groupBy(col("sym"), col("nxt")).agg(sum(col("cnt")).as("c"))
        .select(col("sym").as("a"), col("nxt").as("b"), col("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc).limit(1)
        // consumed by the merge AND the caller; spill-on-eviction — these are
        // 1-row / dictionary-sized tables, eviction-spill is free and the
        // lineage-free block can never be lost to LRU (ADVICE r8)
        .localCheckpoint(false, CkptLevel)
      bests :+= best.select(lit(r.toLong).as("round"), col("a"), col("b"), col("c"))
      // LEFT join on a constant key, not crossJoin: once pairs are
      // exhausted `best` is EMPTY and a cross join would silently collapse
      // every remaining symbol row (q156's encoder would lose the corpus);
      // with the left join a/b are null → no match → symbols pass through
      val marked = withNext.withColumn("_k", lit(1))
        .join(broadcast(best.select(lit(1).as("_k"), col("a"), col("b"))),
          Seq("_k"), "left")
        .drop("_k")
        .withColumn("m",
          coalesce(col("sym") === col("a") && col("nxt") === col("b"), lit(false)))
        .withColumn("rnm", sum(when(col("m"), 1L).otherwise(0L)).over(wOrd))
        .withColumn("island", when(col("m"), col("pos") - col("rnm")))
        .withColumn("irn", row_number().over(
          Window.partitionBy(col("word"), col("island")).orderBy(col("pos"))))
        .withColumn("take", col("m") && col("irn") % 2 === 1)
        .withColumn("consumed",
          coalesce(lag(col("take"), 1).over(wOrd), lit(false)))
      syms = marked.filter(!col("consumed"))
        .select(col("word"), col("pos"),
          when(col("take"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym"))
        .withColumn("pos2", row_number().over(wOrd).cast("long"))
        .select(col("word"), col("pos2").as("pos"), col("sym"))
        .localCheckpoint(true, CkptLevel)
    }
    Trained(bests.map(Graft.onSession(spark, _)), Graft.onSession(spark, syms))
  }

  /** DuckDB oracle fragments replaying the identical rounds. */
  object oracle {
    /** `words` + `syms0` base CTE bodies (no WITH keyword). */
    val baseCtes: String =
      """words AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) >= 1
        |  GROUP BY word),
        |syms0 AS (
        |  SELECT word, CAST(i AS BIGINT) AS pos,
        |         substr(word, CAST(i AS INTEGER), 1) AS sym
        |  FROM words, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) t)""".stripMargin

    def roundCtes(r: Int): String = {
      val prev = if (r == 1) "syms0" else s"syms${r - 1}"
      s"""wn$r AS (
         |  SELECT word, pos, sym,
         |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM $prev),
         |best$r AS (
         |  SELECT sym AS a, nxt AS b, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM wn$r JOIN words USING (word)
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |mk$r AS (
         |  SELECT w.word, w.pos, w.sym, w.nxt,
         |         COALESCE(w.sym = b.a AND w.nxt = b.b, false) AS m
         |  FROM wn$r w LEFT JOIN best$r b ON true),
         |rn$r AS (
         |  SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY word ORDER BY pos) AS rnm
         |  FROM mk$r),
         |ir$r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY word, island ORDER BY pos) AS irn
         |  FROM (SELECT *, CASE WHEN m THEN pos - rnm END AS island FROM rn$r)),
         |cs$r AS (
         |  SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos),
         |                     false) AS consumed
         |  FROM (SELECT *, (m AND irn % 2 = 1) AS take FROM ir$r)),
         |syms$r AS (
         |  SELECT word,
         |         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |         CASE WHEN take THEN sym || nxt ELSE sym END AS sym
         |  FROM cs$r WHERE NOT consumed)""".stripMargin
    }

    /** Full `WITH ...` prefix through `syms<n>`. */
    def withPrefix(n: Int): String =
      s"WITH $baseCtes,\n${(1 to n).map(roundCtes).mkString(",\n")}"
  }
}
