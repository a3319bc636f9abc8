package graft.functions

import java.util.regex.{Matcher, Pattern}
import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE (Sennrich et al., ACL 2016): learn pair merges over a
  * word-frequency dictionary and apply them.
  *
  * Shared by q150 (the merge trace), q156 (encoding with the trained
  * merges) and q228 (tokenizing) so the training semantics cannot drift
  * between gates; the [[oracle]] builders emit the DuckDB replay of the
  * SAME rounds so the queries' oracles come from one template too.
  *
  * Scale: BPE trains on the DICTIONARY (|vocab| rows) — the only
  * corpus-sized work is the word-count aggregation the caller does. Each
  * word's symbols are one `array<string>` column over the dictionary, and
  * the carried state is the merge list (at most `nRounds` pairs), so it
  * lives on the driver: a round is one weighted pair-count aggregate whose
  * best pair is collected, and the merge is one codegen'd `regexp_replace`
  * over the space-joined symbols in the next round's projection.
  */
object Bpe {

  /** `merges` is (round, a, b, c) in round order, a local relation; `syms`
    * is (word, pos, sym), pos 1-based.
    */
  final case class Trained(merges: DataFrame, syms: DataFrame)

  /** (round, a, b, c): round's pair a b, merged into a + b, had count c. */
  private type Merge = (Long, String, String, Long)

  /** Run up to `nRounds` merge rounds over `words` (word, cnt): weighted
    * adjacent-pair counts, argmax pair (count desc, pair lexical asc),
    * greedy left-to-right non-overlapping replacement. Training stops early
    * once no word has two symbols left. Words must hold no space: the
    * merge splits the joined symbols on " ".
    */
  def train(words: DataFrame, nRounds: Int): Trained = {
    @tailrec def rounds(r: Int, symbols: Column, merges: Vector[Merge]): (Column, Vector[Merge]) =
      if (r > nRounds) (symbols, merges)
      else bestPair(words, symbols) match {
        case Some((a, b, c)) => rounds(r + 1, merge(symbols, a, b), merges :+ ((r.toLong, a, b, c)))
        case None => (symbols, merges)
      }
    // one symbol per code point, as substring counts them; (?s) keeps an
    // inner line terminator as a symbol
    val (symbols, merges) = rounds(1, regexp_extract_all(col("word"), lit("(?s)."), lit(0)), Vector.empty)
    Trained(
      words.sparkSession.createDataFrame(merges).toDF("round", "a", "b", "c"),
      words.select(col("word"), posexplode(symbols))
        .select(col("word"), (col("pos") + 1).cast("long").as("pos"), col("col").as("sym")))
  }

  /** The (a, b) pair with the highest count summed over `cnt` (then a, then
    * b ascending) in the `symbols` of `words`; None when no word has two
    * symbols left.
    */
  private def bestPair(words: DataFrame, symbols: Column): Option[(String, String, Long)] = {
    val s = col("s")
    val n = size(s) - 1
    words.select(col("cnt"), symbols.as("s"))
      .filter(size(s) > 1)
      .select(col("cnt"), explode(arrays_zip(slice(s, lit(1), n), slice(s, lit(2), n))).as("p"))
      .groupBy(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
      .agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("a").asc, col("b").asc)
      .head(1).headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Replace every adjacent (a, b) in `symbols` with `a + b`. The symbols
    * are joined on " " and each match must span two whole symbols; Java's
    * left-to-right, non-overlapping scan is BPE's greedy rule (a a a ->
    * aa a). The pair is data, so it is quoted for the pattern and the
    * replacement, and the end anchor is \z: $ also matches before a final
    * line terminator.
    */
  private def merge(symbols: Column, a: String, b: String): Column =
    split(regexp_replace(array_join(symbols, " "),
      "(?<=\\A| )" + Pattern.quote(a) + " " + Pattern.quote(b) + "(?= |\\z)",
      Matcher.quoteReplacement(a + b)), " ")

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
