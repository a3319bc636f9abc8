package graft

import org.apache.spark.sql.{Column, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.sources.Tables

package object queries {

  /** A timestamp literal in the fixtures' naive (NTZ) domain, so comparisons
    * against parquet NTZ columns need no timezone coercion.
    */
  def ntzLit(s: String): Column = lit(s).cast(TimestampNTZType)

  /** The media-synthesis id source: `documents.doc_id`, spread before
    * synthesis (codec-boundary rule, `graft.multimodal.Multimodal`). */
  def mediaIds(spark: SparkSession, sfDir: String): Dataset[Long] = Tables.spread(
    Tables.documents(spark, sfDir).select(col("doc_id")), col("doc_id")).as(Encoders.scalaLong)

  /** The override the recursive gates (q199/q200) run under, in their
    * cached child session (`graft.Graft.childSession`): the recursion
    * row-limit guardrail raised to 20 M — needed headroom for the gated
    * recursions, whose cumulative iteration output is LINEAR in the input
    * but crosses the 1 M default well inside gated territory (q199's
    * counter reaches n_orders = 1.5 M at sf1, i.e. the default trips below
    * sf1; q200's ~3n crosses near sf2.2). The caller's session keeps the
    * default: a runaway recursion authored against it still trips.
    */
  val RecursionRowLimit: (String, String) = "spark.sql.cteRecursionRowLimit" -> "20000000"

  /** Epoch seconds of an NTZ timestamp under the UTC session clock.
    * NTZ has no direct numeric cast; route through TIMESTAMP (identity under
    * the UTC session timezone) then LONG (truncates sub-second, matching
    * DuckDB's floor(epoch(ts))).
    */
  def epochSec(c: Column): Column = c.cast("timestamp").cast("long")

  /** Shared oracle for BOTH as-of implementations (q17 union+window and
    * q47 custom sort-merge exec): one source of truth so the two gates
    * cannot drift apart semantically.
    */
  val asofEventsOracleSql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.event_id pe, c.value cv, c.ts cts,
      |             ROW_NUMBER() OVER (PARTITION BY p.event_id
      |                                ORDER BY c.ts DESC, c.event_id DESC) rn
      |      FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
      |SELECT p.event_id, p.user_id, p.ts, j.cv AS asof_value, j.cts AS asof_time
      |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.pe = p.event_id
      |ORDER BY p.event_id ASC""".stripMargin
}
