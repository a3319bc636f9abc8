package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}

import graft.Graft
import graft.sources.Tables

/** SQL front-end over the engine's table catalog — the reference's own
  * unchecked roadmap item ("SQL AST / front-end", reference README.md:33).
  *
  * Spark-first means we do NOT build a parser: Catalyst's ANSI SQL parser,
  * analyzer, and optimizer ARE the front-end; this object supplies the
  * table binding so a user can run textual SQL against the same tables
  * every DataFrame-API operator in this library uses. Queries entering here
  * get the identical logical plans — and therefore the identical pushdown,
  * pruning, join-strategy, and AQE treatment — as the typed API: the two
  * surfaces converge in Catalyst, which is the whole point of choosing
  * Spark over a hand-built executor.
  *
  * [[sql]] is the one way graft binds tables into SQL text: every name is
  * a temp view on a throwaway clone of the caller's session, so the
  * caller's catalog is never read for those names nor written, and two
  * queries that bind the same name to different tables, at once on one
  * session, never see each other's. At 100 TB the binding costs nothing:
  * a view is a named logical plan resolved at analysis time, and the
  * physical scan is the same pruned/pushed parquet scan the DataFrame path
  * produces.
  */
object GraftSql {

  /** `sqlText` analyzed with each of `tables` bound to its name, as a
    * DataFrame of `session`. The names live on a clone of `session` (its
    * conf, functions and temp views as of the call) that is garbage once
    * the text is analyzed: nothing needs a unique name, a lock or a drop.
    * The clone costs about 1 ms and analyzes as fast as a cached child
    * (measured figures at `Graft.childSessions`).
    */
  def sql(session: SparkSession, sqlText: String, tables: (String, DataFrame)*): DataFrame = {
    val clone = graftbridge.cloneSession(session)
    tables.foreach { case (name, df) => Graft.onSession(clone, df).createOrReplaceTempView(name) }
    Graft.onSession(session, clone.sql(sqlText))
  }

  /** One SQL text over the fixture tables of `sfDir`, each bound to its own
    * name.
    *
    * Only the tables the text names ([[tablesNamedIn]]) are loaded: a load
    * starts no job, but still lists its files and reads a footer. Tables
    * load on `spark` itself, so a loader that runs on a cached child
    * session keys its cache on `spark`.
    */
  def run(spark: SparkSession, sfDir: String, sqlText: String): DataFrame =
    sql(spark, sqlText, tablesNamedIn(sqlText).map(t => t -> Tables.load(spark, sfDir, t)): _*)

  /** The fixture tables whose name appears in `sqlText` as a whole word —
    * `n_regionkey` names no `region` — case-INsensitively, because Catalyst
    * resolves identifiers case-insensitively: `FROM Orders` is legal SQL
    * that must bind `orders` (ADVICE r4). A cheap over-approximation (a name
    * inside a string literal or used as an alias also counts) that is
    * always safe.
    */
  private[graft] def tablesNamedIn(sqlText: String): Seq[String] =
    Tables.names.filter(n => s"(?i)\\b$n\\b".r.findFirstIn(sqlText).isDefined)
}
