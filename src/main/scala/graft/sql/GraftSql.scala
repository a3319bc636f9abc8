package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** SQL front-end over the engine's table catalog — the reference's own
  * unchecked roadmap item ("SQL AST / front-end", reference README.md:33).
  *
  * Spark-first means we do NOT build a parser: Catalyst's ANSI SQL parser,
  * analyzer, and optimizer ARE the front-end; this object supplies the
  * catalog binding (every fixture table registered as a temp view over its
  * parquet) so a user can run textual SQL against the same tables every
  * DataFrame-API operator in this library uses. Queries entering here get
  * the identical logical plans — and therefore the identical pushdown,
  * pruning, join-strategy, and AQE treatment — as the typed API: the two
  * surfaces converge in Catalyst, which is the whole point of choosing
  * Spark over a hand-built executor.
  *
  * At 100 TB the temp-view indirection costs nothing: a view is a named
  * logical plan, resolution happens at analysis time, and the physical scan
  * is the same pruned/pushed parquet scan the DataFrame path produces.
  */
object GraftSql {

  /** Register every fixture table as a temp view named after itself. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    registerViews(spark, sfDir, Tables.names)

  def registerViews(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** Bind the catalog, then run one SQL text through Catalyst.
    *
    * Only tables whose name appears in the text are registered — a cheap
    * over-approximation (a name inside a string literal also registers)
    * that is always safe, and it matters: registering a table costs a
    * parquet footer read. The match is
    * case-INsensitive because Catalyst resolves identifiers
    * case-insensitively: `FROM Orders` is legal SQL that must bind the
    * `orders` view (ADVICE r4).
    */
  def run(spark: SparkSession, sfDir: String, sqlText: String): DataFrame = {
    val lower = sqlText.toLowerCase
    registerViews(spark, sfDir, Tables.names.filter(n => lower.contains(n.toLowerCase)))
    spark.sql(sqlText)
  }
}
