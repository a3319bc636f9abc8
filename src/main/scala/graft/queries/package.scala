package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

package object queries {

  /** A timestamp literal in the fixtures' naive (NTZ) domain, so comparisons
    * against parquet NTZ columns need no timezone coercion.
    */
  def ntzLit(s: String): Column = lit(s).cast(TimestampNTZType)

  /** An isolated child session: own SQLConf and temp-view catalog over the
    * SHARED SparkContext (and table/block caches), for queries that need a
    * conf override or scratch views. Strictly stronger than save/restore
    * on the caller's session: nothing SHARED is ever mutated, so there is
    * no restore to get wrong, no window where a concurrent query on the
    * parent session observes the override, and nothing leaks to the
    * parent if the query throws. Whether the child is discarded after one
    * use or cached (see [[recursionSession]]) is the caller's choice —
    * either way the parent is untouched. Execution-relevant session confs
    * are mirrored from the parent (they normally arrive via SparkConf at
    * context creation, but a caller may have set them on the session
    * after creation).
    */
  def isolatedSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val iso = s.newSession()
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
      .foreach(k => s.conf.getOption(k).foreach(v => iso.conf.set(k, v)))
    iso
  }

  // One recursion child per parent session, weak-keyed so a discarded
  // parent doesn't pin its child. newSession() builds a fresh
  // SessionState (analyzer, rule chains, conf) — ~1–1.5 s of first-use
  // cost that a per-invocation child would pay on EVERY bench round;
  // caching pays it once per parent. The child's conf is set ONCE at
  // creation and never mutated afterwards, so concurrent queries on the
  // cached child cannot race on conf; scratch views stay safe via
  // per-invocation unique names.
  private val recSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession]())

  /** The shared RECURSION session for `s`: an isolated child (own SQLConf
    * + temp-view catalog over the shared SparkContext) with the recursion
    * row-limit guardrail pre-raised to 20 M — needed headroom for the
    * gated recursions, whose cumulative iteration output is LINEAR in the
    * input but crosses the 1 M default well inside gated territory
    * (q199's counter reaches n_orders = 1.5 M at sf1, i.e. the default
    * trips below sf1; q200's ~3n crosses near sf2.2). The PARENT
    * session's guardrail, conf, and catalog are never touched: a runaway
    * recursion authored against the shared session still trips the
    * default limit.
    */
  def recursionSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    recSessions.synchronized {
      var iso = recSessions.get(s)
      if (iso == null) {
        iso = isolatedSession(s)
        iso.conf.set("spark.sql.cteRecursionRowLimit", "20000000")
        recSessions.put(s, iso)
      }
      iso
    }

  private val viewCounter = new java.util.concurrent.atomic.AtomicLong()

  /** A per-invocation-unique temp-view name: the cached recursion session
    * is shared across invocations, so a fixed scratch-view name would race
    * under concurrent execution of the same query.
    */
  def freshViewName(prefix: String): String =
    prefix + "_" + viewCounter.incrementAndGet()

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
