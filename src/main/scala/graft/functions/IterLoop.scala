package graft.functions

import org.apache.spark.sql.SparkSession

/** Shuffle-partition right-sizing for ITERATIVE loops over a small or
  * shrinking frontier (r10, guide §2.2 / the r9-verdict inverse-scaling
  * item): a fixed-point loop pays its reduce-side fixed cost — one task +
  * one state/checkpoint block per shuffle partition — EVERY round, so at
  * `spark.sql.shuffle.partitions = 32` a 12-round peel over a few thousand
  * rows schedules hundreds of near-empty tasks and runs SLOWER at 32 cores
  * than at 8 (BENCH_r09: q162 6.9 s @32c vs ≤4.3 s @8c, q170 8.8 s @32c).
  *
  * The count is derived from the MEASURED live row count, never a constant:
  * `partitionsFor(rows)` targets [[TargetRowsPerPartition]] rows per
  * reduce task and clamps to [1, defaultParallelism] — at corpus scale the
  * clamp returns full parallelism (no behavior change where the data is
  * big), and on a small frontier the loop degenerates to the handful of
  * tasks the data actually needs. Results are partitioning-independent
  * (hash partitioning only moves keys between reducers).
  *
  * A loop plans on [[session]]: a cached child of the caller's session whose
  * shuffle-partition count is the loop's (`graft.Graft.childSession`). It
  * moves its inputs there with `Graft.onSession` and moves its result back,
  * so the caller's session is never written and later work on the result
  * plans at the caller's own settings. A plan-local `repartition(n, keys)`
  * cannot do this for a join: when every join input has fewer partitions
  * than the session default, EnsureRequirements re-shuffles both inputs to
  * the default (its minimum-parallelism rule), so a two-input round would
  * run at the session default whatever the inputs carry. Within a loop
  * session, a static relation pinned once with `repartition(parts, key)` +
  * localCheckpoint co-partitions with every round's exchange, so each round
  * shuffles only the changing side (guide §2.4); AQE leaves that
  * user-numbered repartition alone.
  */
object IterLoop {

  /** ~rows per reduce task inside an iterative loop: small enough that a
    * gate-scale frontier collapses to a couple of tasks, large enough that
    * a task amortizes its scheduling cost.
    */
  val TargetRowsPerPartition: Long = 65536L

  /** Partition count for a loop whose live relation holds ~`rows` rows. */
  def partitionsFor(spark: SparkSession, rows: Long): Int = {
    val par = spark.sparkContext.defaultParallelism
    val want = math.ceil(rows.toDouble / TargetRowsPerPartition).toLong
    math.max(1L, math.min(par.toLong, want)).toInt
  }

  /** The session a loop with `parts` shuffle partitions plans on. */
  def session(spark: SparkSession, parts: Int): SparkSession =
    graft.Graft.childSession(spark, "spark.sql.shuffle.partitions" -> parts.toString)
}
