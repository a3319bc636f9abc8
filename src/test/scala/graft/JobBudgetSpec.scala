package graft

import java.nio.file.Paths
import graft.sources.Tables

/** Per-query Spark job budgets at sf0.1, the scale the benchmark runs.
  * Under AQE every job costs tens of milliseconds however little it reads,
  * so a job that only moves a small, bounded state is a fixed cost per
  * query. A budget may only shrink.
  */
class JobBudgetSpec extends SparkTestBase {

  private val sf01 = Paths.get(sf).resolveSibling("sf0.1").toString

  private def jobsStartedBy(body: => Unit): Int =
    new JobGroupCounter().run(spark.sparkContext)(body).jobs.get

  test("Tables.load starts no job, for each of the ten tables") {
    val started = Tables.names.map(t => t -> jobsStartedBy(Tables.load(spark, sf01, t)))
    assert(started.forall(_._2 == 0), started.mkString(", "))
  }

  // build plus the noop write perfbench times; q177 folds its Bloom
  // sketch in one job and q68 fits k-means in 1 + 3 (a seed and three
  // Lloyd steps), and each sorts its bounded result in one task, with no
  // range-sample job. q150 trains 5 BPE rounds of one pair-count aggregate
  // and one argmax each, q161 collects one Gram row.
  // q81 and q117 enter the two connected-components loops, whose first
  // checkpoints are lazy: the count or signature that follows materializes
  // them. The star loop's count varies by a job or two from run to run (an
  // AQE stage can start before a re-plan drops it): in 33 warm runs each,
  // q117 ran 72-74 jobs and q145 75-76 (73-76 and 76-77 with the eager
  // checkpoints), so each budget is that maximum. q88 and q72 read their
  // shared stages through reused exchanges, where an eager checkpoint was
  // a job of its own.
  for ((name, budget) <- Seq("q177_bloom_semijoin" -> 4, "q68_ivf_kmeans" -> 7,
      "q150_bpe_merges" -> 13, "q161_pca_power" -> 3, "q81_dedup_clusters" -> 30,
      "q117_chain_components" -> 74, "q145_leakage_free_split" -> 76, "q88_funnel" -> 9,
      "q72_lsh_invariants" -> 12))
    test(s"$name starts at most $budget jobs per execution") {
      val jobs = jobsStartedBy(
        SparkEntry.queries(name)(spark, sf01).write.format("noop").mode("overwrite").save())
      info(s"$jobs jobs")
      assert(jobs <= budget, s"$name started $jobs jobs, budget $budget")
    }
}
