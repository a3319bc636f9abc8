package graft

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.ops.Skew

/** Locks in the plan shapes the 100 TB design depends on: predicate
  * pushdown, column pruning, broadcast joins, TakeOrderedAndProject, and
  * salted-join equivalence.
  */
class PlanShapeSpec extends SparkTestBase {

  // formatted explain includes full FileScan metadata (PushedFilters,
  // ReadSchema); plain toString truncates it and AQE hides it pre-execution
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 filter pushes every predicate into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters:"), p)
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)",
        "In(l_returnflag").foreach(f => assert(p.contains(f), s"missing $f"))
  }

  test("q02 prunes the read schema to referenced columns only") {
    val p = plan("q02_filter")
    val read = p.substring(p.indexOf("ReadSchema:"))
    assert(!read.take(400).contains("l_partkey"), read.take(400))
    assert(!read.take(400).contains("l_tax"), read.take(400))
  }

  test("q192 Q6 scan pushes all three range predicates and reads 4 columns") {
    val p = plan("q192_forecast_revenue")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)").foreach(f => assert(p.contains(f), s"missing $f"))
    val read = p.substring(p.indexOf("ReadSchema:"))
    Seq("l_orderkey", "l_partkey", "l_returnflag", "l_tax").foreach(c =>
      assert(!read.take(400).contains(c), s"unpruned column $c"))
  }

  test("q193 NOT IN plans as a hash anti join, never BroadcastNestedLoop") {
    val p = plan("q193_supplier_counts")
    assert(p.contains("LeftAnti") || p.contains("NullAwareAntiJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("NullAwareAntiJoin"),
      "anti join degenerated to a non-null-aware BNLJ")
  }

  test("q10 star join broadcasts the dimension side") {
    assert(plan("q10_join_inner").contains("BroadcastHashJoin"))
  }

  test("q21 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q21_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q85 rank filter plans as WindowGroupLimit (top-k pushed below the shuffle)") {
    val p = plan("q85_tfidf_topterms")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q86 prefix sum never runs a corpus-sized one-partition window") {
    // structural check on the optimized plan: the ONLY unpartitioned window
    // is the bucket-offsets level, and it consumes the per-bucket Aggregate
    // (bucket-count-sized input), never the corpus scan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = SparkEntry.queries("q86_token_packing")(spark, sf)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.size == 1, s"expected exactly one offsets-level window, got $wins")
    assert(unpartitioned.head.child.collectFirst { case a: Aggregate => a }.isDefined,
      "the unpartitioned window must read the per-bucket aggregate, not the corpus")
    assert(wins.exists(_.partitionSpec.nonEmpty), "corpus window lost its partitioning")
    assert(plan("q86_token_packing").contains("BroadcastHashJoin")) // offsets joined by broadcast
  }

  test("q88 funnel joins the per-user stage tables by broadcast") {
    assert(plan("q88_funnel").contains("BroadcastHashJoin"))
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the 100 TB flagship scan-reducer: a selective filter on the dimension
    // side prunes the partitioned fact's directories via a runtime subquery
    // — the fact filter is dynamicpruning#N, not a static literal
    import spark.implicits._
    val tmp = Graft.scratch("dpp")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    // the dim must be (a) cheap relative to the fact scan — the DPP cost
    // heuristic rejects expensive subqueries — and (b) a real relation:
    // a filtered in-memory Seq gets constant-folded to a bare
    // LocalRelation, and DPP requires a surviving selective Filter node
    val dimTmp = Graft.scratch("dpp_dim")
    Seq(("A", 1L), ("N", 2L), ("R", 3L)).toDF("flag", "ns")
      .write.mode("overwrite").parquet(dimTmp)
    val dim = spark.read.parquet(dimTmp).filter(col("ns") === 1L)
    val fact = spark.read.parquet(tmp)
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      .groupBy(col("flag")).agg(sum(col("l_quantity")).as("q"))
    val p = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruning"), p)
    assert(joined.collect().length == 1)
  }

  test("runtime bloom filter: selective dim join injects a bloom probe on the fact scan") {
    // runtime filtering for non-partitioned join keys: the big-side scan is
    // pre-filtered by a bloom built from the small side, cutting shuffle
    // volume before the join — thresholds lowered to fire at fixture size
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    val li = graft.sources.Tables.lineitem(s2, sf)
    val ord = graft.sources.Tables.orders(s2, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val p = joined.queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter") || p.contains("BloomFilter"), p)
    // the bloom is a pre-filter, never a result changer: the sum must equal
    // the plain join's (l_quantity is integral-valued, so the double sum is
    // exact and order-independent)
    val expected = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    assert(joined.collect()(0).getDouble(0) == expected)
  }

  test("q59 partitioned re-read prunes to the filtered partition") {
    // run once so the partitioned directory exists, then inspect the plan
    val df = SparkEntry.queries("q59_partitioned_parquet")(spark, sf)
    df.collect()
    val p = plan("q59_partitioned_parquet")
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"), p)
    assert(p.contains("(l_returnflag") && p.contains("= A)"), p)
  }

  test("salted join equals plain join and spreads the hot key") {
    import spark.implicits._
    // a pathological fact table: 90% of rows share key 1
    val fact = (1 to 1000).map(i => (if (i <= 900) 1L else (i % 50).toLong, i.toLong))
      .toDF("k", "row_id")
    val dim = (0 to 49).map(i => (i.toLong, s"name_$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).agg(count(lit(1)), sum(col("row_id")))
      .collect().head
    val salted = Skew.saltedEquiJoin(fact, dim, "k", "row_id", salts = 8)
      .agg(count(lit(1)), sum(col("row_id"))).collect().head
    assert(plain == salted)
  }

  test("q75 salted join shuffles on (key, salt), not the bare hot key") {
    val p = plan("q75_skew_salted_join")
    assert(p.contains("_salt"), p.take(2000))
    val exchangeWithSalt = p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("_salt"))
    assert(exchangeWithSalt, "no exchange partitioned by the salt column")
  }

  test("q79 bucketed join has no exchange on either join side") {
    // run once so the bucketed tables exist, then inspect the plan
    SparkEntry.queries("q79_bucketed_join")(spark, sf).collect()
    val p = plan("q79_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("hashpartitioning(o_custkey"), "orders side shuffled")
    assert(!p.contains("hashpartitioning(c_custkey"), "customer side shuffled")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p.take(1500))
  }

  test("AQE splits a skewed shuffle-join partition at runtime (no manual salting)") {
    // the modern alternative to q75's manual salting: AQE measures shuffle
    // partition sizes at the stage boundary and splits oversized ones,
    // replicating the matching side — same result, no query rewrite. At
    // 100 TB this is the first line of defense; salting remains for
    // skew the runtime can't see (e.g. inside aggregations).
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // fixture-sized skew thresholds (defaults are 256MB-scale)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      import spark.implicits._
      // ~100k of 120k rows share key 0 → one shuffle partition ~50x median
      val fact = spark.range(0, 120000)
        .select(when(col("id") < 100000, 0L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = fact.join(dim, Seq("k"))
      // execute THROUGH j's own queryExecution (a count() would spawn a
      // separate execution and leave this plan un-finalized)
      val n = j.collect().length
      // fact k ∈ {0} ∪ [100000,120000); dim k ∈ [0,2000) → only k=0 matches
      assert(n == 100000, s"join row count wrong: $n")
      val executed = j.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${executed.take(3000)}")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("global sort plans as range partitioning, never a single partition") {
    // orderBy must sample-and-range-partition so the sort itself is
    // distributed; a SinglePartition exchange under a sort would serialize
    // the corpus into one task at any scale
    val p = SparkEntry.queries("q110_trailing_window")(spark, sf)
      .queryExecution.executedPlan.toString
    val sortLines = p.linesIterator.filter(_.contains("Sort ")).toSeq
    assert(sortLines.nonEmpty)
    assert(p.contains("rangepartitioning"),
      s"global sort without range partitioning:\n${p.take(1500)}")
    // and no exchange anywhere serializes into one partition — a stray
    // SinglePartition under a sort is exactly the regression this locks out
    assert(!p.contains("SinglePartition"),
      s"plan contains a SinglePartition exchange:\n${p.take(1500)}")
  }

  test("q119 scd2: update batch broadcasts, dimension scans exactly once") {
    val p = plan("q119_scd2_merge")
    assert(p.contains("BroadcastHashJoin"), "update batch not broadcast")
    // the merge's whole point: 1-or-2 rows per key from ONE dim pass —
    // a UNION ALL spelling would scan customer once per branch
    val customerScans = "Scan parquet ".r.findAllIn(p).length
    assert(customerScans <= 4, // tree + details sections, 2 tables
      s"dimension scanned more than once:\n${p.take(800)}")
  }

  test("q118/q125/q126/q127 self-joins stay hash joins — no nested-loop blowup") {
    Seq("q118_triangle_count", "q125_winnow_overlap",
        "q126_prefix_simjoin", "q127_interval_join").foreach { n =>
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$n fell off the hash-join path:\n${p.take(800)}")
    }
  }

  test("q124 cohort join shuffles on user_id, never broadcasts the cohort table") {
    // the cohort table is user-cardinality: broadcasting it works at sf0.1
    // and OOMs a 1e9-user corpus — the gate pins the shuffle-join shape.
    // (Spark would broadcast it below the 10 MB threshold; the fixture is
    // small, so assert the aggregation feeding the join is shuffled and
    // keyed on user_id rather than banning broadcast outright.)
    val p = plan("q124_cohort_retention")
    assert(p.contains("hashpartitioning(user_id"),
      s"cohort assignment not shuffled on user_id:\n${p.take(800)}")
  }

  test("salted join rejects dim-preserving join types (they would duplicate dim rows)") {
    import spark.implicits._
    val fact = Seq((1L, 1L)).toDF("k", "row_id")
    val dim = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(fact, dim, "k", "row_id", salts = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(fact, dim, "k", "row_id", salts = 4, joinType = "full")
    }
  }

  /** q177 collected at `dir`: its rows, its final plan, and the probe's
    * SQL metrics — rows_in is the lineitem scan's `numOutputRows`, rows_out
    * that of the `might_contain` Filter above it (Catalyst infers a second
    * one onto the orders side, which passes every build row).
    */
  private case class Q177Run(rows: Array[org.apache.spark.sql.Row], plan: SparkPlan,
      in: Long, out: Long)

  private def runQ177(dir: String): Q177Run = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val df = SparkEntry.queries("q177_bloom_semijoin")(spark, dir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    def isLineitemScan(p: SparkPlan) = p match {
      case s: FileSourceScanExec => s.output.exists(_.name == "l_orderkey")
      case _ => false
    }
    val nodes = finalNodes(plan)
    val scans = nodes.filter(isLineitemScan)
    val filters = nodes.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    val probes = filters.filter(finalNodes(_).exists(isLineitemScan))
    assert(scans.size == 1 && probes.size == 1, plan.treeString)
    def rowsOut(p: SparkPlan) = p.metrics("numOutputRows").value
    info(filters.map(rowsOut).mkString("might_contain filters pass ", ", ", " rows"))
    Q177Run(rows, plan, rowsOut(scans.head), rowsOut(probes.head))
  }

  /** The lineitem rows at `dir` that join q177's build side. */
  private def q177Matches(dir: String): Long = {
    val sel = sources.Tables.orders(spark, dir).filter(col("o_totalprice") > 450000.0)
    sources.Tables.lineitem(spark, dir).join(sel, col("l_orderkey") === col("o_orderkey")).count()
  }

  test("q177 bloom prefilter cuts probe rows before the join, keeps every match") {
    // the SQL metrics of the real execution: rows_in = full lineitem,
    // rows_out = survivors of the map-side probe. The cut must be large
    // (selective build side) and lossless (n_items over the bloom path ==
    // n_items over the plain join — no false negatives, ever).
    val run = runQ177(sf)
    val (in, out) = (run.in, run.out)
    assert(in > 0 && out < in / 2,
      s"bloom prefilter did not reduce probe volume: $in -> $out")
    val nBloom = run.rows.map(_.getAs[Long]("n_items")).sum
    val nPlain = q177Matches(sf)
    assert(nBloom == nPlain, s"bloom path lost rows: $nBloom != $nPlain")
    // FPR sanity: survivors beyond true matches are bloom false positives;
    // with m=65536,k=3 over ~150 keys they should be a tiny fraction
    assert(out - nPlain <= in / 100, s"false-positive volume too high: $out vs $nPlain")
  }

  test("q177 at sf0.1 passes no more false positives than m = 65536, k = 3 predicts") {
    // 14,957 build keys fill 49.6% of the bits, so about 12% of the
    // non-matching lineitem rows pass: (1 - e^(-3n/m))^3, with 25% slack
    val dir = Paths.get(sf).resolveSibling("sf0.1").toString
    val run = runQ177(dir)
    val n = sources.Tables.orders(spark, dir).filter(col("o_totalprice") > 450000.0).count()
    val matches = q177Matches(dir)
    assert(run.rows.map(_.getAs[Long]("n_items")).sum == matches)
    val fpr = math.pow(1 - math.exp(-3.0 * n / 65536), 3)
    val falsePositives = run.out - matches
    info(s"n $n keys: ${run.out} of ${run.in} lineitem rows passed, $matches match")
    assert(falsePositives >= 0 && falsePositives <= fpr * 1.25 * (run.in - matches),
      s"n $n: ${run.out} of ${run.in} rows passed, $matches match (expected FPR $fpr)")
  }

  test("q177 probes without observe(): no CollectMetricsExec, plan description under 80k") {
    import org.apache.spark.sql.execution.CollectMetricsExec
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    val run = runQ177(sf)
    assert(!finalNodes(run.plan).exists(_.isInstanceOf[CollectMetricsExec]), run.plan.treeString)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val recorded = store.executionsList().filter(_.executionId > before)
    assert(recorded.nonEmpty)
    // the sketch's 8 KB are a binary literal in the plan; the 2048-long
    // bitset literal behind three index columns it replaced recorded
    // 276,146 chars
    info(recorded.map(_.physicalPlanDescription.length).mkString("plan description chars: ", ", ", ""))
    recorded.foreach(e => assert(e.physicalPlanDescription.length < 80000,
      s"execution ${e.executionId}: ${e.physicalPlanDescription.length} chars"))
  }

  test("q177 and q68 sort their bounded results in one task: no range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (name <- Seq("q177_bloom_semijoin", "q68_ivf_kmeans")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val nodes = finalNodes(df.queryExecution.executedPlan)
      assert(nodes.exists { case s: SortExec => s.global; case _ => false }, s"$name: no global sort")
      val ranged = nodes.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranged.isEmpty, s"$name: ${df.queryExecution.executedPlan.treeString}")
    }
  }

  test("q209/q212 shard walks: payload bytes never cross an exchange; samples pre-aggregate map-side") {
    // the shard tier's 100 TB claim: archive payloads are consumed at the
    // mapPartitions codec boundary, so every exchange in the plan carries
    // member/sample METADATA only — the binary `payload` column in an
    // exchange's Input means the design regressed to moving corpus bytes.
    // Formatted-explain detail sections give each Exchange's Input list.
    def exchangeInputs(p: String): Seq[String] =
      p.split("\n\\(\\d+\\) ").toSeq.filter(_.startsWith("Exchange"))
        .map(s => s.linesIterator.find(_.trim.startsWith("Input")).getOrElse(""))
    for (name <- Seq("q209_wds_samples", "q212_tgz_shards")) {
      val ins = exchangeInputs(plan(name))
      assert(ins.nonEmpty, s"$name: expected at least the final-order exchange")
      ins.foreach(in => assert(!in.contains("payload"),
        s"$name: payload column crosses an exchange: $in"))
    }
    // q209's regroup collapses samples BELOW its exchange: partial
    // aggregation runs map-side, so one row per sample shuffles, not one
    // per member
    val p209 = plan("q209_wds_samples")
    assert(p209.contains("partial_sum") || p209.contains("partial_count"),
      "sample regroup must pre-aggregate below its exchange")
  }

  test("round-8 media/codec gates: payload bytes never cross an exchange") {
    // same 100 TB lock as the shard tier, extended to the r8 codec gates:
    // G.711/ADPCM/FLAC/PNG/audio-feature payloads are consumed at the
    // mapPartitions boundary; every exchange carries stat columns only.
    // (q239 joins the frame-feature output through a lag window, so its
    // exchange carries per-frame sums — also payload-free.)
    def exchangeInputs(p: String): Seq[String] =
      p.split("\n\\(\\d+\\) ").toSeq.filter(_.startsWith("Exchange"))
        .map(s => s.linesIterator.find(_.trim.startsWith("Input")).getOrElse(""))
    for (name <- Seq("q233_g711_decode", "q234_adpcm_decode",
        "q236_image_preprocess", "q237_flac_samples", "q238_audio_features",
        "q239_scene_cuts")) {
      val ins = exchangeInputs(plan(name))
      assert(ins.nonEmpty, s"$name: expected at least the final-order exchange")
      ins.foreach(in => assert(!in.contains("payload"),
        s"$name: payload column crosses an exchange: $in"))
    }
  }

  /** Every node of a physical plan, into AQE's final plan and its query stages. */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case s: QueryStageExec => s +: finalNodes(s.plan)
    case other => other +: other.children.flatMap(finalNodes)
  }

  /** The plan a noop write of `name` ran, as AQE finally executed it. */
  private def finalWritePlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.put(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map { p => assert(p != null, s"$name: no write execution reported"); p }
        .find(_.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec])
        .get
    } finally spark.listenerManager.unregister(listener)
  }

  test("a branch two consumers read in one plan runs once, through a ReusedExchange") {
    // These queries read a shared branch twice in the plan their noop write
    // runs, with no checkpoint: the second read must be a ReusedExchange of
    // the first (AQE's stage reuse), or the branch runs twice. Each entry
    // names a column of the shared branch's exchange.
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val shared = Seq(
      "q118_triangle_count" -> "a", "q122_collocations" -> "w",
      "q179_chunk_dedup" -> "text", "q158_skyline" -> "o_custkey",
      "q220_semdedup" -> "cvec", "q146_bloom_filter" -> "word_val",
      "q147_bottomk_sample" -> "o_custkey", "q198_kmv_intersection" -> "o_custkey",
      "q72_lsh_invariants" -> "neighbor_id", "q255_skew_audit" -> "key",
      "q153_bitmap_index" -> "word_id", "q88_funnel" -> "user_id",
      "q144_countmin_sketch" -> "tok", "q175_exact_spans" -> "text",
      "q176_span_cut" -> "text", "q170_copurchase_recs" -> "p")
    val missing = shared.filterNot { case (name, column) =>
      finalNodes(finalWritePlan(name)).exists {
        case r: ReusedExchangeExec => r.child.output.exists(_.name == column)
        case _ => false
      }
    }
    assert(missing.isEmpty, s"no ReusedExchange over the shared branch: ${missing.mkString(", ")}")
  }

  test("media-synthesis gates: ids spread before synthesis; sortDecoded gates shuffle before the range sort") {
    // the codec-boundary rule (Multimodal scaladoc), read from the plan a
    // noop write finally ran: (1) in all 31 gates the exchange beneath the
    // lowest typed map (the synthesis feeding the decode) hash-partitions
    // doc_id and carries doc_id alone — every core synthesizes and
    // decodes, no payload moves; (2) in the gates that sort through
    // sortDecoded (those where a benchmark measured the gain) every
    // range-partitioning exchange reads a shuffle stage, never a
    // MapPartitions pipeline — RangePartitioner's sample job evaluates its
    // child, which would otherwise run the whole synthesis + decode a
    // second time.
    import org.apache.spark.sql.execution.{MapElementsExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    def isTypedMap(p: SparkPlan) =
      p.isInstanceOf[MapPartitionsExec] || p.isInstanceOf[MapElementsExec]
    // the operators a task runs beneath p, down to the nearest exchanges
    // (returned separately)
    def pipelineBelow(p: SparkPlan): (Seq[SparkPlan], Seq[SparkPlan]) = {
      val (ops, exchanges) = p.children.map {
        case b @ (_: Exchange | _: QueryStageExec) => (Seq.empty, Seq(b))
        case c => val (o, e) = pipelineBelow(c); (c +: o, e)
      }.unzip
      (ops.flatten, exchanges.flatten)
    }
    def shuffleOf(b: SparkPlan): Option[ShuffleExchangeExec] = b match {
      case e: ShuffleExchangeExec => Some(e)
      case s: QueryStageExec => shuffleOf(s.plan)
      case _ => None
    }
    val gates = Seq(
      "q143_pcm_stats", "q173_container_meta", "q195_image_dhash", "q201_gif_frames",
      "q202_mp3_meta", "q203_flac_meta", "q204_ogg_meta", "q205_avi_frames",
      "q206_tar_members", "q207_gzip_corpus", "q208_mixed_codecs", "q209_wds_samples",
      "q210_zip_members", "q212_tgz_shards", "q227_warc_records", "q233_g711_decode",
      "q234_adpcm_decode", "q236_image_preprocess", "q237_flac_samples",
      "q238_audio_features", "q239_scene_cuts", "q240_png_text_tags",
      "q241_box_downscale", "q242_jpeg_roundtrip", "q243_id3_tags",
      "q249_proto_records", "q250_image_phash", "q260_wds_image_dag",
      "q261_flac_stereo", "q262_msadpcm_decode", "q270_mjpeg_frames")
    assert(gates.distinct.size == 31)
    val sortDecodedGates = Set(
      "q173_container_meta", "q202_mp3_meta", "q208_mixed_codecs", "q241_box_downscale")
    assert(sortDecodedGates.subsetOf(gates.toSet))
    def violations(name: String, plan: SparkPlan): Seq[String] = {
      val nodes = finalNodes(plan)
      val synth = nodes.filter(n => isTypedMap(n) && !finalNodes(n).tail.exists(isTypedMap))
      val spread =
        if (synth.isEmpty) Seq("no typed map in the final plan")
        else synth.map(pipelineBelow(_)._2).flatMap {
          case Seq() => Seq("synthesis runs straight off the scan, no id exchange")
          case below => below.map(shuffleOf).flatMap {
            case Some(e) =>
              val onId = e.outputPartitioning match {
                case h: HashPartitioning =>
                  h.expressions.flatMap(_.references.map(_.name)).distinct == Seq("doc_id")
                case _ => false
              }
              val input = e.child.output.map(_.name)
              (if (onId) Nil else Seq(s"ids spread by ${e.outputPartitioning}")) ++
                (if (input == Seq("doc_id")) Nil else Seq(s"id exchange carries $input"))
            case None => Seq("no shuffle below the synthesis")
          }
        }
      val ranges = nodes.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      val sorted =
        if (!sortDecodedGates(name)) Nil
        else if (ranges.isEmpty) Seq("no final-order range exchange")
        else ranges.map(pipelineBelow).flatMap { case (ops, below) =>
          (if (ops.exists(isTypedMap)) Seq("range sample re-runs a MapPartitions pipeline")
           else Nil) ++
            (if (below.nonEmpty && below.forall(shuffleOf(_).isDefined)) Nil
             else Seq("range exchange does not read a shuffle stage"))
        }
      spread ++ sorted
    }
    // every violation across the 31 gates, reported together
    val problems =
      gates.flatMap(name => violations(name, finalWritePlan(name)).map(v => s"$name: $v"))
    if (problems.nonEmpty) fail(problems.mkString(s"${problems.size} violations:\n", "\n", ""))
  }

  test("q235 blocklist scan: single corpus pass, no join in the plan") {
    // the Aho-Corasick claim: term matching is O(len) map work with the
    // automaton in the closure — a Join node would mean the op regressed
    // to the per-term scan shape the automaton exists to avoid.
    val p = plan("q235_blocklist_scan")
    assert(!p.contains("Join"), s"q235 must not join terms against the corpus:\n$p")
  }

  test("q220 hierarchical assignment: the O(K)-row child table never broadcasts") {
    // K ∝ n, so the fine-centroid (child) table is corpus-proportional —
    // broadcasting it is the O(n)-broadcast scale defect the two-level
    // quantizer exists to remove. The refine join on gid must stay a
    // shuffle join regardless of how small the gate-scale table is; the
    // only broadcasts in the assignment plan are the O(√K) coarse tables
    // (cross-join argmax → BroadcastNestedLoopJoin) and gate-constant
    // artifacts. Inspect the assignment sub-plan directly.
    // (the used-gid restriction join IS allowed to broadcast — its build
    // side is the O(√K) distinct-gid set, not the child table; the
    // defect is specifically a broadcast that carries the fine-centroid
    // vectors, so the check is structural on the cvec column)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val asg = graft.functions.Similarity.hierarchicalAssign(
      emb, "vec_id", "embedding", k = 64)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val phys = asg.queryExecution.sparkPlan
    val badBcast = phys.collect {
      case b: BroadcastHashJoinExec
          if b.children.exists(_.output.exists(_.name == "cvec")) => b
    }
    assert(badBcast.isEmpty,
      "child table (cvec side) broadcast — O(n) broadcast at scale")
    val refine = phys.collect {
      case s: SortMergeJoinExec
          if s.children.exists(_.output.exists(_.name == "cvec")) => s
    }
    assert(refine.nonEmpty,
      s"refine join on gid must be a shuffle join:\n${phys.toString.take(3000)}")
    // assignment output is total: every vector gets exactly one cluster
    assert(asg.count() === emb.count())
  }

  test("q244 pq: no shuffle join anywhere, no vector crosses an exchange") {
    // the PQ scale claims: encode is join-free scan-speed projection
    // (codebook rides the plan as a referenced constant — any shuffle
    // join would mean it regressed to the codebook-as-table shape), the
    // query side and the tiny top-k side are the only joins and both
    // broadcast, and the exchanges under the top-k windows carry only
    // (ids, score, code_sig) — never a 64-dim vector column.
    val p = plan("q244_pq_adc")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q244 must not shuffle-join:\n$p")
    // the input spread (REPARTITION_BY_NUM — single-file fixture
    // parallelism; a real multi-shard corpus has none) may carry the raw
    // embedding; every DATA exchange (windows, order) must not carry any
    // vector column
    val exchanges = p.split("\n\\(\\d+\\) ").toSeq.filter(_.startsWith("Exchange"))
      .filterNot(_.contains("REPARTITION_BY_NUM"))
      .map(s => s.linesIterator.find(_.trim.startsWith("Input")).getOrElse(""))
    assert(exchanges.nonEmpty, "expected the window/order exchanges")
    for (in <- exchanges; vecCol <- Seq("recon", "qv", "embedding"))
      assert(!in.contains(vecCol), s"q244: $vecCol crosses an exchange: $in")
    // the IVF-PQ composite inherits the same discipline: probe pairs
    // broadcast, candidates never shuffle-join
    val p257 = plan("q257_ivf_pq")
    assert(!p257.contains("SortMergeJoin") && !p257.contains("ShuffledHashJoin"),
      s"q257 must not shuffle-join:\n$p257")
  }

  test("q246/q247 are pure map-side projections: no join, no aggregate, no data-dependent shuffle") {
    // the ingest-inline claim both gates make: a quality filter
    // (q246) and a shard-ownership assignment (q247) must run at scan
    // speed — any Join/HashAggregate node means the operator regressed
    // to a shuffle shape; the only exchanges allowed are the input
    // spread (round-robin — the single-file fixture needs it for
    // parallelism, a real multi-shard corpus would not) and the final
    // ORDER BY's range partitioning.
    for (name <- Seq("q246_gopher_rules", "q247_rendezvous_hash")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name must not join:\n$p")
      assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
        s"$name must not aggregate:\n$p")
      val exchanges = p.split("\n\\(\\d+\\) ").toSeq.filter(_.startsWith("Exchange"))
      assert(exchanges.size <= 2, s"$name: too many exchanges:\n$p")
      exchanges.foreach(e => assert(
        e.contains("REPARTITION_BY_NUM") || e.contains("rangepartitioning"),
        s"$name: unexpected data-dependent exchange: ${e.linesIterator.next()}"))
    }
  }

  test("native kernels run inside WholeStageCodegen, no interpreted-HOF hot path") {
    // the r9 deopt lesson (NOTES_r9 #12) as a plan fact: q223's chunker
    // and q217's gram score must appear as fused expressions inside a
    // codegen stage — a regression back to aggregate/filter higher-order
    // builtins would re-expose the suite to session-wide JIT profile
    // pollution. The HOF nodes print as ArrayTransform/ArrayFilter/
    // ArrayAggregate in the plan; the kernels print by their class names.
    val p223 = plan("q223_cdc_chunks")
    assert(p223.contains("cdcchunks") || p223.contains("CdcChunks"),
      s"q223 lost its native kernel:\n${p223.take(800)}")
    assert(!p223.contains("aggregate(") && !p223.contains("ArrayAggregate"),
      "q223 regressed to an interpreted HOF fold")
    val p217 = plan("q217_quality_classifier")
    assert(p217.contains("gramscore") || p217.contains("GramScore"),
      s"q217 lost its native kernel:\n${p217.take(800)}")
    assert(!p217.contains("ArrayAggregate"),
      "q217 regressed to an interpreted HOF fold")
  }

  test("heavy-tier shuffle-volume locks: measured exchange traffic within data-derived caps") {
    // r9 (verdict #6): wall-time on a noisy box is a weak scale
    // instrument — the volume a query MOVES through its shuffles is a
    // deterministic fact of plan + data. Volumes are TOTAL stage shuffle
    // writes (SparkListener over the engine's own task metrics —
    // ShuffleVolumes.measured), so persist materialization
    // and localCheckpoint jobs count too, not just the final adaptive
    // plan. Caps sit ~2.5–3× the healthy volume at this fixture
    // (records/bytes measured on a clean session): an all-pairs blowup
    // (500 docs → 125k pair rows), a regression that shuffles text
    // payloads instead of hashes/verdicts, or an extra corpus-sized
    // exchange breaks a cap exactly, independent of machine load.
    val caps = Seq(
      //                    measured     recCap   byteCap
      ("q229_curation_dag",   /*  2.7k/194k */  8000L,  600000L),
      ("q185_canonical_docs", /*  9.6k/322k */ 25000L, 1000000L),
      ("q138_embed_clusters", /*  3.3k/ 43k */ 10000L,  150000L),
      ("q126_prefix_simjoin", /* 62.7k/864k */ 160000L, 2500000L),
      ("q81_dedup_clusters",  /*  9.6k/321k */ 25000L, 1000000L),
      ("q223_cdc_chunks",     /*  4.0k/225k */ 11000L,  700000L))
    caps.foreach { case (name, recCap, byteCap) =>
      val (rec, byt) = ShuffleVolumes.measured(spark) {
        Graft.execution(SparkEntry.queries(name)(spark, sf).collect())
      }
      assert(rec > 0, s"$name: no shuffle traffic recorded (instrument broken?)")
      assert(rec <= recCap, s"$name shuffle records $rec > cap $recCap")
      assert(byt <= byteCap, s"$name shuffle bytes $byt > cap $byteCap")
    }
  }

  /** topKPerQuery's form before it relied on Spark's partial
    * WindowGroupLimit: a local top-k per (query, input partition), then
    * the global one. */
  private def twoWindowTopK(scored: DataFrame, k: Int): DataFrame = {
    val order = Seq(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", row_number().over(
        Window.partitionBy(col("query_id"), col("_pid")).orderBy(order: _*)))
      .filter(col("_lrn") <= k)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  test("topKPerQuery equals the two-window form on tied sims over 4 partitions") {
    import spark.implicits._
    // 11 distinct sims over 200 neighbors per query: every rank cut falls in a tie
    val scored = (for (q <- 0L until 5L; n <- 0L until 200L) yield (q, n, (n * 7 % 11) / 4.0))
      .toDF("query_id", "neighbor_id", "sim").repartition(4)
    assert(scored.rdd.getNumPartitions == 4)
    for (k <- Seq(1, 3, 10, 250))
      assert(Similarity.topKPerQuery(scored, k).collect().toSet ==
        twoWindowTopK(scored, k).collect().toSet, s"k $k")
  }

  test("q68 top-k is one rank window: a partial WindowGroupLimit below the hash exchange, no _pid") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val plan = SparkEntry.queries("q68_ivf_kmeans")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val belowExchanges = plan.collect { case e: ShuffleExchangeExec => e.child }
    assert(belowExchanges.exists {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }, plan.treeString)
    assert(!plan.exists(_.output.exists(_.name == "_pid")), plan.treeString)
  }

  test("q177's Bloom sketch: 1 and 4 partitions fold the same bytes, k = 3, no key lost") {
    import graft.queries.ScaleQueries.bloomFilter
    val sel = sources.Tables.orders(spark, sf).filter(col("o_totalprice") > 450000.0)
    def bytes(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream
      bf.writeTo(o)
      o.toByteArray
    }
    val four = sel.repartition(4)
    assert(four.rdd.getNumPartitions == 4)
    val bf = bloomFilter(sel.coalesce(1), "o_orderkey")
    assert(bytes(bloomFilter(four, "o_orderkey")).sameElements(bytes(bf)))
    assert(bf.bitSize() == 65536)
    // the serialized header opens with the version, then the hash count
    val header = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes(bf)))
    header.readInt()
    assert(header.readInt() == 3)
    val keys = sel.select(col("o_orderkey")).collect().map(_.getLong(0))
    assert(keys.length > 10 && keys.forall(bf.mightContainLong))
  }
}
