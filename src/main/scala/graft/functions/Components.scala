package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Graft

/** Connected components over an undirected edge list — the clustering step
  * of a dedup pipeline: near-dup PAIRS (MinHash/SimHash/embedding) become
  * duplicate GROUPS, from which one representative per group is kept.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts labeled
  * with its own id; each round it takes the min of its label and its
  * neighbors' labels; fix-point = components labeled by their min vertex
  * id. Each round is one join + one aggregation, both shuffled on vertex
  * id — O(E) work per round, O(diameter) rounds. Near-dup graphs have tiny
  * diameter (duplicate groups are cliques or near-cliques), so this
  * converges in 2-3 rounds; for general graphs with long chains (deep link
  * graphs, transitive-reference chains) use [[connectedComponentsStar]] —
  * the large-star/small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014), which contracts paths
  * in O(log² n) rounds with the same per-round shuffle shape.
  *
  * Each generation of labels is localCheckpoint'ed: plan depth stays
  * constant per round instead of nesting one join level per iteration. Convergence is detected with a one-scalar
  * count per round (never collecting data rows to the driver).
  */
object Components {

  /** @param edges undirected edge list (each pair listed once is enough)
    * @return (id, component) for every vertex appearing in an edge, where
    *         component = min vertex id in the connected component.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 20): DataFrame = {
    // materialize the edge list FIRST: both union branches below reference
    // it, and an un-checkpointed expensive upstream (e.g. the MinHash
    // pipeline in q81) would execute once per branch inside a single job
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint()
    val spark = e.sparkSession
    // loop partitions sized to the measured edge count (r10, guide §2.2 —
    // the r9-verdict inverse-scaling item: per-round fixed cost is one
    // task + one checkpoint block per shuffle partition, every round);
    // clamps to full parallelism, so corpus-sized graphs are unaffected
    val parts = IterLoop.partitionsFor(spark, e.count() * 2)
    // pre-partition the (static) undirected edge set by the join key ONCE:
    // localCheckpoint preserves the physical partitioning in its
    // LogicalRDD, so every round's edge-side exchange is planned away —
    // the per-round shuffle is labels only (r9, guide §2.4 "two operations
    // keyed the same way can share one exchange"). The partition COUNT
    // must match the loop session's, or the per-round label exchange
    // could not co-partition with it.
    val loop = IterLoop.session(spark, parts)
    val und = Graft.onSession(loop, e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(parts, col("dst")).localCheckpoint())
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).localCheckpoint()
    // Round shape (r9 rework): one join + one union-aggregate per round —
    // new comp(id) = min(own comp, min over neighbors' comps), identical
    // to the previous join+agg+left-join form by the min identity. The
    // old form additionally re-joined next against labels to COUNT
    // changed rows (two more shuffles per round); convergence is instead
    // read off a monotone invariant: per-id comp never increases, so the
    // label sum strictly decreases iff any label changed. DECIMAL(38,0)
    // sum — vertex ids can be 60-bit hashes, a BIGINT sum would overflow
    // under ANSI. One scalar job per round, which doubles as the lazy
    // checkpoint's materializer.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var lastSum = labelSum(labels)
    // an EMPTY edge set (legitimate for the near-dup callers on a dup-free
    // corpus) yields an empty labels frame and a NULL sum-over-zero-rows:
    // short-circuit instead of NPEing on compareTo (ADVICE r9)
    var changed = lastSum != null
    var it = 0
    while (changed && it < maxIters) {
      val next = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("comp"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(false)
      val s = labelSum(next)
      changed = s.compareTo(lastSum) != 0
      lastSum = s
      labels = next
      it += 1
    }
    Graft.onSession(spark, labels)
  }

  /** Large-star/small-star connected components (Kiveris et al., SoCC 2014)
    * — same contract as [[connectedComponents]] but O(log² n) rounds
    * instead of O(diameter), the scale path for long-chain graphs where
    * min-label propagation would crawl (a 10⁶-link chain is ~10⁶
    * propagation rounds but ~40 star rounds).
    *
    * Each round applies two shuffle-on-vertex operations to the edge set:
    *  - large-star: for every vertex u, link each strictly-larger neighbor
    *    v to m(u) = min(u ∪ Γ(u)) — contracts long paths in half;
    *  - small-star: for every vertex u (over the larger→smaller edges
    *    large-star emits), link u and all its smaller neighbors to the
    *    minimum — flattens local trees into stars.
    * Both are one groupBy-min + one join, shuffled on vertex id — the same
    * per-round shape (and skew behavior) as a propagation round, so the
    * 100 TB story is unchanged: O(E) per round, no driver-side data, edge
    * set localCheckpoint'ed so plan depth stays constant.
    *
    * Fixpoint = the star edge set stops changing (counts equal and
    * next \ current empty — two scalar jobs per round, no data collected);
    * at fixpoint every edge is (vertex, component-min) directly.
    */
  def connectedComponentsStar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 30): DataFrame =
    starWithRounds(edges, srcCol, dstCol, maxIters)._1

  /** [[connectedComponentsStar]] plus the round count, for the round-bound
    * assertions in ComponentsSpec.
    */
  private[graft] def starWithRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 30): (DataFrame, Int) = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint()
    // all vertices of the contract ("appears in an edge"), incl. self-loop-
    // only vertices that the star iteration itself drops with the loops
    val vertices = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct().localCheckpoint()
    var cur = e0.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    // orderless edge-set signature: (count, XOR of xxhash64(src,dst)) in
    // ONE scalar job (which doubles as the lazy-checkpoint materializer);
    // XOR is orderless and overflow-free (a Long sum would trip ANSI
    // overflow), and both operands are DISTINCT sets, so XOR-cancellation
    // of duplicates cannot occur.
    // Unequal signature ⇒ definitely not converged — skip the expensive
    // exact test; equal signature ⇒ CONFIRM with except() (paid once, at
    // true convergence — never hash-luck-terminate a correctness path).
    // The alternative — count()+except() every round — is an extra
    // anti-join shuffle over the full edge set per round, which at corpus
    // scale costs as much as the round itself.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var curSig = signature(cur)
    var it = 0
    var done = curSig._1 == 0
    // per-round reduce tasks sized to the live edge set (r10, guide §2.2 —
    // same inverse-scaling fix as the propagation loop above); clamps to
    // full parallelism, so corpus-sized graphs are unaffected
    val spark = e0.sparkSession
    cur = Graft.onSession(
      IterLoop.session(spark, IterLoop.partitionsFor(spark, curSig._1 * 2)), cur)
    while (!done && it < maxIters) {
      // ---- large-star over the undirected view
      val bi = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val lmin = bi.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bi.join(lmin, bi("src") === lmin("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // ---- small-star over the (larger -> smaller) edges
      val smin = ls.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val withM = ls.join(smin, ls("src") === smin("u"))
      val ss = withM.select(col("u").as("src"), col("m").as("dst"))
        .union(withM.filter(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst")))
        .distinct().localCheckpoint(false)
      // fixpoint test: both sets are distinct canonical (src > dst), so
      // equality == equal signature (fast negative) + except-empty confirm
      val ssSig = signature(ss)
      done = ssSig == curSig && ss.except(cur).isEmpty
      cur = ss
      curSig = ssSig
      it += 1
    }
    cur = Graft.onSession(spark, cur)
    // a truncated run would silently hand back labels from a
    // partially-contracted edge set (vertices of one component under
    // different labels) — refuse, like every other correctness path here
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds " +
          "(O(log^2 n) expected — raise maxIters or inspect the edge set)")
    // at fixpoint edges ARE (vertex, component-min); vertices never on the
    // larger side of any edge (component minima, isolated-after-self-loop
    // vertices) label themselves
    val labels = vertices
      .join(cur.select(col("src").as("id"), col("dst").as("c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("comp"))
    (labels, it)
  }
}
