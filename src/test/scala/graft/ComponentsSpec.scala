package graft

import org.apache.spark.sql.functions._
import graft.functions.Components

class ComponentsSpec extends SparkTestBase {

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("components: chain, triangle, isolated pair, direction-independence") {
    // chain 1-2-3-4 (long diameter), triangle 10-11-12, pair 20-21
    val got = run(Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (12L, 10L),
      (11L, 12L), (21L, 20L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("components: empty edge set yields empty labels, no NPE") {
    // ADVICE r9: near-dup pair inputs (q81/q117 callers) can legitimately
    // be empty on a dup-free corpus; labelSum() is null over zero rows
    assert(run(Seq.empty) == Map.empty)
  }

  test("components: deterministic across runs and edge orderings") {
    val e1 = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    assert(run(e1) == run(e1.reverse.map { case (a, b) => (b, a) }))
  }

  test("components: a path longer than maxIters rounds throws instead of truncating") {
    // a 64-link path needs 64 propagation rounds; the default stops at 20
    val path = (1L to 65L).sliding(2).map(w => (w.head, w.last)).toSeq
    val e = intercept[IllegalStateException](run(path))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  private def runStar(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponentsStar(edges.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference answer: driver-side union-find (test-only oracle). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("star components: chain, triangle, isolated pair, self-loop vertex") {
    val got = runStar(Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (12L, 10L),
      (11L, 12L), (21L, 20L), (30L, 30L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("star components agree with propagation and union-find on seeded random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val want = unionFind(edges)
      assert(runStar(edges) == want, s"star != union-find on trial $trial")
      assert(run(edges) == want, s"propagation != union-find on trial $trial")
    }
  }

  test("star components converge in O(log^2 n) rounds on a deep chain") {
    import spark.implicits._
    // a 256-link path: diameter 256, so min-label propagation needs ~255
    // rounds — the star alternation must finish in a handful
    val chain = (1L to 256L).sliding(2).map(w => (w.head, w.last)).toSeq
    val (labels, rounds) = Components.starWithRounds(chain.toDF("s", "t"), "s", "t")
    assert(labels.collect().forall(_.getLong(1) == 1L), "chain not fully merged")
    assert(rounds <= 12, s"star took $rounds rounds on a 256-chain — path contraction broken")
    assert(rounds >= 2, s"suspiciously instant convergence ($rounds rounds)")
  }

  test("star components: label plan depth constant in round count") {
    import spark.implicits._
    val path = (1L to 64L).sliding(2).map(w => (w.head, w.last)).toSeq
    val labels = Components.connectedComponentsStar(path.toDF("s", "t"), "s", "t")
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      if (p.children.isEmpty) 1
      else 1 + p.children.map(c => depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max
    assert(depth(labels.queryExecution.analyzed) <= 5,
      "star labels plan grows with rounds — checkpoint truncation broken")
  }

  test("components: label plan depth constant across rounds") {
    import spark.implicits._
    // a path graph forces maxIters-bound propagation rounds
    val path = (1L to 12L).sliding(2).map(w => (w.head, w.last)).toSeq
    val labels = Components.connectedComponents(path.toDF("s", "t"), "s", "t")
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      if (p.children.isEmpty) 1
      else 1 + p.children.map(c => depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max
    assert(depth(labels.queryExecution.analyzed) <= 3)
    assert(labels.collect().forall(_.getLong(1) == 1L))
  }
}
