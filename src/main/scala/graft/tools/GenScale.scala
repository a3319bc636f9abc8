package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver fixtures: replicate each table K×
  * with disjoint key ranges, producing an sf1-shaped dataset (10× sf0.1)
  * for the VERDICT r3 scaling measurements — the fixtures themselves are
  * read-only and the driver's generator is not available, so scaling is by
  * structure-preserving replication:
  *
  *  - Every key column shifts by `k * pad` with pads chosen as multiples of
  *    every modulus the gated queries take over that key (doc_id chains use
  *    % 50, the q115 graph uses partkey/suppkey % 100), so each replica
  *    reproduces the original's derived structure exactly — the scaled
  *    corpus is K disjoint copies at the structural level, which is what
  *    makes "time vs SF" interpretable (same per-replica work, K× volume).
  *  - documents.text gets every odd-position token suffixed with the
  *    replica id (k>0). This is the load-bearing subtlety: a verbatim copy
  *    would make every doc a K-way near-duplicate (every 3-gram shingle
  *    shared), turning the dedup/similarity pipelines' candidate structure
  *    quadratic in K and the measurement meaningless. Suffixing alternate
  *    tokens rewrites every 3-shingle, so cross-replica similarity drops to
  *    ~0 while within-replica planted near-dup pairs survive verbatim: the
  *    dup-RATE is scale-invariant, the volume is K×. n_chars is recomputed.
  *  - embeddings rotate by k components (norm-preserving, direction-mixing)
  *    so replicas aren't mutual exact/cosine duplicates.
  *  - events keep their timestamps (time-window densities grow K×, the
  *    realistic shape for "same period, more traffic") with user/event ids
  *    shifted.
  *  - region/nation copy as-is (TPC-H dimensions of fixed cardinality).
  *
  * Output: one flat `<table>.parquet` FILE per table (written via a temp
  * dir + rename) so DuckDB `read_parquet('<dir>/<t>.parquet')` — the oracle
  * harness's path shape — works unchanged against the scaled dataset.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <destDir> <K>
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val (src, dest, k) = (args(0), args(1), args(2).toInt)
    val spark = graft.Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    new java.io.File(dest).mkdirs()

    /** K replicas of `df`, transformed per replica, single-file parquet.
      * `pads` lists every (key column, replica pad) the transform shifts:
      * replica key ranges are disjoint only while max(key) <= pad, so a
      * chained run (re-scaling a GenScale output, whose keys span K× the
      * original range) must fail fast instead of silently colliding
      * replica keys (ADVICE r4 — supplier's pad of 1000 exactly equals the
      * sf0.1 key range, the tightest of the pads).
      */
    def gen(table: String, pads: (String, Long)*)(replica: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.sources.Tables.load(spark, src, table)
      pads.foreach { case (c, pad) =>
        val r = base.agg(min(col(c).cast("long")), max(col(c).cast("long"))).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        // replica i spans [mn + pad·i, mx + pad·i]: pairwise disjoint iff
        // the RANGE WIDTH is under the pad — `mx <= pad` alone is off by
        // one for 0-based keys (mn=0, mx=pad passes it, yet replica 0's
        // key pad collides with replica 1's key 0+pad)
        require(mx - mn < pad,
          s"$table.$c range [$mn,$mx] is not narrower than replica pad $pad " +
            "— replicating this input would overlap key ranges; scale from " +
            "the original fixtures (or raise the pad, keeping it a multiple " +
            "of the gated queries' moduli over this key)")
      }
      val out = (0 until k).map(i => replica(base, i)).reduce(_ unionAll _)
      val tmp = s"$dest/_tmp_$table"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $table"))
      val target = java.nio.file.Paths.get(s"$dest/$table.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.toPath, target)
      org.apache.spark.sql.graftbridge.deleteRecursively(new java.io.File(tmp))
      println(s"[genscale] $table: ${spark.read.parquet(s"$dest/$table.parquet").count()} rows")
    }

    def shift(c: String, pad: Long, i: Int) = col(c) + lit(pad * i)

    gen("region")((df, i) => if (i == 0) df else df.limit(0))
    gen("nation")((df, i) => if (i == 0) df else df.limit(0))
    gen("supplier", "s_suppkey" -> 1000L)((df, i) => df.withColumn("s_suppkey", shift("s_suppkey", 1000L, i)))
    gen("customer", "c_custkey" -> 100000L)((df, i) => df.withColumn("c_custkey", shift("c_custkey", 100000L, i)))
    gen("part", "p_partkey" -> 100000L)((df, i) => df.withColumn("p_partkey", shift("p_partkey", 100000L, i)))
    gen("orders", "o_orderkey" -> 1000000L, "o_custkey" -> 100000L)((df, i) => df
      .withColumn("o_orderkey", shift("o_orderkey", 1000000L, i))
      .withColumn("o_custkey", shift("o_custkey", 100000L, i)))
    gen("lineitem", "l_orderkey" -> 1000000L, "l_partkey" -> 100000L, "l_suppkey" -> 1000L)((df, i) => df
      .withColumn("l_orderkey", shift("l_orderkey", 1000000L, i))
      // multiples of 100: q115's % 100 graph projection sees K× edges over
      // the SAME node set (edge-density growth), and part/supp joins stay
      // aligned with the shifted dimension keys
      .withColumn("l_partkey", shift("l_partkey", 100000L, i))
      .withColumn("l_suppkey", shift("l_suppkey", 1000L, i)))
    gen("events", "event_id" -> 1000000L, "user_id" -> 100000L)((df, i) => df
      .withColumn("event_id", shift("event_id", 1000000L, i))
      // SAME pad as c_custkey: events.user_id joins customer.c_custkey
      // (q140's enrichment), so replica-k users must land on replica-k
      // customers — a misaligned pad would silently change the join's
      // match rate at scale
      .withColumn("user_id", shift("user_id", 100000L, i)))
    gen("documents", "doc_id" -> 10000L)((df, i) => {
      // 10000 % 50 == 0 keeps the q117 chain structure per replica
      val shifted = df.withColumn("doc_id", shift("doc_id", 10000L, i))
      if (i == 0) shifted
      else shifted
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), (w, p) -> IF(p % 2 = 1, concat(w, 'q$i'), w)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    gen("embeddings", "vec_id" -> 10000L)((df, i) => {
      val shifted = df.withColumn("vec_id", shift("vec_id", 10000L, i))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), slice(embedding, 1, $i))"))
    })

    spark.stop()
  }
}
