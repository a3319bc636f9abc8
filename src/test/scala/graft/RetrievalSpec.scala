package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.Tables
import graft.sql.GraftSql

/** Specs for the q146–q149 family: the Bloom guarantee over the FULL vocab
  * (the gate only probes top-20), KMV estimator error, and SQL-front-end ≡
  * DataFrame-API parity (the two surfaces must converge in Catalyst).
  */
class RetrievalSpec extends SparkTestBase {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q146 Bloom filter has NO false negatives over the entire vocabulary") {
    val words = q("q146_bloom_filter").select("word_id", "word_val")
    val vocab = Tables.documents(spark, sf)
      .select(explode(TF.tokens(col("text"))).as("tok")).distinct()
    val nVocab = vocab.count()
    val rs = explode(array((0 until 4).map(lit(_)): _*)).as("r")
    val misses = vocab.select(col("tok"), rs)
      .select(col("tok"),
        pmod(TF.md5Hash60(concat(col("tok"), lit("#b"), col("r").cast("string"))),
          lit(1024L)).as("idx"))
      .select(col("tok"), (col("idx") / 32).cast("long").as("word_id"),
        (col("idx") % 32).cast("int").as("bit"))
      .join(broadcast(words), Seq("word_id"))
      .groupBy(col("tok"))
      .agg(min(expr("shiftright(word_val, bit) & 1L")).as("all_set"))
      .filter(col("all_set") === 0)
      .count()
    assert(nVocab > 0)
    assert(misses === 0, "a member token tested negative — Bloom guarantee broken")
  }

  test("q146 probe scalars: all 20 members hit; FP count within the m/n bound") {
    val row = q("q146_bloom_filter").select("n_member_hits", "n_nonmember_fp").head()
    assert(row.getLong(0) === 20L)
    // 31 distinct tokens * 4 hashes in 1024 bits -> fill ~11%, k=4 =>
    // fp ~ 0.11^4 ~ 1.6e-4; 50 probes should essentially never collide,
    // but the spec only pins the loose bound (exactness is the gate's job)
    assert(row.getLong(1) <= 5L)
  }

  test("q147 sample is a subset of the keyspace and the estimate is tight") {
    val out = q("q147_bottomk_sample")
    val keys = Tables.orders(spark, sf).select(col("o_custkey")).distinct()
    val truth = keys.count()
    val foreign = out.join(keys,
      out("sample_key") === keys("o_custkey"), "left_anti").count()
    assert(foreign === 0, "sampled a key that is not in the keyspace")
    val r = out.select("est_distinct", "true_distinct").head()
    assert(r.getLong(1) === truth)
    // KMV relative error ~ 1/sqrt(k) = 12.5% at k=64; allow 3 sigma
    val (est, tru) = (r.getLong(0).toDouble, truth.toDouble)
    assert(est > tru * 0.6 && est < tru * 1.6, s"est=$est true=$tru")
  }

  test("q147 ranks follow hash order exactly") {
    val rows = q("q147_bottomk_sample").select("rank", "h").collect()
    val sorted = rows.sortBy(_.getLong(0))
    assert(sorted.map(_.getLong(1)).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("q148 every retrieved doc contains a query term; ranks are contiguous") {
    val out = q("q148_bm25_topk").cache()
    try {
      val qterms = Map(
        "ql1" -> Set("customer", "join"),
        "ql2" -> Set("slow", "merge"),
        "ql3" -> Set("spark", "window"))
      val docToks = Tables.documents(spark, sf)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      out.collect().foreach { r =>
        val (qid, doc, score) = (r.getString(0), r.getLong(2), r.getLong(3))
        assert(docToks(doc).intersect(qterms(qid)).nonEmpty,
          s"$qid retrieved doc $doc with no query term")
        assert(score > 0)
      }
      val ranks = out.groupBy("query_id")
        .agg(collect_list(col("rank")).as("rs")).collect()
      ranks.foreach { r =>
        assert(r.getSeq[Long](1).sorted === (1L to r.getSeq[Long](1).length))
      }
    } finally { out.unpersist(): Unit }
  }

  test("q148 fixed-point quantizer has a safe margin to every floor boundary") {
    // the gate floors 1e6·idf·tfnorm; a value within ~1e-9 of an integer
    // could flip under a 1-ulp cross-engine ln() difference — assert the
    // actual fixture stays ≥1e-6 away from every boundary
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfRel = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val terms = Set("customer", "join", "slow", "merge", "spark", "window")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfnorm = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) +
        lit(0.75) * ((col("dl").cast("double") * col("n_docs")) / col("sum_dl"))))
    val raw = lit(1000000.0) * idf * tfnorm
    val minMargin = tf
      .filter(col("tok").isin(terms.toSeq.map(x => x: Any): _*))
      .join(dl, Seq("doc_id")).join(dfRel, Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(least(raw - floor(raw), floor(raw) + 1 - raw).as("margin"))
      .agg(min(col("margin"))).head().getDouble(0)
    assert(minMargin > 1e-6, s"quantizer margin $minMargin too tight")
  }

  test("q150 BPE merges on a hand corpus: exact counts + greedy non-overlap") {
    import spark.implicits._
    // "ababab"x2 + "ababx"x1. Round 1 must take the NON-consecutive (a,b)
    // matches at 1/3/5 all at once; round 2 hits the consecutive-run case
    // ((ab)(ab)(ab) -> take 1st, skip overlapping 2nd) — the "aaa" shape.
    val dir = Graft.scratch("bpe")
    Seq((1L, "ababab ababab ababx", "en", "test", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q150_bpe_merges")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val want = Seq(
      (1L, "a", "b", 8L), (2L, "ab", "ab", 5L),
      (3L, "abab", "ab", 2L), (4L, "abab", "x", 1L))
    assert(got.toSeq === want, "pair-merge trace diverged")
    // round 5 has no pairs left (both words fully merged) — and that must
    // degrade to an absent row, never a crash or a phantom merge
    assert(got.length === 4)
  }

  test("q150 max pair count is non-increasing across merge rounds") {
    val cs = q("q150_bpe_merges").collect().map(_.getLong(3))
    assert(cs.nonEmpty)
    assert(cs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("q156 BPE encoding conserves words and fully merges the hand corpus") {
    import spark.implicits._
    val dir = Graft.scratch("bpe_enc")
    Seq((1L, "ababab ababab ababx", "en", "test", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q156_bpe_encode")(spark, dir).collect()
    val byWord = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // merges (a,b),(ab,ab),(abab,ab),(abab,x) collapse BOTH words fully
    assert(byWord === Map("ababab" -> 1L, "ababx" -> 1L))
    assert(rows.head.getLong(4) === 3L, "total_subwords = 2*1 + 1*1")
    assert(rows.head.getLong(5) === 17L, "total_chars = 2*6 + 1*5")
  }

  test("q156 fixture encoding: 1 <= n_syms <= n_chars and totals reconcile") {
    val rows = q("q156_bpe_encode").collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= r.getLong(3), s"bad n_syms: $r")
    }
    val total = rows.map(r => r.getLong(2) * r.getLong(1)).sum
    assert(total === rows.head.getLong(4), "total_subwords mismatch vs rows")
    assert(rows.head.getLong(4) <= rows.head.getLong(5), "merges cannot expand")
  }

  test("q228 tokenize: hand corpus gets the exact vocabulary-rank id sequence") {
    import spark.implicits._
    val dir = Graft.scratch("bpe_tok")
    Seq((1L, "ababab ababab ababx", "en", "test", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // merges (a,b),(ab,ab),(abab,ab),(abab,x) fully collapse both word
    // types; the surviving vocab is {ababab, ababx} -> tids {1, 2} by
    // lexicographic rank, so the doc's sequence is "1,1,2"
    val rows = SparkEntry.queries("q228_bpe_tokenize")(spark, dir).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(1) === 3L, "n_words")
    assert(rows.head.getLong(2) === 3L, "n_bpe_tokens (fully merged)")
    val expectSig = java.security.MessageDigest.getInstance("MD5")
      .digest("1,1,2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.head.getString(3) === expectSig)
  }

  test("q228 fixture tokenize: totals reconcile with the q156 dictionary encode") {
    val rows = q("q228_bpe_tokenize").collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"fewer subwords than words: $r")
      if (r.getLong(1) > 0L) assert(r.getString(3).nonEmpty)
    }
    // corpus BPE token total == q156's Σ cnt·n_syms (two independent paths)
    val q156Total = q("q156_bpe_encode").head().getLong(4)
    assert(rows.map(_.getLong(2)).sum === q156Total)
  }

  test("q155 KN scores are negative log-likelihoods with safe quantizer margins") {
    val out = q("q155_kn_doc_score").collect()
    out.foreach { r =>
      val (np, ll) = (r.getLong(1), r.getLong(2))
      assert(ll <= 0L, s"positive log-likelihood: $r")
      if (np == 0L) assert(r.getBoolean(3), s"empty doc must be kept: $r")
    }
    assert(out.exists(_.getLong(1) > 0), "fixture should have multi-token docs")
    // model-level margin check (q148 pattern): distance of 1e6·log2(P) to
    // its floor boundary, over all bigram types, excluding exact values
    val pairs = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(graft.functions.TextFunctions.bigramPairs(col("text"))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_l"))
    val nr = big.groupBy(col("w2")).agg(count(lit(1)).as("n1p_r"))
    val t = big.agg(count(lit(1)).as("t"))
    val p = greatest(col("c12").cast("double") - lit(0.75), lit(0.0)) / col("c1") +
      ((lit(0.75) * col("n1p_l")) / col("c1")) * (col("n1p_r").cast("double") / col("t"))
    val raw = lit(1000000.0) * log2(p)
    val margin = big.join(c1, Seq("w1")).join(nr, Seq("w2")).crossJoin(broadcast(t))
      .select(least(raw - floor(raw), floor(raw) + 1 - raw).as("m"))
      .filter(col("m") > 0.0)
      .agg(min(col("m"))).head().getDouble(0)
    assert(margin > 1e-6, s"KN quantizer margin $margin too tight")
  }

  test("q149 SQL text and the typed DataFrame API produce identical results") {
    val viaSql = q("q149_sql_frontend").collect().toSeq
    val cents = (c: org.apache.spark.sql.Column) => round(c * 100).cast("long")
    val li = Tables.lineitem(spark, sf)
    val viaApi = li
      .join(Tables.orders(spark, sf).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sf)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("revenue_microcents"))
      .filter(col("n_items") > 10)
      .orderBy(col("revenue_microcents").desc, col("n_name").asc)
      .collect().toSeq
    assert(viaSql === viaApi)
  }

  test("q149 front-end pushes the status filter into the orders scan") {
    val plan = GraftSql.run(spark, sf,
      "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("o_orderstatus"), plan)
  }
}
