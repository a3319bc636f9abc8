package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, graftbridge}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}
import graft.expressions.CosineSimilarity

/** Similarity search over embedding columns (SURVEY.md §2.11).
  *
  * Two tiers, same API shape:
  *  - [[bruteForceTopK]]: exact. Query set is broadcast (it is small by
  *    definition); ONE pass over the corpus computes Q×N similarities inside
  *    codegen, then a per-query top-k window. At 100 TB the corpus scan
  *    dominates and parallelizes perfectly; never do this for Q ~ N.
  *  - [[lshTopK]]: approximate scale path. Random-hyperplane signatures
  *    (sign-bit LSH) bucket the corpus; candidates share the query's bucket,
  *    so the pairwise work drops from Q×N to Q×E[bucket]. Planes are derived
  *    deterministically from md5 bits — no RNG state, reproducible across
  *    runs and engines.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Per-query top-k by (sim desc, neighbor_id asc), as one rank window
    * per query_id. A window over all of one query's similarities would
    * funnel them into one task, but Spark's `InferWindowGroupLimit` plans a
    * partial `WindowGroupLimit` below the hash exchange (k ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default): each
    * input partition keeps its local top-k per query, so the shuffle
    * carries at most Q×P×k rows, and the final window ranks those. Any
    * local superset of the global top-k preserves the result exactly.
    * Input: (query_id, neighbor_id, sim). Output adds rank.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))

  /** Exact top-k neighbors for each query vector (self-pairs excluded).
    * Output: (query_id, rank, neighbor_id, sim).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    topKPerQuery(
      c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), cosine(col("qvec"), col("cvec")).as("sim")),
      k)
  }

  val DefaultPlanes = 12

  /** Sign-bit signature: bit p = sign(v · plane_p), planes are ±1 vectors
    * with plane_p[d] = bit0(md5("t:p:d")) where t is the table seed (each
    * LSH table draws independent planes). Map-side only.
    */
  def hyperplaneSignature(vec: Column, dims: Int, planes: Int = DefaultPlanes,
      table: Int = 0): Column = {
    val sig = (0 until planes).map { p =>
      // ±1 plane as a literal array — resolved at plan time, codegen constant
      val plane = array((0 until dims).map { d =>
        val bit = (java.security.MessageDigest.getInstance("MD5")
          .digest(s"$table:$p:$d".getBytes("UTF-8"))(0) & 1)
        lit(if (bit == 1) 1.0 else -1.0)
      }: _*)
      val dot = aggregate(
        zip_with(vec, plane, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    sig.reduce(_ + _)
  }

  /** Approximate top-k over LSH buckets, with two recall amplifiers that
    * keep the plan scale-correct:
    *
    *  - band-OR across `tables` independent hyperplane tables (the classic
    *    LSH amplification: a pair is a candidate if it collides in ANY
    *    table) — the corpus is scanned once and emits one (table, bucket)
    *    entry per table via a generator; no corpus shuffle, the query side
    *    stays broadcast;
    *  - multiprobe within each table (Lv et al., "Multi-probe LSH", VLDB
    *    2007, adapted to sign bits): each query also probes every bucket at
    *    Hamming distance ≤ probeRadius, exploding only the (tiny,
    *    broadcast) query side ×(planes+1).
    *
    * A pair can now collide in several tables, so candidates are
    * deduplicated by (query, neighbor) with a max-agg on the (identical)
    * sims — shuffling only scored doubles, never vectors. Determinism:
    * planes derive from md5(table:plane:dim), probe sets are pure functions
    * of the signature. P[candidate] = 1-(1-P[Ham≤r])^L — e.g. per-bit
    * disagreement 0.4, planes=4, radius=1, tables=8 → 0.994, versus 0.13
    * for one 8-plane table. Recall/cost is tuned by (planes, tables,
    * probeRadius): more planes per table → smaller buckets (the 100 TB
    * lever), more tables → higher recall at linear candidate cost.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dims: Int, k: Int,
      planes: Int = DefaultPlanes, tables: Int = 1, probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1, "probeRadius must be 0 or 1")
    require(tables >= 1, "tables must be >= 1")
    def entries(df: DataFrame, id: String, keepVec: Boolean): DataFrame = {
      val pairs = (0 until tables).map { t =>
        struct(lit(t).as("table_id"),
          hyperplaneSignature(col(vecCol), dims, planes, t).as("bucket"))
      }
      val base = df.select((col(idCol).as(id) +:
        (if (keepVec) Seq(col(vecCol).as(s"${id}_vec")) else Nil)) :+
        explode(array(pairs: _*)).as("e"): _*)
      base.select(base.columns.filter(_ != "e").map(col) :+
        col("e.table_id").as("table_id") :+ col("e.bucket").as("bucket"): _*)
    }
    val c = entries(corpus, "neighbor_id", keepVec = true)
    val q0 = entries(queries, "query_id", keepVec = true)
    val probes: Seq[Column] =
      col("bucket") +: (if (probeRadius == 0) Seq.empty
                        else (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))))
    val q = q0.select(col("query_id"), col("query_id_vec"), col("table_id"),
      explode(array(probes: _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("table_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("query_id_vec"), col("neighbor_id_vec")).as("sim"))
      // dedup pairs that collided in several tables/probes; sims are equal
      // across duplicates so max() is deterministic and the shuffle carries
      // one double per surviving pair
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("sim")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) approximate search (coarse quantization as in
    * Jegou/Douze/Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011 — without the PQ refinement) — the other classic
    * ANN scale path next to [[lshTopK]]:
    *
    *   1. a coarse quantizer: `cells`, (cell, centroid array<float>) rows
    *      held on the driver — [[cellCentroids]] of any blocking key, or
    *      [[KMeans.fit]]'s centroids (textbook IVF). They ride the plan as
    *      a literal (bounded by driver memory, like any broadcast), which
    *      each query row explodes — no join, and no broadcast job;
    *   2. each query probes the `nprobe` nearest centroids (a rank window
    *      over queries × cells; skipped when `nprobe` covers every cell);
    *   3. exact cosine only within the probed cells.
    *
    * Pairwise work drops from Q×N to Q×(N·nprobe/cells); the corpus is
    * scanned once for the search, and the probed (query, cell) pairs
    * broadcast to it.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      cells: Seq[Row], k: Int, nprobe: Int): DataFrame = {
    val cellLit = graftbridge.toColumn(Literal.create(cells, ArrayType(StructType(Seq(
      StructField("cell", corpus.schema(cellCol).dataType),
      StructField("centroid", ArrayType(FloatType)))))))
    val pairs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        explode(cellLit).as("c"))
      .select(col("query_id"), col("qvec"), col("c.cell").as("cell"), col("c.centroid").as("centroid"))
    val probed =
      if (nprobe >= cells.size) pairs // every cell is probed: nothing to rank
      else pairs
        .withColumn("cr", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(cosine(col("qvec"), col("centroid")).desc, col("cell").asc)))
        .filter(col("cr") <= nprobe)
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"))
    topKPerQuery(
      c.join(broadcast(probed.select(col("query_id"), col("qvec"), col("cell"))), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), cosine(col("qvec"), col("cvec")).as("sim")),
      k)
  }

  /** (cell, centroid array<float>) for each non-null `cellCol` value of
    * `corpus`: the [[Aggregators.VectorCentroid]] mean of its vectors, as
    * `groupBy(cell).agg(vectorCentroid).cast("array<float>")` gives it (an
    * empty array for a cell whose vectors are all null), folded on the
    * driver in one job by [[Aggregators.centroidBuffers]].
    */
  private[graft] def cellCentroids(corpus: DataFrame, cellCol: String, vecCol: String,
      dims: Int): Seq[Row] = {
    val agg = new Aggregators.VectorCentroid(dims)
    val keyType = corpus.schema(cellCol).dataType
    val toKey = CatalystTypeConverters.createToScalaConverter(keyType)
    Aggregators.centroidBuffers(corpus.select(col(cellCol), col(vecCol)).queryExecution.toRdd, dims)(r =>
      if (r.isNullAt(0)) null else toKey(r.get(0, keyType))).toSeq
      .map { case (cell, b) => Row(cell, agg.finish(b).map(_.toFloat)) }
  }

  /** Int8 scalar quantization of an embedding column: per-vector symmetric
    * scale = max|v_i|/127, q_i = floor(v_i/scale + 0.5). 4× memory and
    * shuffle-bandwidth reduction for 100 TB ANN corpora; the approximate
    * dot product q_a·q_b·scale_a·scale_b ranks within the quantization
    * error. floor(x+0.5) instead of round(): "round half up" with IDENTICAL
    * semantics in Spark and DuckDB (their round() implementations disagree
    * at exact .5 boundaries), keeping the operator exactly oracle-able.
    * Map-side only. Returns (id, scale double, qvec array<int8-valued>).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    val scale = array_max(transform(vd, x => abs(x))) / 127.0
    df.select(col(idCol), scale.as("scale"), vd.as("_vd"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0,
          transform(col("_vd"), _ => lit(0.0)))
          .otherwise(transform(col("_vd"), x => floor(x / col("scale") + 0.5)))
          .as("qvec"))
  }

  /** Formula-derived centroid table: `count` rows of 64-dim vectors whose
    * components are md5-derived integers in [-1000, 1000] divided by 1024
    * — dyadic, so exactly representable in FLOAT and DOUBLE, replayable
    * in any engine with md5 (the q220 discipline). `salt` keeps
    * independent centroid draws (fine vs coarse) uncorrelated.
    */
  def formulaCentroids(spark: org.apache.spark.sql.SparkSession,
      salt: String, idName: String, count: Int, vecName: String): DataFrame =
    spark.range(count.toLong).toDF(idName)
      .select(col(idName).cast("int").as(idName),
        transform(sequence(lit(0), lit(63)), dd =>
          ((TextFunctions.md5Hash60(concat(lit(salt), col(idName).cast("string"),
            lit(":"), dd.cast("string"))) % 2001) - 1000).cast("double") / 1024.0)
          .cast("array<float>").as(vecName))

  /** Hierarchical two-level quantizer assignment (the SemDeDup/IVF coarse
    * step at the scale where K itself is corpus-proportional): K fine
    * formula-centroids partitioned under K₁ = ⌈√K⌉ coarse ones. A flat
    * n×K broadcast argmax is n²/256 cosine evaluations under an O(n)
    * broadcast when K = ⌈n/256⌉; this costs n·√K twice — (1) each fine
    * centroid argmaxes over the broadcast coarse table (K·√K), (2) each
    * vector argmaxes over the coarse cells that own ≥1 child (n·√K,
    * O(√n) broadcast), (3) a SHUFFLE join on the coarse cell id scores
    * each vector against its cell's ~√K children (n·√K; the child table
    * is O(K) rows and is merge-hinted so it can NEVER broadcast —
    * plan-locked in PlanShapeSpec). Ties break toward the lower
    * centroid id at every level; both argmax stages replay exactly as
    * stacked row_number CTEs in a SQL oracle. Output: (idCol, cluster).
    */
  def hierarchicalAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val fine = formulaCentroids(spark, "c:", "cid", k, "cvec")
    val coarse = formulaCentroids(spark, "g:", "gid", k1, "gvec")
    val child = fine.crossJoin(broadcast(coarse))
      .select(col("cid"), col("cvec"),
        struct(cosine(col("cvec"), col("gvec")).as("csim"),
          (-col("gid")).as("ngid")).as("sc"))
      .groupBy(col("cid"), col("cvec"))
      .agg(max(col("sc")).as("b"))
      .select((-col("b.ngid")).as("gid"), col("cid"), col("cvec"))
    // only coarse cells that own ≥1 fine child are probe targets —
    // otherwise a vector could land in a childless cell
    val usedCoarse = coarse.join(child.select(col("gid")).distinct(), Seq("gid"))
    val vecCoarse = df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(usedCoarse))
      .select(col(idCol),
        struct(cosine(col(vecCol), col("gvec")).as("csim"),
          (-col("gid")).as("ngid")).as("sc"))
      .groupBy(col(idCol))
      .agg(max(col("sc")).as("b"))
      .select(col(idCol), (-col("b.ngid")).as("gid"))
    df.select(col(idCol), col(vecCol))
      .join(vecCoarse, Seq(idCol))
      .hint("merge")
      .join(child.hint("merge"), Seq("gid"))
      .select(col(idCol),
        struct(cosine(col(vecCol), col("cvec")).as("csim"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy(col(idCol))
      .agg(max(col("sc")).as("best"))
      .select(col(idCol), (-col("best.ncid")).as("cluster"))
  }

  /** Left-to-right double-fold dot product over two DOUBLE arrays —
    * bit-identical to DuckDB's `list_dot_product(CAST(x AS DOUBLE[]), …)`
    * (probed pairwise on the fixture embeddings before q244 depended on
    * it; same sequential-fold law the q39 cosine gate established).
    * Inputs must already be double arrays. Backed by the native
    * codegen'd [[graft.expressions.DotProduct]]; [[dotFoldComposed]] is
    * the higher-order-builtin reference form LawsSpec pins it against.
    */
  def dotFold(a: Column, b: Column): Column =
    graft.expressions.DotProduct(a, b)

  /** Reference form of [[dotFold]] via aggregate/zip_with (CodegenFallback
    * — spec/probe use only; the fold order is identical by construction).
    */
  private[graft] def dotFoldComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Euclidean distance as sqrt of a left-to-right squared-diff fold —
    * bit-identical to DuckDB's `list_distance` on DOUBLE[] (same probe).
    * The sqrt is NOT redundant for argmin use: two candidate sums can be
    * distinct doubles yet round to the same sqrt, and only the sqrt'd
    * value tie-breaks identically in both engines.
    */
  def l2Fold(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))

  /** Formula-derived product-quantization codebook: `m` subspaces ×
    * `ks` sub-centroids × `subDim` dims, component (md5Hash60("pq:m:j:d")
    * % 2001 - 1000)/1024 — dyadic, exactly representable in DOUBLE, the
    * same replay-anywhere discipline as [[formulaCentroids]] (a
    * production deployment trains these with the gated k-means; the gate
    * uses the formula so the oracle never needs a side-channel model).
    * Driver-side: the codebook is a CONSTANT (m·ks·subDim doubles), baked
    * into the plan as literals — encode is pure projection, no join.
    */
  private[graft] def pqCodebook(m: Int, ks: Int, subDim: Int)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    (0 until m).map(mm => (0 until ks).map(j => (0 until subDim).map(d =>
      ((TextFunctions.md5Hash60Of(s"pq:$mm:$j:$d") % 2001) - 1000).toDouble / 1024.0)))

  /** Product-quantization encode (Jegou/Douze/Schmid, TPAMI 2011): split
    * the `dims`-dim DOUBLE vector into `m` contiguous subspaces and pick,
    * per subspace, the L2-nearest of `ks` codebook sub-centroids (ties →
    * lower code id, via lexicographic struct min). Returns the
    * array<int> of m codes. ENTIRELY map-side: the codebook rides the
    * plan as literals, so at 100 TB this is scan-speed projection — the
    * whole point of PQ (n·m·ks·subDim = n·ks·dims flops once, then every
    * downstream pass touches m bytes of codes instead of dims·4 of
    * floats, a 32× shuffle/storage cut at dims=64, m=8).
    */
  def pqEncode(vecD: Column, dims: Int, m: Int, ks: Int): Column = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val cb = pqCodebook(m, ks, dims / m)
    graft.expressions.PqEncode(vecD,
      cb.map(_.map(_.toArray).toArray).toArray)
  }

  /** Reference form of [[pqEncode]] via slice + struct-min over
    * aggregate/zip_with folds (CodegenFallback — spec use only; same
    * argmin, same sqrt'd distance, same lower-id tie-break).
    */
  private[graft] def pqEncodeComposed(vecD: Column, dims: Int, m: Int, ks: Int): Column = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    val cb = pqCodebook(m, ks, subDim)
    array((0 until m).map { mm =>
      val sub = slice(vecD, mm * subDim + 1, subDim)
      val cands = array((0 until ks).map { j =>
        struct(l2Fold(sub, array(cb(mm)(j).map(lit): _*)).as("d"),
          lit(j).as("j"))
      }: _*)
      array_min(cands).getField("j")
    }: _*)
  }

  /** Reconstruction from PQ codes: concatenate each subspace's selected
    * sub-centroid (pure literal lookup — map-side, no join). Scoring
    * against the reconstruction with one full-width [[dotFold]] gives
    * the asymmetric-distance (ADC) VALUE in a form both engines compute
    * in the identical dimension order — a per-subspace lookup-table sum
    * would round differently between the engines' group orders.
    */
  def pqReconstruct(codes: Column, dims: Int, m: Int, ks: Int): Column = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    val cb = pqCodebook(m, ks, subDim)
    flatten(array((0 until m).map { mm =>
      val cvecs = array((0 until ks).map(j =>
        array(cb(mm)(j).map(lit): _*)): _*)
      element_at(cvecs, element_at(codes, mm + 1) + 1)
    }: _*))
  }

  /** Exact near-duplicate pairs by cosine threshold within blocking keys —
    * O(Σ block²) instead of O(n²); mirror the blocking in any oracle.
    */
  def blockedNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val x = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val y = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    x.join(y, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
