package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals

import graft.functions.Similarity
import graft.multimodal.{FlacCodec, Multimodal}
import graft.sources.Tables

/** Layer probes of the traced run. Each times one layer directly on the
  * fixture data or on payloads from graft's own encoders, and checks the
  * layer's output; a failed check is reported, never silently timed.
  */
final class Probes(spark: SparkSession, listener: CounterListener, fixtures: String) {
  private val sc = spark.sparkContext
  private val Reps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of `Reps` timings after one untimed warm-up call. */
  private def medianTime(body: => Unit): Double = {
    body
    median(Seq.fill(Reps)(timed(body)))
  }

  def all(): Map[String, Any] = Seq(() => sources(), () => expressions(), () => multimodal()).map { probe =>
    val t0 = System.nanoTime()
    val result = probe()
    System.err.println(f"[perfbench] probes ${result.keys.head.takeWhile(_ != '.')}%s ${(System.nanoTime() - t0) / 1e9}%.1f s")
    result
  }.reduce(_ ++ _)

  /** Every fixture table loaded through `Tables.load`: the jobs one load
    * starts (schema inference, footer reads) are counted on two separate
    * loads, which must agree, and then warm loads are timed.
    */
  def sources(): Map[String, Any] = {
    def jobsOfOneLoad(t: String, group: String): Long = {
      sc.setJobGroup(group, t, interruptOnCancel = false)
      try Tables.load(spark, fixtures, t) finally sc.clearJobGroup()
      SparkInternals.drainListenerBus(sc)
      listener.take(group).jobs
    }
    val perTable = Tables.names.map { t =>
      val jobs = (jobsOfOneLoad(t, s"probe-load-$t-1"), jobsOfOneLoad(t, s"probe-load-$t-2"))
      (median(Seq.fill(Reps)(timed(Tables.load(spark, fixtures, t)))), jobs._1, jobs._2)
    }
    Map("sources.load_s" -> perTable.map(_._1).sum,
      "sources.load_jobs" -> Seq(perTable.map(_._2).sum, perTable.map(_._3).sum))
  }

  /** Times `native` against `builtin` over the same cached input, and
    * counts the rows where they disagree (`disagreements` gets both as
    * columns `n` and `b`).
    */
  private def kernel(name: String, input: DataFrame, native: Column, builtin: Column)(
      disagreements: DataFrame => Long): Map[String, Any] = {
    val in = input.cache()
    in.count()
    val t0 = System.nanoTime()
    try {
      val bad = disagreements(in.select(native.as("n"), builtin.as("b")))
      Map(
        s"expressions.$name.native_s" -> medianTime(Main.noop(in.select(native.as("v")))),
        s"expressions.$name.builtin_s" -> medianTime(Main.noop(in.select(builtin.as("v")))),
        s"expressions.$name.mismatches" -> bad)
    } finally {
      in.unpersist(blocking = true)
      System.err.println(f"[perfbench] probe $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  private def floatMismatches(tol: Double)(df: DataFrame): Long =
    df.filter(!(col("n") <=> col("b")) &&
      (col("n").isNull || col("b").isNull || abs(col("n") - col("b")) > tol)).count()

  private def exactMismatches(df: DataFrame): Long = df.filter(!(col("n") <=> col("b"))).count()

  /** Builtin cosine: the same left-to-right double fold as the native kernel. */
  private def cosineBuiltin(a: Column, b: Column): Column = {
    def norm(v: Column) = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _) /
      (norm(a) * norm(b))
  }

  def expressions(): Map[String, Any] = {
    // the sf0.1 embedding column repeated, so that the native vector
    // kernels run long enough to time; the interpreted builtin forms of the
    // text and centroid kernels get a sample, so that they stay short
    val copies = spark.range(10).select(col("id").as("copy"))
    val emb = Tables.embeddings(spark, fixtures).crossJoin(copies)
      .select((col("vec_id") * 100 + col("copy")).as("id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val cosine = kernel("cosine", emb,
      Similarity.cosine(col("a"), col("b")), cosineBuiltin(col("a"), col("b")))(floatMismatches(1e-9))

    val dbl = emb.select(col("a").cast("array<double>").as("a"), col("b").cast("array<double>").as("b"))
    val dot = kernel("dot", dbl, Similarity.dotFold(col("a"), col("b")),
      Similarity.dotFoldComposed(col("a"), col("b")))(floatMismatches(1e-9))

    val docs = Tables.documents(spark, fixtures).filter(col("doc_id") % 5 === 0).select(col("text"))
    val tokens = split(col("text"), " ")
    val shinglesBuiltin = when(size(tokens) >= 3,
      array_distinct(transform(sequence(lit(0), size(tokens) - 3),
        i => concat_ws(" ", slice(tokens, i + 1, lit(3))))))
      .otherwise(array().cast("array<string>"))
    val shingles = kernel("word_shingles", docs,
      graft.functions.TextFunctions.wordShingles(col("text"), 3), shinglesBuiltin)(exactMismatches)

    Map.empty[String, Any] ++ cosine ++ dot ++ shingles ++ nearestCentroid()
  }

  /** Native argmax-cosine assignment against the relational form it
    * replaced: cross join with the centroids, cosine, and the first row of a
    * window ordered by similarity descending, then cluster id.
    */
  private def nearestCentroid(): Map[String, Any] = {
    val emb = Tables.embeddings(spark, fixtures)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cluster"), col("embedding").as("centroid"))
    val cents = centroids.agg(sort_array(collect_list(struct(col("cluster"), col("centroid")))).as("cents"))
    val in = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id").as("id"), col("embedding").as("a")).cache()
    in.count()
    try {
      val native = in.crossJoin(broadcast(cents))
        .select(col("id"), graft.expressions.NearestCentroid(col("a"), col("cents")).as("cluster"))
      val w = Window.partitionBy(col("id")).orderBy(col("sim").desc_nulls_last, col("cluster").asc)
      val builtin = in.crossJoin(broadcast(centroids))
        .select(col("id"), col("cluster"), cosineBuiltin(col("a"), col("centroid")).as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id"), col("cluster"))
      val bad = native.as("n").join(builtin.as("b"), Seq("id"), "full_outer")
        .filter(!(col("n.cluster") <=> col("b.cluster"))).count()
      Map(
        "expressions.nearest_centroid.native_s" -> medianTime(Main.noop(native)),
        "expressions.nearest_centroid.builtin_s" -> medianTime(Main.noop(builtin)),
        "expressions.nearest_centroid.mismatches" -> bad)
    } finally in.unpersist(blocking = true)
  }

  /** Decoders run on the driver thread over payloads from graft's own
    * encoders; only decoding is timed, and each decoded result is then
    * compared with what was encoded.
    */
  def multimodal(): Map[String, Any] = {
    val Payloads = 200
    def decodeProbe[T](name: String, payloads: Seq[Array[Byte]])(decode: Array[Byte] => T)(
        ok: (T, Int) => Boolean): Map[String, Any] = {
      val secs = medianTime(payloads.foreach(decode))
      val bad = payloads.indices.count(i => !ok(decode(payloads(i)), i))
      Map(s"multimodal.$name.decode_s" -> secs, s"multimodal.$name.mismatches" -> bad)
    }

    def wave(i: Int, n: Int): Array[Int] =
      Array.tabulate(n)(j => ((j * (3 + i % 11) + 97 * i) % 2000) - 1000)
    val flacSamples = (0 until Payloads).map(i => wave(i, 4096))
    val flac = decodeProbe("flac", flacSamples.map(FlacCodec.encodeStream(_, 16000, 256)))(
      FlacCodec.decodeStats) { (got, i) =>
      val s = flacSamples(i)
      got == ((s.length.toLong, s.map(_.toLong).sum, s.map(v => math.abs(v).toLong).sum, s.map(math.abs).max))
    }

    val audio = Multimodal.AudioCodec
    val media = Multimodal.SyntheticMedia
    def triangle(i: Int, k: Int, phase: Int): Int =
      (math.abs((i.toLong * k + phase) % 4000L - 2000L) - 1000L).toInt
    val adpcmSamples = 4000
    val adpcmPayloads = (0 until Payloads).map(i => media.wavAdpcm(adpcmSamples, 2 + i % 7, 256, 13 * i))
    // the error bound q234 gates on: decoded samples track the encoded wave
    val adpcm = decodeProbe("adpcm", adpcmPayloads)(audio.adpcmStats(_, _ => 0)) { (got, i) =>
      val expected = triangle(_: Int, 2 + i % 7, 13 * i)
      val (_, _, _, _, _, maxErr) = audio.adpcmStats(adpcmPayloads(i), expected)
      got._1 == adpcmSamples && got._2 == expected(0) && maxErr <= 64
    }

    val g711Samples = 4000
    val g711 = decodeProbe("g711",
      (0 until Payloads).map(i => media.wavG711(i % 2 == 0, g711Samples, 3 + i % 13, i)))(
      audio.g711Stats) { (got, i) =>
      val decode: Int => Int = if (i % 2 == 0) audio.alawToLinear else audio.ulawToLinear
      val values = (0 until g711Samples)
        .map(j => decode(((j.toLong * (3 + i % 13) + 7L * i) % 256L).toInt).toLong)
      val (tag, n, sumV, _, _) = got
      tag == (if (i % 2 == 0) 6 else 7) && n == g711Samples && sumV == values.sum
    }

    // graft's still-image path: header sniff, raster decode, luma grid
    val image = decodeProbe("image", (0 until Payloads).map(i => Multimodal.ImageOps.synthPng(i.toLong))) { p =>
      val (_, w, h, _) = Multimodal.ImageCodec.decode(p)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      Multimodal.ImageOps.lumaGrid(img, 9, 8)
      (w, h, img)
    } { case ((w, h, img), i) =>
      w == 16 + i % 17 && h == 16 + i % 13 &&
        (0 until h).forall(y => (0 until w).forall(x =>
          (img.getRGB(x, y) & 0xff) == ((7L * x + 13L * y + 31L * i) % 256L).toInt))
    }
    flac ++ adpcm ++ g711 ++ image
  }
}
