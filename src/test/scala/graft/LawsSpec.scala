package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.functions.{TextFunctions => TF}

/** Property-based algebraic laws (SURVEY.md §5.3): projection idempotence,
  * filter composition, cast round-trips, null propagation, and set-algebra
  * invariants of the similarity primitives.
  */
class LawsSpec extends SparkTestBase {

  import spark.implicits._

  /** Minimal ScalaCheck runner (scalatest-scalacheck bridge isn't a dep). */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  private val rows = Gen.listOfN(30,
    for {
      a <- Gen.chooseNum(-1000L, 1000L)
      b <- Gen.chooseNum(-50, 50)
      s <- Gen.alphaStr.map(_.take(8))
    } yield (a, b, s))

  test("projection is idempotent: π(π(df)) == π(df)") {
    check(Prop.forAll(rows) { data =>
      val df = data.toDF("a", "b", "s")
      val once = df.select(col("a"), col("s"))
      val twice = once.select(col("a"), col("s"))
      once.collect().toSeq == twice.collect().toSeq
    })
  }

  test("filter composes: σp(σq(df)) == σ(p∧q)(df)") {
    check(Prop.forAll(rows) { data =>
      val df = data.toDF("a", "b", "s")
      val chained = df.filter(col("a") > 0).filter(col("b") < 10)
      val combined = df.filter(col("a") > 0 && col("b") < 10)
      chained.collect().toSeq == combined.collect().toSeq
    })
  }

  test("widening cast round-trips: int → long → int is identity") {
    check(Prop.forAll(rows) { data =>
      val df = data.toDF("a", "b", "s")
      df.select((col("b").cast("long").cast("int") === col("b")).as("ok"))
        .collect().forall(_.getBoolean(0))
    })
  }

  test("null propagation: f(null) is null for scalar functions") {
    val df = Seq[(java.lang.Long, String)]((null, null)).toDF("x", "s")
    val r = df.select(
      (col("x") + 1).as("a"), upper(col("s")).as("b"),
      (col("x") === 5).as("c"), length(col("s")).as("d")).collect().head
    (0 until 4).foreach(i => assert(r.isNullAt(i)))
  }

  test("jaccard laws: j(a,a)=1, symmetry, bounds") {
    val texts = Gen.listOfN(8, Gen.nonEmptyListOf(
      Gen.oneOf("red", "green", "blue", "cyan", "teal", "plum"))
      .map(_.mkString(" ")))
    check(Prop.forAll(texts, texts) { (ta, tb) =>
      val df = ta.zip(tb).toDF("a", "b")
        .filter(size(split(col("a"), " ")) >= 2 && size(split(col("b"), " ")) >= 2)
        .select(
          TF.jaccard(TF.wordShingles(col("a"), 2), TF.wordShingles(col("b"), 2)).as("jab"),
          TF.jaccard(TF.wordShingles(col("b"), 2), TF.wordShingles(col("a"), 2)).as("jba"),
          TF.jaccard(TF.wordShingles(col("a"), 2), TF.wordShingles(col("a"), 2)).as("jaa"))
      df.collect().forall { r =>
        val (jab, jba, jaa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        jab == jba && jaa == 1.0 && jab >= 0.0 && jab <= 1.0
      }
    })
  }

  test("minhash signature similarity approximates jaccard identity case") {
    import graft.functions.MinHash
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), TF.wordShingles(col("text"), 3).as("sset"))
    val sigs = MinHash.signatures(sh, "doc_id", "sset")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L)) // identical sets → identical signatures
  }

  test("misra-gries laws: never overcounts, undercount <= N/(k+1), heavy survive") {
    import graft.expressions.MisraGriesAggregate
    val streams = Gen.listOfN(200, Gen.oneOf(
      "a", "a", "a", "a", "b", "b", "c", "d", "e", "f", "g", "h"))
    check(Prop.forAll(streams) { items =>
      val k = 3
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val m = spark.sparkContext.parallelize(items, 4).toDF("t")
        .agg(MisraGriesAggregate(col("t"), k).as("m"))
        .collect()(0).getMap[String, Long](0)
      val bound = n / (k + 1)
      m.size <= k &&
        m.forall { case (t, est) => est <= exact(t) && exact(t) - est <= bound } &&
        exact.forall { case (t, c) => c <= bound || m.contains(t) }
    })
  }

  test("int8 quantization laws: error <= scale/2, no clipping, sign preserved") {
    import graft.functions.Similarity
    val vecs = Gen.listOfN(6, Gen.listOfN(8,
      Gen.chooseNum(-100.0f, 100.0f)).map(_.toArray))
    check(Prop.forAll(vecs) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val rows = Similarity.quantizeInt8(df, "vec_id", "embedding")
        .join(df.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vd")), "vec_id")
        .collect()
      rows.forall { r =>
        val scale = r.getDouble(r.fieldIndex("scale"))
        val q = r.getSeq[Double](r.fieldIndex("qvec"))
        val vd = r.getSeq[Double](r.fieldIndex("vd"))
        q.forall(x => math.abs(x) <= 127.0) &&
          q.zip(vd).forall { case (qq, x) =>
            math.abs(x - qq * scale) <= scale / 2.0 + 1e-12 &&
              (x == 0.0 || qq == 0.0 || qq.sign == x.sign)
          }
      }
    })
  }

  test("md5-60 helper equals the md5Hash60 column law, non-ASCII included") {
    val piece = Gen.oneOf("a", "Z", "7", " ", "w:", "é", "ß", "ж", "日本", "😀", "")
    val strs = Gen.listOfN(20, Gen.listOf(piece).map(_.mkString))
    check(Prop.forAll(strs) { ss =>
      ss.toDF("s").select(TF.md5Hash60(col("s"))).as[Long].collect().toSeq ==
        ss.map(TF.md5Hash60Of)
    })
  }

  test("pq natives: DotProduct and PqEncode are bit-identical to the composed folds") {
    // the q244 exactness chain: oracle == composed folds (probed against
    // DuckDB's list_dot_product/list_distance) == native expressions
    // (this pin). Runs over REAL fixture embeddings plus adjacent-pair
    // dots, compared as raw IEEE-754 bits — a one-ulp drift anywhere in
    // the codegen'd loops fails.
    import graft.functions.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
    val a = emb.select(col("vec_id").as("ida"), col("vd").as("va"))
    val b = emb.select((col("vec_id") - 1).as("ida"), col("vd").as("vb"))
    val dots = a.join(b, Seq("ida"))
      .select(Similarity.dotFold(col("va"), col("vb")).as("native"),
        Similarity.dotFoldComposed(col("va"), col("vb")).as("composed"))
      .collect()
    assert(dots.nonEmpty)
    dots.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val codes = emb
      .select(Similarity.pqEncode(col("vd"), 64, 8, 16).as("native"),
        Similarity.pqEncodeComposed(col("vd"), 64, 8, 16).as("composed"))
      .collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
    }
  }

  test("pq null semantics: null element, length mismatch, null input -> null") {
    import graft.functions.Similarity
    val df = Seq(
      (1L, Some(Seq.fill(64)(Option(0.5))), Some(Seq.fill(64)(Option(0.25)))),
      (2L, Some(Seq.fill(64)(Option(0.5))), Some(Option(1.0) +: Seq.fill(62)(Option(0.25)) :+ (None: Option[Double]))),
      (3L, Some(Seq.fill(8)(Option(0.5))), Some(Seq.fill(64)(Option(0.25)))),
      (4L, None, Some(Seq.fill(64)(Option(0.25)))))
      .toDF("id", "x", "y")
    val out = df.select(col("id"),
      Similarity.dotFold(col("x"), col("y")).as("dot"),
      Similarity.pqEncode(col("x"), 64, 8, 16).as("codes"))
      .orderBy(col("id")).collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    assert(out(1).isNullAt(1), "null element must poison the dot")
    assert(out(2).isNullAt(1), "length mismatch must be null")
    assert(out(2).isNullAt(2), "pq of a wrong-width vector must be null")
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
  }
}
