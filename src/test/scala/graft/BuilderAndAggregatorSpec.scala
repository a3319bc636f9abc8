package graft

import org.apache.spark.sql.functions._
import graft.types._
import graft.sources.TableBuilder
import graft.functions.{Aggregators, Similarity}

class BuilderAndAggregatorSpec extends SparkTestBase {

  test("TableBuilder: fluent append with nulls (table.rs appender_rows)") {
    val schema = GSchema.of(Attr("test_column", GraftType.Int64, nullable = true))
    val df = TableBuilder(spark, schema)
      .addRow().setNull().done()
      .addRow().set(15L).done()
      .build()
    val got = df.collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(0))
    assert(got(1).getLong(0) == 15L)
  }

  test("TableBuilder: writing past schema width is a sticky error (appender_end_of_row)") {
    val schema = GSchema.of(Attr("only", GraftType.Int64, nullable = false))
    val b = TableBuilder(spark, schema).addRow().set(1L).set(2L)
    assert(b.error.exists(_.isInstanceOf[AttributeMissing]))
    intercept[AttributeMissing] { b.build() }
  }

  test("TableBuilder: null into non-nullable column errors") {
    val schema = GSchema.of(Attr("req", GraftType.Text, nullable = false))
    val b = TableBuilder(spark, schema).addRow().setNull().done()
    assert(b.error.exists(_.isInstanceOf[AttributeTypeMismatch]))
  }

  test("TableBuilder: varlen BLOB/TEXT round-trip (varlen_columns)") {
    val schema = GSchema.of(
      Attr("one", GraftType.Blob, nullable = false),
      Attr("two", GraftType.Text, nullable = false))
    val bytes = Array[Byte](0, 1, 2, 3, 4)
    val df = TableBuilder(spark, schema)
      .addRow().set(bytes).set("one").done()
      .addRow().set(bytes).set("two").done()
      .build()
    val got = df.collect()
    assert(got(0).getAs[Array[Byte]](0).toSeq == bytes.toSeq)
    assert(got.map(_.getString(1)).toSeq == Seq("one", "two"))
  }

  test("VectorCentroid aggregator matches relational per-dimension mean") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val viaUdaf = emb.groupBy(col("label"))
      .agg(Aggregators.vectorCentroid(col("embedding"), 64).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaRelational = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("double")) / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), x => x.getField("m")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(viaUdaf.keySet == viaRelational.keySet)
    viaUdaf.foreach { case (k, c) =>
      c.zip(viaRelational(k)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("IVF ANN: valid ranks, true sims, and nonzero recall vs brute force") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label",
        Similarity.cellCentroids(emb, "label", "embedding", 64), 5, nprobe = 4)
      .collect()
    assert(ivf.nonEmpty)
    // all sims must be exact cosines (subset of the full ranking universe)
    val allSims = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ivf.foreach { r =>
      assert(math.abs(allSims((r.getLong(0), r.getLong(2))) - r.getDouble(3)) == 0.0)
    }
    val recall = (exact & ivf.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    assert(recall > 0.2, s"recall $recall")
  }
}
