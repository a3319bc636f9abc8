package graft

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.types.{AttributeMissing, AttributeTypeMismatch}

/** `Tables.load` reads its schema from one footer on the driver: it must be
  * the schema Spark's own inference gives, and drift from the declared
  * schema must still fail at load with the typed errors.
  */
class TablesSpec extends SparkTestBase {

  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => Paths.get(sf).resolveSibling(s).toString)

  test("the footer schema a load passes equals spark.read.parquet's inferred schema, every table and scale") {
    val nanos = Graft.childSession(spark, Tables.nanosAsLong)
    for (dir <- scales; t <- Tables.names) {
      val path = s"$dir/$t.parquet"
      // events read on the loaders' child session (see Tables.load)
      val reader = if (t == "events") nanos else spark
      val inferred = reader.read.parquet(path).schema
      assert(Tables.parquetSchema(reader, path) == Some(inferred), s"$path")
      if (t != "events") assert(Tables.load(spark, dir, t).schema == inferred, s"$path")
    }
  }

  /** `region` rows written to a fresh fixture dir, for the drift tests. */
  private def regionDir(cols: org.apache.spark.sql.Column*): String = {
    val dir = Graft.scratch("region_drift")
    spark.range(3).select(cols: _*).write.parquet(s"$dir/region.parquet")
    dir
  }

  test("a file missing a declared column fails the load with AttributeMissing") {
    val dir = regionDir(col("id").cast("int").as("r_regionkey"))
    val e = intercept[AttributeMissing](Tables.load(spark, dir, "region"))
    assert(e.name == "region.r_name", e.toString)
  }

  test("a column of the wrong type fails the load with AttributeTypeMismatch") {
    val dir = regionDir(col("id").cast("string").as("r_regionkey"), lit("x").as("r_name"))
    val e = intercept[AttributeTypeMismatch](Tables.load(spark, dir, "region"))
    assert(e.name == "region.r_regionkey", e.toString)
  }
}
