package graft.tools

import graft.OutputPolicy

/** Dev tool: schema-only sweep of every gated query against OutputPolicy —
  * prints each driver-unstable output column without executing the queries
  * (side-effecting round-trip queries do run their writes; use sf0.001).
  */
object LintOutputs {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Graft.session(8)
    var bad = 0
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val h = OutputPolicy.hazards(fn(spark, d).schema)
        if (h.nonEmpty) { bad += 1; println(s"$name:\n  ${h.mkString("\n  ")}") }
      } catch { case e: Throwable =>
        bad += 1; println(s"$name: ERROR building plan: ${e.getMessage}")
      }
    }
    println(s"[lint] $bad flagged of ${graft.SparkEntry.queries.size}")
    spark.stop()
  }
}
