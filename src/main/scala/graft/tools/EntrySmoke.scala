package graft.tools

/** Dev tool: run the flagship SparkEntry.entry query (driver t1 smoke) and
  * print its row count + head, mirroring the driver's rows>0 check.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
