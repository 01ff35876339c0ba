package graft.tools

/** Smoke-run of SparkEntry.entry, mirroring the driver's t1 check. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, 200, vertical = false)
    spark.stop()
  }
}
