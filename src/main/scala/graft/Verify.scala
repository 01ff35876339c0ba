package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Pin the materialized-artifact locations to THIS run's scale factor
    // before the oracle SQL is rendered: q42's oracle reads the IVF index
    // parquet and q58's the BPE merges parquet that their queries
    // materialized, keyed by the fixture basename.
    System.setProperty("graft.ivf.path", SparkEntry.ivfIndexPath(sfDir))
    System.setProperty("graft.ivfproto.path", SparkEntry.ivfProtoIndexPath(sfDir))
    System.setProperty("graft.bpe.path", SparkEntry.bpeMergesPath(sfDir))
    System.setProperty("graft.lsh.path", SparkEntry.lshIndexPath(sfDir))
    System.setProperty("graft.pq.path", SparkEntry.pqIndexPath(sfDir))
    System.setProperty("graft.ivfpq.path", SparkEntry.ivfPqIndexPath(sfDir))
    System.setProperty("graft.ivfpq2.path", SparkEntry.ivfPq2IndexPath(sfDir))
    System.setProperty("graft.graypx.path", SparkEntry.grayPixelsPath(sfDir))
    System.setProperty("graft.graypx2.path",
      SparkEntry.grayPixelsPath(sfDir) + "_pairs")
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Full JSON escaping matters here: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = graft.util.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
