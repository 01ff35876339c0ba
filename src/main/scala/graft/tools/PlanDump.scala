package graft.tools

/** Dump formatted physical plans for selected queries (plan hygiene review:
  * PushedFilters, ReadSchema pruning, broadcast vs shuffle joins,
  * WholeStageCodegen spans). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q01_pricing", "q13_enrich", "q20_join_agg", "q31_dedup_ngram", "q35_sim_topk", "q05_gap_audit")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      println(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
