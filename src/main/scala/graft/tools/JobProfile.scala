package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-time profile of one or more declared queries — the
  * guide-§1 "measure first" instrument. Runs each named query exactly the
  * way Bench does (same session confs, same xxhash64/bit_xor forcing
  * aggregate, warmup pass on sf0.001), with a SparkListener recording every
  * job's (callSite, wall ms). The call site names the action that spawned
  * the job — `checkpoint at Graph.scala:134`, `count at Graph.scala:159`,
  * `collect at JobProfile.scala:...` — so the output is a direct answer to
  * "where do this query's seconds go: checkpoints, fixpoint probes, or the
  * timed collect?".
  *
  * Usage: runMain graft.tools.JobProfile q121_scc [q96_pagerank_incremental ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
  * (default: every core). */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage's name IS the action call site ("count at
        // Graph.scala:159", "checkpoint at Graph.scala:134", ...)
        val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '(').trim)
          .getOrElse("?")
        starts.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (site, t0) =>
          jobs.add((site, System.nanoTime() - t0))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wallMs = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(0L)
        stages.add((si.name.takeWhile(_ != '(').trim, si.numTasks, wallMs,
          si.taskMetrics.executorRunTime))
      }
    })

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try graft.Bench.force(fn(spark, "/root/testdata/sf0.001")) // warm JIT + codegen
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup failed for $name: ${e.getMessage}")
      }
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      graft.Bench.force(fn(spark, sfDir))
      val totalS = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val bySite = jobs.asScala.toSeq.groupBy(_._1)
        .map { case (site, xs) => (site, xs.size, xs.map(_._2).sum / 1e9) }
        .toSeq.sortBy(-_._3)
      println(f"\n==== $name: total $totalS%.2f s, ${jobs.size} jobs, ${stages.size} stages ====")
      bySite.foreach { case (site, n, s) =>
        println(f"  $s%8.2f s  n=$n%-4d $site")
      }
      println("  -- stages (wall = submit->complete; run = summed task time) --")
      stages.asScala.toSeq.groupBy(_._1)
        .map { case (nm, xs) =>
          (nm, xs.size, xs.map(_._2).sum, xs.map(_._3).sum / 1e3, xs.map(_._4).sum / 1e3) }
        .toSeq.sortBy(-_._4).take(15)
        .foreach { case (nm, n, tasks, wallS, runS) =>
          println(f"  wall $wallS%7.2f s run $runS%7.2f s n=$n%-4d tasks=$tasks%-5d $nm")
        }
    }
    spark.stop()
  }
}
