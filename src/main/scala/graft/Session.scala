package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every entry point runs on: the daemon (`Main`),
  * `Verify`, `Bench`, every `graft.tools` main and the test suite. A
  * posture set in one place cannot drift between the path that is timed,
  * the path that is verified and the path that ships.
  *
  * Inputs are two environment variables only: `SPARK_GRAFT_CPUS` (the core
  * count; every core the JVM sees when unset) and `SPARK_GRAFT_MASTER`
  * (overrides the `local[cpus]` master, e.g. `local-cluster[2,1,1024]`).
  * A caller that needs a different value for one of the pinned SQL confs
  * sets it on the returned session with `spark.conf.set`, next to the
  * reason for it. */
object Session {

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Confs pinned on every session, so no deployment-level default can
    * shift behavior under the entry points. */
  def pinned(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "true",
    // files-based checkpoints (connected components) are reclaimed when
    // their RDD is GC'd, instead of accumulating for the session lifetime
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    // events.parquet is TIMESTAMP(NANOS), unreadable without it
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Native functions, optimizer rules and the TopK planner strategy ride
    * the session from birth (the rules stay inert without their opt-in
    * confs or custom nodes). */
  def apply(cpus: Int = defaultCpus): SparkSession =
    pinned(cpus).foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
        .appName("graft")
        .withExtensions(new graft.functions.expressions.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
