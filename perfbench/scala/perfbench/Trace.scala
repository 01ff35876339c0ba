package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** In-memory spans and counters, written out once when the run ends.
  *
  * A span is (name, trace id, parent span id, start, end) in nanoseconds of
  * `System.nanoTime`. Counters are keyed by (trace id, name). With tracing
  * off, [[span]] only runs its body and nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, traceId: String, parent: Int,
      start: Long, end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[(String, String), Double]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 1

  /** `System.nanoTime` minus epoch nanoseconds, to place listener events
    * (stamped in epoch milliseconds) on the span clock. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMsToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  /** Trace id that listener events are charged to (the current batch or
    * query); set by the workload around each operation. */
  @volatile var current: String = "setup"

  def add(name: String, traceId: String, parent: Int, start: Long, end: Long): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, name, traceId, parent, start, end)
      nextId += 1
    }

  def span[T](name: String, traceId: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = open.get.headOption.getOrElse(0)
    open.set(id :: open.get)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open.set(open.get.tail)
      synchronized { spans += Span(id, name, traceId, parent, start, end) }
    }
  }

  def count(name: String, v: Double, traceId: String = current): Unit =
    if (enabled) synchronized {
      counters((traceId, name)) = counters.getOrElse((traceId, name), 0.0) + v
    }

  def spansJson: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","trace":"${s.traceId}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[", ",\n", "]")
  }

  def countersJson: String = synchronized {
    counters.map { case ((t, n), v) => s"""{"trace":"$t","name":"$n","value":$v}""" }
      .mkString("[", ",\n", "]")
  }

  /** Register the Spark and query-execution listeners that feed the
    * per-layer counters. A job is charged to its `perfbench.trace` local
    * property, else to its streaming batch, else to [[current]]; its stages
    * and tasks follow the job. */
  def install(spark: SparkSession): Unit = if (enabled) {
    val stageTrace = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val barrierRdds = mutable.Map.empty[Int, String]
    val jobs = mutable.Map.empty[Int, (String, Long, Boolean)]
    def stage(id: Int): String = Option(stageTrace.get(id)).getOrElse(current)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val t = prop("perfbench.trace")
          .orElse(prop("streaming.sql.batchId").map("b" + _)).getOrElse(current)
        e.stageIds.foreach(stageTrace.put(_, t))
        count("spark.jobs", 1, t)
        // a job's call site is the name of its final stage
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        val barrier = site.startsWith("localCheckpoint") || site.startsWith("checkpoint")
        Trace.this.synchronized {
          jobs(e.jobId) = (t, epochMsToNs(e.time), barrier)
          if (barrier) e.stageInfos.foreach(_.rddInfos.filter(_.storageLevel.isValid)
            .foreach(r => barrierRdds(r.id) = t))
        }
        if (barrier) count("util.barrier_jobs", 1, t)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Trace.this.synchronized(jobs.remove(e.jobId)).foreach { case (t, start, barrier) =>
          val end = epochMsToNs(e.time)
          add(if (barrier) "util.barrier_job" else "spark.job", t, 0, start, end)
          if (barrier) count("util.barrier_ms", (end - start) / 1e6, t)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        count("spark.stages", 1, stage(e.stageInfo.stageId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val t = stage(e.stageId)
        count("spark.tasks", 1, t)
        val m = e.taskMetrics
        if (m != null) {
          count("spark.task_cpu_ms", m.executorCpuTime / 1e6, t)
          count("spark.gc_ms", m.jvmGCTime.toDouble, t)
          count("spark.shuffle_read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble, t)
          count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble, t)
          count("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, t)
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(rdd, _) =>
            Trace.this.synchronized(barrierRdds.get(rdd)).foreach { t =>
              count("util.barrier_bytes",
                (e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize).toDouble, t)
            }
          case _ => ()
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        count("plans.planning_ms",
          Seq("analysis", "optimization", "planning").flatMap(phases.get)
            .map(_.durationMs.toDouble).sum)
        count(s"actions.$f.ms", durationNs / 1e6)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}

/** Collects `StreamingQueryProgress` for every trigger that ran a batch. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
