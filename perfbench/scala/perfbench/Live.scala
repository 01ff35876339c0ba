package perfbench

import graft.sinks.Sinks
import graft.sources.WsprNetClient
import graft.sources.v2.WsprNetSourceProvider
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `ingest_live`: 1,000-spot scrapes through the `wsprnet_spots` DSv2 source,
  * `Ingest.processBatch`, and `Sinks.fanOut` into `Sinks.jdbcUpsert` (Derby)
  * and `Sinks.writeSpotsPartitioned`. Closed loop: scrape k+1 is served only
  * after batch k committed. */
object Live {
  val ScrapeSize = 1000
  val WarmupBatches = 2
  val MaxBatchesPerSecond = 4

  /** Serves released scrapes one per fetch; everything else is empty. */
  final class Transport(scrapes: IndexedSeq[String], trace: Trace)
      extends WsprNetClient.HttpTransport {
    val firstRequest: Array[Long] = Array.fill(scrapes.length)(-1L)
    /** Scrapes made available so far; the next one is released when the
      * previous batch commits, up to `limit`. */
    @volatile var released = 0
    @volatile private var limit = 0
    private var served = 0
    def release(n: Int): Unit = synchronized {
      released = math.max(released, math.min(n, math.min(limit, scrapes.length)))
    }
    /** Allow scrapes up to `n` to be released; `n` below the released count
      * stops further releases. */
    def allow(n: Int): Unit = synchronized { limit = n }
    def post(url: String, body: String, headers: Map[String, String]): String = {
      val t0 = System.nanoTime()
      if (url.endsWith("/user/login")) return """{"sessid":"bench","session_name":"SESS"}"""
      val k = synchronized {
        if (served < released) {
          firstRequest(served) = t0
          served += 1
          served - 1
        } else -1
      }
      if (k < 0) "[]"
      else { trace.add("sources.transport", s"b$k", 0, t0, System.nanoTime()); scrapes(k) }
    }
  }

  def run(spark: SparkSession, args: Harness.Args, trace: Trace, out: Result): Unit = {
    val work = args.work
    val n = WarmupBatches + math.ceil(args.seconds * MaxBatchesPerSecond).toInt
    val scrapes = Payloads.generate(args.seed, n, ScrapeSize)
    val transport = new Transport(scrapes.map(_.json).toIndexedSeq, trace)
    val transportId = s"bench-${args.seed}-${System.nanoTime()}"
    WsprNetSourceProvider.registerTransport(transportId, transport)
    val url = s"jdbc:derby:${work.resolve("derby/spots")};create=true"
    val parquetDir = work.resolve("sink-parquet").toString
    val commitAt = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val rowsOut = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    @volatile var cursor = 0L
    val query = spark.readStream.format(classOf[WsprNetSourceProvider].getName)
      .option("transportId", transportId)
      .load()
      .writeStream
      .option("checkpointLocation", work.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tid = s"b$id"
        trace.current = tid
        val (o, stats) = trace.span("streaming.transform", tid) {
          val o = Ingest.processBatch(batch, cursor)
          o.persist()
          (o, o.agg(count(lit(1)), max(col("Spotnum").cast("long"))).first())
        }
        trace.span("sinks.fan_out", tid) {
          Sinks.fanOut(o, Seq(
            d => trace.span("sinks.jdbc_upsert", tid)(Sinks.jdbcUpsert(d, url, "SPOTS", "Spotnum")),
            d => trace.span("sinks.parquet_write", tid)(Sinks.writeSpotsPartitioned(d, parquetDir))))
        }
        o.unpersist()
        if (stats.getLong(0) > 0) cursor = math.max(cursor, stats.getLong(1))
        rowsOut.put(id, stats.getLong(0))
        commitAt.put(id, System.nanoTime())
        transport.release((id + 2).toInt)
        ()
      }
      .start()

    def await(batch: Long, deadlineNs: Long): Boolean = {
      while (!commitAt.containsKey(batch) && System.nanoTime() < deadlineNs) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(1)
      }
      commitAt.containsKey(batch)
    }
    val hard = System.nanoTime() + 150L * 1000000000L
    transport.allow(WarmupBatches)
    transport.release(1)
    require(await(WarmupBatches - 1, hard), "warm-up batches did not commit")
    System.gc() // start the timed window idle and with a clean heap
    val timedStart = System.nanoTime()
    out.num("setup_s", (timedStart - Harness.launched) / 1e9)
    transport.allow(scrapes.length)
    transport.release(WarmupBatches + 1)
    val stopAt = timedStart + (args.seconds * 1e9).toLong
    var last = WarmupBatches - 1L
    while (System.nanoTime() < stopAt && last + 1 < scrapes.length) {
      require(await(last + 1, hard), s"batch ${last + 1} did not commit")
      last += 1
    }
    // stop releasing, then let the batch of any scrape already released commit
    transport.allow(0)
    last = transport.released - 1L
    require(await(last, hard), s"batch $last did not commit")
    query.stop()
    spark.streams.removeListener(progress)

    val timed = WarmupBatches to last.toInt
    val committed = scrapes.take(last.toInt + 1)
    Harness.reportBatches(out, WarmupBatches, timed.map(b => transport.firstRequest(b)),
      timed.map(b => commitAt.get(b.toLong).longValue()), timedStart,
      timed.map(b => rowsOut.get(b.toLong).longValue()).sum, progress, committed)
    out.raw("rows_written_all", (0L to last).map(b => rowsOut.get(b)).mkString("[", ",", "]"))

    // output checks: each clean Spotnum exactly once in both sinks
    val props = new java.util.Properties()
    Harness.rowHashes(Harness.expected(spark, committed), work.resolve("expected.csv"))
    Harness.rowHashes(spark.read.jdbc(url, "SPOTS", props), work.resolve("derby.csv"))
    Harness.rowHashes(spark.read.parquet(parquetDir), work.resolve("parquet.csv"))
    out.str("sinks", "derby,parquet")
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }
}
