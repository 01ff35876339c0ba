package perfbench

import graft.streaming.Ingest
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** `ingest_catchup`: a backlog of 9,999-spot files dropped back to back into
  * the production file-drop daemon (`Ingest.start`), parquet sink only.
  * Closed loop: file k+1 is renamed into the drop directory once batch k's
  * cursor state shows it committed. */
object Catchup {
  val FileSize = 9999
  val WarmupBatches = 1
  val MaxBatchesPerSecond = 1

  /** Batch id recorded in the daemon's cursor state, or -1. */
  private def committedBatch(cursorFile: Path): Long =
    try Files.readString(cursorFile).trim.split(",")(0).toLong
    catch { case _: java.io.IOException | _: NumberFormatException => -1L }

  def run(spark: SparkSession, args: Harness.Args, trace: Trace, out: Result): Unit = {
    val work = args.work
    val n = WarmupBatches + math.ceil(args.seconds * MaxBatchesPerSecond).toInt
    val scrapes = Payloads.generate(args.seed, n, FileSize)
    val staging = Files.createDirectories(work.resolve("staging"))
    val drop = Files.createDirectories(work.resolve("drop"))
    val checkpoint = work.resolve("checkpoint")
    val sink = work.resolve("sink-parquet")
    val staged = scrapes.zipWithIndex.map { case (s, i) =>
      Files.writeString(staging.resolve(f"spots-$i%05d.json"), s.json)
    }
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val query = Ingest.start(spark, drop.toString, checkpoint.toString, sink.toString,
      Trigger.ProcessingTime(0L))
    val cursorFile = checkpoint.resolve("graft-cursor")
    val droppedAt = new Array[Long](scrapes.length)
    val commitAt = new Array[Long](scrapes.length)
    val hard = System.nanoTime() + 150L * 1000000000L

    /** Drop file k and wait until its batch commits. */
    def cycle(k: Int): Unit = {
      trace.current = s"b$k"
      droppedAt(k) = System.nanoTime()
      Files.move(staged(k), drop.resolve(staged(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
      while (committedBatch(cursorFile) < k) {
        if (query.exception.isDefined) throw query.exception.get
        require(System.nanoTime() < hard, s"batch $k did not commit")
        Thread.sleep(1)
      }
      commitAt(k) = System.nanoTime()
    }
    (0 until WarmupBatches).foreach(cycle)
    System.gc() // start the timed window with a clean heap
    val timedStart = System.nanoTime()
    out.num("setup_s", (timedStart - Harness.launched) / 1e9)
    val stopAt = timedStart + (args.seconds * 1e9).toLong
    var last = WarmupBatches - 1
    while (System.nanoTime() < stopAt && last + 1 < scrapes.length) {
      last += 1
      cycle(last)
    }
    query.processAllAvailable()
    query.stop()
    spark.streams.removeListener(progress)
    trace.current = "checks"

    val timed = WarmupBatches to last
    val committed = scrapes.take(last + 1)
    Harness.reportBatches(out, WarmupBatches, timed.map(droppedAt(_)), timed.map(commitAt(_)),
      timedStart, timed.map(b => scrapes(b).clean.size.toLong).sum, progress, committed)

    Harness.rowHashes(Harness.expected(spark, committed), work.resolve("expected.csv"))
    Harness.rowHashes(Ingest.readSink(spark, sink.toString), work.resolve("parquet.csv"))
    out.str("sinks", "parquet")
  }
}
