package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's JVM side. It drives the program only through its public
  * calls, times them from outside, and writes raw samples, spans and
  * counters to `<work>/result.json`; `run.py` turns those into metrics.
  *
  * {{{
  * Harness --workload ingest_live|ingest_catchup|query_board|payloads
  *         --seed N --seconds S --trace 0|1 --work DIR [--data DIR]
  * }}}
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Path.of(m("work")), m.get("data"))
  }

  /** Session settings of the program's own entry points (Bench/Verify). */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JVM start, the origin of the set-up time. */
  val launched: Long = System.nanoTime()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    System.setProperty("derby.system.home", args.work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", args.work.resolve("derby.log").toString)
    if (args.workload == "payloads") { dumpPayloads(args); return }
    val trace = new Trace(args.trace)
    val spark = session(args.work)
    val out = new Result
    try {
      trace.install(spark)
      out.num("clock_offset_ns", trace.clockOffsetNs.toDouble)
      out.num("session_s", (System.nanoTime() - launched) / 1e9)
      args.workload match {
        case "ingest_live" => Live.run(spark, args, trace, out)
        case "ingest_catchup" => Catchup.run(spark, args, trace, out)
        case "query_board" => Board.run(spark, args, trace, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      out.raw("spans", trace.spansJson)
      out.raw("counters", trace.countersJson)
      Files.writeString(args.work.resolve("result.json"), out.json)
    } finally spark.stop()
  }

  /** Writes the payloads of a seed to `<work>/payloads/` (determinism check). */
  def dumpPayloads(args: Args): Unit = {
    val dir = Files.createDirectories(args.work.resolve("payloads"))
    Payloads.generate(args.seed, 4, Live.ScrapeSize).zipWithIndex.foreach { case (s, i) =>
      Files.writeString(dir.resolve(f"live-$i%03d.json"), s.json)
    }
    Payloads.generate(args.seed, 2, Catchup.FileSize).zipWithIndex.foreach { case (s, i) =>
      Files.writeString(dir.resolve(f"catchup-$i%03d.json"), s.json)
    }
  }

  /** Bench.force's forcing: hash every output column of every row and
    * bit-xor the row hashes into one long. */
  def force(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)

  /** (Spotnum, hash of the 27 enriched columns) for each row of `df`. */
  def rowHashes(df: DataFrame, file: Path): Unit = {
    val cols = graft.spots.SpotSchema.enriched27Columns
    val rows = df.select(col("Spotnum").cast("long"),
        xxhash64(cols.map(c => col(c).cast("string")): _*))
      .collect()
    val sb = new StringBuilder
    rows.foreach(r => sb.append(r.getLong(0)).append(',').append(r.getLong(1)).append('\n'))
    Files.writeString(file, sb.toString)
  }

  /** The clean set of `scrapes` as one DataFrame, enriched once. */
  def expected(spark: SparkSession, scrapes: Seq[Payloads.Scrape]): DataFrame = {
    val rows = scrapes.flatMap(_.clean).map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), graft.spots.SpotSchema.apiSchema)
    graft.operators.Enrich.formatted(df)
  }

  /** The batch timeline both ingest workloads report: per timed batch its
    * availability and sink-commit instants, the stream's progress, and the
    * first clean Spotnum of every committed batch (to charge check failures). */
  def reportBatches(out: Result, warmup: Int, availableNs: Seq[Long], commitNs: Seq[Long],
      timedStartNs: Long, spots: Long, progress: ProgressLog,
      committed: Seq[Payloads.Scrape]): Unit = {
    out.num("timed_s", (commitNs.last - timedStartNs) / 1e9)
    out.nums("freshness_ms", availableNs.zip(commitNs).map { case (a, c) => (c - a) / 1e6 })
    out.num("spots_committed", spots.toDouble)
    out.num("warmup_batches", warmup.toDouble)
    out.raw("availability_ns", availableNs.mkString("[", ",", "]"))
    out.raw("commit_ns", commitNs.mkString("[", ",", "]"))
    out.raw("progress", Progresses.json(progress))
    out.raw("batch_first_spotnum", committed.map(_.clean.head(0)).mkString("[", ",", "]"))
  }
}

/** Raw result fields, serialized as one JSON object. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = v.toString
  def nums(k: String, v: Seq[Double]): Unit = fields(k) = v.mkString("[", ",", "]")
  def str(k: String, v: String): Unit = fields(k) = graft.util.Json.quote(v)
  def raw(k: String, json: String): Unit = fields(k) = json
  def json: String = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{\n", ",\n", "}\n")
}

/** Progress records as JSON: batch id, trigger start (epoch ms) and the
  * `durationMs` map. */
object Progresses {
  def json(log: ProgressLog): String = {
    import scala.jdk.CollectionConverters._
    log.progress.asScala.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      s"""{"batch":${p.batchId},"start_ms":$ts,"rows":${p.numInputRows},"duration_ms":$d}"""
    }.mkString("[", ",\n", "]")
  }
}
