package graft

import java.io.File
import scala.io.Source

/** The shared test session is the production posture from [[Session]]:
  * GraftExtensions installed, every pinned conf in place. A source scan
  * keeps the collapse from regrowing: `src/` holds exactly one session
  * builder and one forcing helper. */
class SessionSpec extends SparkSpec {

  test("GraftExtensions ride the shared session: injected SQL functions resolve") {
    val r = spark.sql("SELECT poly_hash('a'), vec_dot(array(1d), array(2d))").head()
    assert(r.getLong(0) == graft.functions.expressions.PolyHash.hash("a"))
    assert(r.getDouble(1) == 2.0)
  }

  test("the shared session carries the daemon's pinned confs") {
    val expected = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "true",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    assert(Session.pinned(4).toMap == expected)
    val sc = spark.sparkContext.getConf
    expected.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).orElse(sc.getOption(k)).contains(v), k)
    }
  }

  /** Lines under `src/` containing `token`, as `path:line` strings. */
  private def occurrences(token: String): Seq[String] = {
    val root = Iterator.iterate(new File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail("project root (build.sbt) not found"))
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    files(new File(root, "src")).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains(token) => s"${f.getPath}:${i + 1}"
      }.toList finally src.close()
    }
  }

  test("src/ has exactly one session builder, one force and no second barrier") {
    // tokens are concatenated so this file never matches its own scan
    val builder = occurrences("SparkSession" + ".builder")
    assert(builder.size == 1 && builder.head.contains("Session.scala:"), builder)
    val force = occurrences("def " + "force")
    assert(force.size == 1 && force.head.contains("Bench.scala"), force)
    assert(occurrences("def " + "barrierDisk").isEmpty)
  }
}
