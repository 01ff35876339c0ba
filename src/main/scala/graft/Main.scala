package graft

import graft.operators.{Audit, Enrich}
import graft.sinks.{Sinks, SpoolDrain}
import graft.sources.{SpotSource, WsprNetClient}
import graft.streaming.{DaemonControl, Ingest}
import org.apache.spark.sql.functions._

/** CLI driver (reference: T2 scrape-once, T3 daemon loop, T4 pidfile,
  * T6 getopts surface; wsprnet-scraper.sh:409-442, :446-524, :615-683).
  * Daemon process management is the pidfile protocol in
  * [[graft.streaming.DaemonControl]]; T5 systemd boot stays with the host's
  * service manager.
  *
  * Usage:
  *   graft.Main enrich  <in.json|in.csv> <outDir>          # E2: one batch through the enricher
  *   graft.Main audit   <in.json|in.csv|parquetDir>        # A1 gap audit as one JSON line
  *   graft.Main stream  <inDir> <checkpointDir> <outDir>   # file-drop daemon (T3/T4)
  *   graft.Main status  <checkpointDir>                    # T6 -s: pid + cursor position
  *   graft.Main stop    <checkpointDir>                    # T6 -z: terminate the daemon
  *   graft.Main drain   <spoolDir> <destDir> [--once]      # K4 uploader daemon
  *   graft.Main scrape  <outDir> [--once] [--no-upload]    # HTTP poll loop (T1 cadence)
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "enrich" :: in :: out :: Nil =>
      val spark = Session()
      val batch = SpotSource.sorted(SpotSource.load(spark, in))
      val enriched = Enrich.formatted(batch)
      Sinks.writeCsv27(enriched, out)
      val audit = Audit.gapAudit(batch, "Spotnum").collect().head
      println(s"enriched=${enriched.count()} gaps=${audit.getLong(0)} missing=${audit.getLong(1)}")
      spark.stop()

    case "audit" :: in :: Nil =>
      val spark = Session()
      val batch =
        (if (in.endsWith(".json") || in.endsWith(".csv")) SpotSource.load(spark, in)
         else spark.read.parquet(in)).cache() // two actions below, one read
      val a = Audit.gapAudit(batch, "Spotnum").collect().head
      val n = batch.count()
      println(s"""{"rows":$n,"total_gaps":${a.getLong(0)},"total_missing":${a.getLong(1)},"max_gap":${a.getLong(2)}}""")
      spark.stop()

    case "stream" :: in :: ckpt :: out :: Nil =>
      // T4 pidfile mutex: refuse to start a second daemon on this checkpoint
      if (!DaemonControl.acquirePidfile(ckpt)) {
        System.err.println(s"stream daemon already running (see $ckpt/graft.pid)")
        sys.exit(1)
      }
      val spark = Session()
      val q = Ingest.start(spark, in, ckpt, out)
      q.awaitTermination()

    case "docs" :: in :: ckpt :: corpus :: index :: Nil =>
      // LLM-corpus ingest daemon: JSONL drop -> dedup gate -> corpus+index.
      // Same pidfile mutex discipline as the spot stream (one writer per
      // checkpoint); status/stop work against the same checkpoint dir.
      if (!DaemonControl.acquirePidfile(ckpt)) {
        System.err.println(s"docs daemon already running (see $ckpt/graft.pid)")
        sys.exit(1)
      }
      val spark = Session()
      val q = streaming.DocIngest.start(spark, in, ckpt, corpus, index)
      q.awaitTermination()

    case "status" :: ckpt :: Nil => // T6 -s
      DaemonControl.status(ckpt) match {
        case DaemonControl.Running(pid, cur) =>
          val pos = cur.map(c => s" last_batch=${c.batchId} cursor=${c.after}").getOrElse("")
          println(s"daemon running pid=$pid$pos")
        case DaemonControl.DeadPidFile(pid) =>
          println(s"found dead pid file (pid=$pid), removed")
          sys.exit(1)
        case DaemonControl.NotRunning => println("no daemon running")
      }

    case "stop" :: ckpt :: Nil => // T6 -z
      DaemonControl.stop(ckpt) match {
        case DaemonControl.Running(pid, _) => println(s"stopped daemon pid=$pid")
        case DaemonControl.DeadPidFile(pid) =>
          println(s"found dead pid file (pid=$pid), removed")
          sys.exit(1)
        case DaemonControl.NotRunning => println("no daemon to stop")
      }

    case "drain" :: spool :: dest :: flags => // K4 uploader daemon (second pidfile)
      if (!DaemonControl.acquirePidfile(spool)) {
        System.err.println(s"drain daemon already running (see $spool/graft.pid)")
        sys.exit(1)
      }
      // local-mirror transport: "upload" = copy into dest (a remote client —
      // FTP/HTTP/object store — drops in here in a networked deployment)
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(dest))
      val transport = (p: java.nio.file.Path) => {
        java.nio.file.Files.copy(p,
          java.nio.file.Path.of(dest, s"${p.getParent.getFileName}_${p.getFileName}"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        true
      }
      if (flags.contains("--once")) {
        val (up, fail) = SpoolDrain.drainOnce(spool, transport)
        println(s"drained=$up failed=$fail")
      } else SpoolDrain.run(spool, transport, () => true)

    case "scrape" :: out :: flags =>
      val spark = Session()
      val cfg = WsprNetClient.Config(
        user = sys.env.getOrElse("WSPRNET_USER", ""),
        password = sys.env.getOrElse("WSPRNET_PASSWORD", ""))
      val transport = new WsprNetClient.JdkTransport(cfg.fetchTimeoutSeconds)
      var sessionOpt: Option[WsprNetClient.Session] = None
      var cursor = Ingest.bootstrapCursor(spark, out)
      val upload = !flags.contains("--no-upload")
      var continue = true
      while (continue) {
        val (batch, s) = WsprNetClient.scrapeOnce(spark, transport, cfg, sessionOpt, cursor)
        sessionOpt = Some(s)
        val enriched = Enrich.formatted(SpotSource.sorted(batch))
        enriched.persist()
        try {
          val n = enriched.count()
          if (n > 0) {
            if (upload) enriched.write.mode("append").parquet(out)
            cursor = enriched.agg(max(col("Spotnum").cast("long"))).first().getLong(0)
          }
          println(s"scrape: $n spots, cursor=$cursor")
        } finally enriched.unpersist()
        if (flags.contains("--once")) continue = false
        else Thread.sleep(Ingest.secondsToNextOffset(System.currentTimeMillis() / 1000) * 1000)
      }
      spark.stop()

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("usage: enrich <in> <outDir> | audit <in> | stream <in> <ckpt> <out> | docs <in> <ckpt> <corpus> <index> | status <ckpt> | stop <ckpt> | drain <spool> <dest> [--once] | scrape <out> [--once] [--no-upload]")
      sys.exit(2)
  }
}
