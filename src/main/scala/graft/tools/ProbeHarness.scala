package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared scaffolding for BenchTune probes: session bootstrap, steal and
  * shuffle-byte accounting, scale-corpus discovery. Everything here is
  * dev measurement harness, not product code.
  */
object ProbeHarness {

  /** Host-CPU steal jiffies (guest VM, /proc/stat col 8) — the
    * contamination signal every probe publishes next to its walls. */
  def stealJiffies: Long = try {
    val cols = scala.io.Source.fromFile("/proc/stat").getLines()
      .next().trim.split("\\s+")
    if (cols.length > 8) cols(8).toLong else 0L
  } catch { case _: Throwable => 0L }

  /** Runs `f` on the standard probe session — the bench profile on
    * `Sessions.defaultCores`, plus the first-job warmup that keeps
    * codegen/scheduler bring-up off the first measured pass — and stops
    * it after. */
  def withSpark(name: String)(f: SparkSession => Unit): Unit = {
    val spark = graft.Sessions.local(name, graft.Sessions.defaultCores)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try f(spark) finally spark.stop()
  }

  /** The scale ladder: gate corpus plus whichever ScaleGen outputs exist
    * on disk (missing rungs are reported, never silently skipped —
    * silent truncation reads as coverage). */
  def corpora(sfDir: String): Seq[(String, String)] =
    ("1x" -> sfDir) +: Seq("10x" -> "/tmp/graft_10x", "100x" -> "/tmp/graft_100x")
      .filter { case (tag, dir) =>
        val ok = new java.io.File(s"$dir/documents.parquet").exists()
        if (!ok) println(s"[probe] $tag corpus missing at $dir — skipped")
        ok
      }

  /** r22: the guard-refusal headline — everything before the " - "
    * separator, i.e. the measured volume and the bound, without the
    * remedy paragraph. (The r21 form used takeWhile(_ != '-'), which
    * truncated at the first hyphenATED WORD — 'within-cluster',
    * 'bucket-pair' — and dropped exactly the volume it documents.) */
  def refusalSummary(msg: String): String = {
    val i = msg.indexOf(" - ")
    (if (i >= 0) msg.substring(0, i) else msg).trim
  }

  /** Total shuffle WRITE bytes of `body` — the 100 TB cost proxy (local
    * shuffles cross page cache; on a cluster these bytes cross the
    * network). Registers a listener for the call's duration only. */
  def shuffleWriteBytes(spark: SparkSession)(body: => Unit): Long = {
    val sw = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          sw.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are posted async; drain before reading
      org.apache.spark.sql.graft.CatalystBridge.drainListenerBus(spark)
      sw.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
