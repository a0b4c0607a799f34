package graft

import org.apache.spark.sql.SparkSession

/** The one session profile. Every entry point (`Verify`, `Bench`, perfbench,
  * `tools.LoadLogs`, the dev tools) and the test suite build through
  * [[local]], so the plans the correctness gate checks are the plans the
  * benchmark times.
  *
  * AQE is off: at this engine's single-JVM scale factors a query runs in
  * well under a second, and AQE's per-stage re-materialization costs more
  * than its re-planning saves (measured: a6_revenue 0.7s AQE-off vs
  * 1.1–2.1s AQE-on at sf0.1). Shuffle partitions are cores/2, not 200.
  * Outputs do not depend on these settings: `ProfileInvarianceSpec` pins
  * that AQE with skew-join splitting, 1 or 200 shuffle partitions and tiny
  * file splits all return the same rows.
  *
  * `SPARK_MASTER`, when set, replaces `local[cores]` — the deployment's
  * master, read here so every entry point deploys the same way.
  */
object Sessions {

  /** Core count for entry points that take none: `SPARK_GRAFT_CPUS` if
    * set, else every host core. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(appName: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(appName)
      // test-scale shuffles hold a few MB: fewer, fatter partitions beat
      // per-task scheduling overhead, but cores/4 starved the large-large
      // SMJ (r2 j7_large_equi regression). Round-5 re-validation under the
      // driver's own protocol (full fresh-JVM graft.Bench, 3 runs each at
      // sf0.1): sp=16 medians 3.64s / sp=8 3.53s — indistinguishable
      // inside the ±25% run-to-run noise band (r3-vs-r4 bound), sp=8 had
      // the worst outlier (4.53s). Keep cores/2.
      .config("spark.sql.shuffle.partitions", math.max(4, cores / 2).toString)
      .config("spark.sql.adaptive.enabled", "false")
      // single-JVM shuffle/broadcast bytes never cross a network and live in
      // page cache — lz4 round-trips are pure CPU cost here
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.locality.wait", "0ms")
      // >32 input paths triggers a distributed listing JOB (parallel
      // partition discovery) — for local-FS file counts the job's
      // scheduling overhead (~0.4s per read.text on 200 files) dwarfs a
      // serial driver listing. (Against object stores with millions of
      // files the parallel listing would win; no deployment here has that.)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // KEEP THE 128 MB DEFAULT — measured, twice surprising. The local
      // corpora are single ~10 MB parquet files per table, which scan as
      // ONE task (31 cores idle); a 4m split was A/B'd and LOST: (a) a
      // single-row-group parquet file cannot be parallelized by byte
      // ranges — only the split containing the row-group start does work,
      // the rest are overhead (q1 1.26→1.55s); (b) file-packing bins also
      // shrink, so the 400-file ETL glob went one-file-per-task (419→204
      // logs/s). The real fix for single-file scan serialization is
      // at-rest layout (Bucketing rewrite: 32 files → 2.5x, measured in
      // BENCH_SCALE r9_bucketed_star_joins), not split tuning.
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // FileStreamSink.hasMetadata stats the raw (possibly glob) read path and
    // WARN-logs a full FileNotFoundException stack on every successful
    // glob-path batch read — pure noise in bench/driver logs
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    // re-invoking a registry query rebuilds a plan the CacheManager already
    // holds (candidatePairs/lshCandidatePairs declare .cache() internally);
    // the "already cached" WARN on every warm pass is by-design reuse, not
    // a leak — silenced so bench logs stay readable
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
