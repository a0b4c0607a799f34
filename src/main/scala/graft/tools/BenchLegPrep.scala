package graft.tools

import org.apache.spark.sql.SparkSession

/** Bench-LEG infrastructure — the prep and load helpers `graft.Bench`
  * itself calls each run (ETL log generation, the timed 4-table load,
  * the at-rest bucketed-table rewrite). These are part of the bench of
  * record, not dev probes; BenchTune's `bucketwrite` and `headlinebk`
  * and its ETL probes reuse them.
  */
object BenchLegPrep {

  /** Write `nLogs` synthetic Clojush logs; returns the glob to load.
    * The temp dir self-cleans on JVM exit (deleteOnExit runs in reverse
    * registration order, so the dir — registered first — goes last).
    */
  def genEtlLogs(nLogs: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("etl_bench")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(42)
    (1 to nLogs).foreach { i =>
      val gens = (0 to 20).map { g =>
        s"-*- Report at generation $g\n" +
          (1 to 10).map(k => s"metric-$k: ${rnd.nextDouble()}").mkString("\n")
      }.mkString("\n;;;;\n")
      val log = s"Clojush version = 1.2.3\n" +
        (1 to 20).map(k => s"param-$k = ${rnd.nextInt(1000)}").mkString("\n") +
        s"\n;;;;\n$gens\n;;;;\nSUCCESS at generation 20"
      val f = dir.resolve(f"run$i%04d_u$i.log")
      java.nio.file.Files.writeString(f, log)
      f.toFile.deleteOnExit()
    }
    dir.toString + "/*.log"
  }

  /** One full 4-table load of `glob`; returns (total rows, seconds). */
  def timedLoad(spark: SparkSession, glob: String): (Long, Double) = {
    val (rows, total, _, _) = timedLoadSplit(spark, glob)
    (rows, total)
  }

  /** timedLoad with the phase split (r21 verdict item 6): `plan` = the
    * load() call — driver-side file listing, id mint and plan build, the
    * bottleneck at 400 files (BENCH_SCALE r22_etl_split) — and `fill` =
    * the four counts (parse + fill execution). Published on the bench DETAIL line
    * so the 363–530 logs/s window variance is attributable to the
    * listing phase without changing what the leg measures. */
  def timedLoadSplit(spark: SparkSession, glob: String)
      : (Long, Double, Double, Double) = {
    val t0 = System.nanoTime()
    val t = graft.parse.LogPipeline.load(spark, glob)
    val t1 = System.nanoTime()
    val rows = t.experiments.count() + t.experiment.count() +
      t.generations.count() + t.summary.count()
    val t2 = System.nanoTime()
    t.release()
    (rows, (System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Drop-and-rewrite the bucketed catalog tables for `layout` over the
    * corpus at `sfDir` — ALWAYS a fresh write, never reuse: the test
    * corpus regenerates at the same path between rounds, and a stale
    * bucketed copy would silently serve old rows (dirTag only disambiguates
    * PATHS, not generations). Shared by the bucketwrite probe and the
    * per-round bucketed bench leg (graft.Bench). */
  def writeBucketedTables(spark: SparkSession,
      sfDir: String, layout: String): Unit = {
    val keys = graft.Tables.BucketedLayouts(layout)
    keys.foreach { case (table, key) =>
      val t = graft.Tables.bucketedName(layout, table, sfDir)
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      val t0 = System.nanoTime()
      // events persists ADAPTED and sorted by (user_id, ts) — bucketed
      // event reads skip the ts dispatch and arrive in per-user event
      // order (Tables.BucketedLayouts scaladoc); the source frame is the
      // shared Tables.bucketedSource definition
      val sortCols = if (table == "events") Seq(key, "ts") else Seq(key)
      graft.sources.Bucketing.writeBucketedSorted(
        graft.Tables.bucketedSource(spark, sfDir, table), t, key, sortCols, 32)
      println(f"[bucketwrite] $t by $key " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s (32 buckets)")
    }
  }
}
