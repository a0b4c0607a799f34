package graft.parse

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.graft.CatalystBridge
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPOutputStream

/** End-to-end pipeline test: fixture logs (+gz +EDN sidecar) in a temp dir →
  * four tables → the SURVEY.md §7.1 minimum-slice query.
  */
class LogPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def fixtureLog(version: String, success: Boolean, maxGen: Int): String = {
    val outcome = if (success) "SUCCESS" else "FAILURE"
    s"""Clojush version = $version
       |population-size = 1000
       |tournament-size = nil
       |;;;;;;;;;;;;;;;;;;;;
       |-*- Report at generation 0
       |best-fitness: 12.5
       |;;;;;;;;;;;;;;;;;;;;
       |-*- Report at generation $maxGen
       |best-fitness: 3.0
       |;;;;;;;;;;;;;;;;;;;;
       |$outcome at generation $maxGen""".stripMargin
  }

  def writeFixtures(dir: Path): Unit = {
    Files.writeString(dir.resolve("runA_u1.log"), fixtureLog("1.2.3", true, 4))
    Files.writeString(dir.resolve("runB_u2.log"), fixtureLog("1.2.3", false, 9))
    val gz = new GZIPOutputStream(
      Files.newOutputStream(dir.resolve("runC_u3.log.gz")))
    gz.write(fixtureLog("2.0.0", true, 2).getBytes("UTF-8")); gz.close()
    Files.writeString(dir.resolve("index.clj"),
      """{:command-maps [{:uuid u1 :argmap {:max-generations "100"}}
        |                {:uuid u3 :argmap {:seed "77"}}]}""".stripMargin)
  }

  lazy val dir: Path = {
    val d = Files.createTempDirectory(Paths.get("target"), "logs")
    writeFixtures(d)
    d
  }
  lazy val tables = LogPipeline.load(spark, dir.toString + "/*.log*")

  test("experiments: one row per log file incl. transparent gzip (S1/S2)") {
    val exps = tables.experiments.collect()
    assert(exps.length == 3)
    assert(exps.map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L)) // dense ids
    assert(exps.forall(_.getAs[String]("rundate").matches(
      "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}")))
    val byFile = exps.map(r => r.getAs[String]("logfile_location") ->
      r.getAs[String]("clojush_version")).toMap
    assert(byFile.exists { case (f, v) => f.endsWith("runC_u3.log.gz") && v == "2.0.0" })
  }

  test("experiment EAV: nil params dropped, version row present (P3/R4)") {
    val rows = tables.experiment.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.count(_._2 == "population-size") == 3)
    assert(!rows.exists(_._2 == "tournament-size"))
    assert(rows.count(_._2 == "Clojush version") == 3)
  }

  test("generations EAV keyed by gennum (R1/R4)") {
    val rows = tables.generations.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.count { case (_, g, k, v) => g == 0 && k == "best-fitness" && v == "12.5" } == 3)
    assert(rows.exists { case (_, g, _, v) => g == 9 && v == "3.0" })
  }

  test("summary: one row per run, intended semantics (A5/§0 bug fix)") {
    val rows = tables.summary.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2)))
    assert(rows.length == 3)
    assert(rows.count(_._2) == 2) // two SUCCESS
    assert(rows.map(_._3).sorted.toSeq == Seq(2, 4, 9))
  }

  test("sidecar EDN uuid join emits extra EAV rows (S4/J6)") {
    val extra = LogPipeline.sidecarParams(spark, dir.toString, tables.experiments)
      .collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(extra == Set("max-generations" -> "100", "seed" -> "77"))
  }

  test("minimum-slice query (SURVEY §7.1): experiments ⋈ summary group-by") {
    tables.experiments.createOrReplaceTempView("experiments")
    tables.summary.createOrReplaceTempView("summary")
    val out = spark.sql(
      """SELECT problem_name, count(*) AS runs, max(maxgen) AS max_maxgen
        |FROM experiments JOIN summary USING (id)
        |GROUP BY problem_name ORDER BY problem_name""".stripMargin).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("runs") == 3L)
    assert(out.head.getAs[Int]("max_maxgen") == 9)
  }

  test("flatFromStatuses dispatches on effective size: chunked vs wholetext") {
    val d = Files.createTempDirectory(Paths.get("target"), "dispatch")
    val p = d.resolve("probX").resolve("r_u9.log")
    Files.createDirectories(p.getParent)
    Files.writeString(p, fixtureLog("3.0.0", true, 2))
    val hp = new org.apache.hadoop.fs.Path("file:" + p.toAbsolutePath)
    val size = Files.size(p)
    // the file's REAL mtime: the wholetext arm reads _metadata mtime, so a
    // fabricated wall-clock timestamp would race across a second boundary
    val statuses = Seq((hp.toString, size, Files.getLastModifiedTime(p).toMillis))

    // threshold above the file: wholetext FileScan, no RDD arm
    val small = LogPipeline.flatFromStatuses(
      spark, statuses, 0L, LogPipeline.LoadConfig(bigFileBytes = size + 1))
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("FileScan text"), s"expected wholetext scan:\n$smallPlan")

    // threshold below the file: chunked BigLogParse (RDD-backed, no text scan)
    val big = LogPipeline.flatFromStatuses(
      spark, statuses, 0L, LogPipeline.LoadConfig(bigFileBytes = size - 1))
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains("FileScan text"), s"big file rode wholetext:\n$bigPlan")
    // both arms parse identically (BigFileParitySpec pins this broadly)
    assert(small.collect().toSet == big.collect().toSet)
  }

  test("names with a space or % load every file, on both dispatch arms") {
    // the listing that mints ids must render paths exactly as
    // _metadata.file_path does (URL-encoded), or the per-task id lookup
    // fails the whole load
    val d = Files.createTempDirectory(Paths.get("target"), "pathrender")
    val pad = (1 to 40).map(k => s"pad-$k = $k").mkString("\n", "\n", "")
    Files.writeString(d.resolve("runA_u1.log"),
      fixtureLog("1.2.3", true, 4).replaceFirst("\n", pad + "\n"))
    Files.writeString(d.resolve("run B_u2.log"), fixtureLog("1.2.3", false, 9))
    Files.writeString(d.resolve("r%41.log"), fixtureLog("2.0.0", true, 2))
    val glob = d.toString + "/*.log"
    val metaPaths = spark.read.text(glob).select("_metadata.file_path")
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    // a name without special characters renders as Hadoop prints it
    assert(metaPaths.contains(s"file:${d.toAbsolutePath}/runA_u1.log"))
    val plainSize = Files.size(d.resolve("runA_u1.log"))
    // all-wholetext, then the plain (padded) file chunked and the two
    // special names re-read through the wholetext arm
    for (bigFileBytes <- Seq(LogPipeline.LoadConfig().bigFileBytes, plainSize - 1)) {
      val t = LogPipeline.load(spark, glob,
        LogPipeline.LoadConfig(bigFileBytes = bigFileBytes))
      try {
        val exps = t.experiments.collect()
        assert(exps.map(_.getAs[String]("logfile_location")).sorted.toSeq == metaPaths)
        assert(exps.map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L))
        assert(t.summary.collect().map(_.getInt(2)).sorted.toSeq == Seq(2, 4, 9))
      } finally t.release()
    }

    // the ECJ load shares the dispatch: the same names as stat files, the
    // plain (padded) one chunked on the second pass
    def stat(gens: Int) = ((0 until gens).flatMap(g =>
      Seq(s"Generation: $g", s"Best Individual: Fitness: 0.$g")) :+
      "End of Run: done").mkString("\n")
    Files.writeString(d.resolve("runA.stat"), stat(6))
    Files.writeString(d.resolve("run B.stat"), stat(2))
    Files.writeString(d.resolve("r%41.stat"), stat(2))
    val statSize = Files.size(d.resolve("runA.stat"))
    for (bigFileBytes <- Seq(LogPipeline.LoadConfig().bigFileBytes, statSize - 1)) {
      val gens = EcjPipeline.loadGenerations(spark, d.toString + "/*.stat",
        bigFileBytes = bigFileBytes).collect()
      assert(gens.map(_.getLong(0)).toSet == Set(1L, 2L, 3L), s"bigFileBytes=$bigFileBytes")
      assert(gens.count(_.getString(2) == "EndofRun") == 3)
    }
  }

  /** Every node of `p`, with the plans it holds inside (the cached parse
    * plan under an InMemoryTableScan). */
  def planNodes(p: QueryPlan[_]): Seq[QueryPlan[_]] =
    p +: (p.children.map(_.asInstanceOf[QueryPlan[_]]) ++ p.innerChildren)
      .flatMap(planNodes)

  test("id minting never windows or shuffles file payloads (scale guard)") {
    // a row_number over an unpartitioned window once dragged every
    // whole-file row through ONE task. Ids are now a per-task lookup in a
    // broadcast variable, so the generations plan, cached parse included,
    // holds no window and no exchange of any kind: the payload streams
    // from the file scan to the cache.
    val plan = tables.generations.queryExecution.executedPlan
    val bad = planNodes(plan).collect {
      case n: WindowExecBase => n
      case n: ShuffleExchangeLike => n
      case n: BroadcastExchangeLike => n
    }
    assert(bad.isEmpty, s"window or exchange in the load plan:\n$plan")
  }

  /** The messages along `e`'s cause chain. */
  def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("a listing path not in _metadata.file_path form fails, naming the file") {
    // the listing renders `run B_u2.log` unescaped (Hadoop's Path.toString)
    // where the scan yields `run%20B_u2.log`: the id lookup must throw on
    // both arms, never drop the file or give it a stand-in id
    def drifted(ext: String, body: String) = {
      val d = Files.createTempDirectory(Paths.get("target"), "drift")
      Seq("runA_u1", "run B_u2").foreach(n => Files.writeString(d.resolve(n + ext), body))
      val df = spark.read.option("wholetext", "true").text(s"$d/*$ext")
      val listing = LogPipeline.listStatuses(df).map { case (p, n, m) =>
        (if (p.contains("B_u2")) LogPipeline.hadoopPath(p) else p, n, m) }
      assert(listing.exists(_._1.endsWith("/run B_u2" + ext)))
      (listing, df)
    }
    val (logs, logDf) = drifted(".log", fixtureLog("1.2.3", true, 4))
    val e1 = intercept[Exception](LogPipeline.flatFromStatuses(spark, logs, 0L,
      LogPipeline.LoadConfig(), prelisted = Some(logDf)).collect())
    assert(messages(e1).exists(_.contains("run%20B_u2.log")), messages(e1))

    val (stats, statDf) = drifted(".stat",
      "Generation: 0\nBest Individual: Fitness: 0.5\nEnd of Run: done")
    val e2 = intercept[Exception](EcjPipeline.gensFromStatuses(spark, stats, 0L,
      LogPipeline.LoadConfig().bigFileBytes, prelisted = Some(statDf)).collect())
    assert(messages(e2).exists(_.contains("run%20B_u2.stat")), messages(e2))
  }

  test("problem ids come from the dictionary; a name it lacks fails loudly") {
    import spark.implicits._
    val idOf = LogPipeline.problemIdCol(Seq("p1" -> 7L, "p2" -> 9L))
    def ids(names: String*) = names.toDF("problem_name").select(idOf)
      .as[Long].collect().toSeq
    assert(ids("p2", "p1", "p2") == Seq(9L, 7L, 9L))
    val e = intercept[Exception](ids("p1", "p3"))
    assert(messages(e).exists(_.contains("p3")), messages(e))
  }

  test("tables over the cache run one wave: at most one partition per core") {
    // with maxPartitionBytes below the 4 MB per-file open cost, every file
    // packs into a scan partition of its own: 12 partitions, more than the
    // session has cores
    val d = Files.createTempDirectory(Paths.get("target"), "onewave")
    (1 to 12).foreach(k =>
      Files.writeString(d.resolve(s"r${k}_u$k.log"), fixtureLog("1.2.3", k % 2 == 0, k)))
    val glob = d.toString + "/*.log"
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    val cores = spark.sparkContext.defaultParallelism

    val df = narrow.read.option("wholetext", "true").text(glob)
    val flat = LogPipeline.flatFromStatuses(narrow, LogPipeline.listStatuses(df), 0L,
      LogPipeline.LoadConfig(), prelisted = Some(df))
    assert(flat.rdd.getNumPartitions > cores)
    val want = flat.groupBy("kind").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    val t = LogPipeline.load(narrow, glob)
    try {
      Seq(0 -> t.experiments, 1 -> t.experiment, 2 -> t.generations, 3 -> t.summary)
        .foreach { case (kind, table) =>
          assert(table.rdd.getNumPartitions <= cores, s"kind $kind")
          assert(table.count() == want(kind), s"kind $kind")
        }
    } finally t.release()
  }

  test("ids are stable across sessions (I1)") {
    def ids(t: LogPipeline.LoadedTables) =
      try t.experiments.select("id", "logfile_location").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      finally t.release()
    val a = ids(LogPipeline.load(spark, dir.toString + "/*.log*"))
    val b = ids(LogPipeline.load(spark.newSession(), dir.toString + "/*.log*"))
    assert(a == b)
  }
  test("load plus its four tables runs a pinned number of Spark jobs") {
    // pins the zero-job listing and id minting, the one drift-guard
    // count and one job per consumed table: the id map and the problem
    // dictionary are looked up, not broadcast-joined, so neither costs a
    // collect job. The chunked arm adds its
    // counting pass and its summary lookup. Only jobs this thread tags
    // count, so a job from any other thread cannot skew the number.
    val tagKey = "graft.test.jobcount"
    def jobsOf(glob: String, cfg: LogPipeline.LoadConfig): Int = {
      val tag = java.util.UUID.randomUUID().toString
      val started = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty(tagKey) == tag) {
            started.incrementAndGet(); ()
          }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setLocalProperty(tagKey, tag)
      try {
        val t = LogPipeline.load(spark, glob, cfg)
        try Seq(t.experiments, t.experiment, t.generations, t.summary)
          .foreach(_.collect())
        finally t.release()
        CatalystBridge.drainListenerBus(spark)
        started.get
      } finally {
        spark.sparkContext.setLocalProperty(tagKey, null)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val d = Files.createTempDirectory(Paths.get("target"), "jobcount")
    writeFixtures(d)
    val glob = d.toString + "/*.log*"
    // all small: the prelisted scan
    assert(jobsOf(glob, LogPipeline.LoadConfig()) == 5)
    // the .gz (×10 effective size) chunked, the two plain logs re-read
    val plainSize = Files.size(d.resolve("runA_u1.log"))
    assert(jobsOf(glob, LogPipeline.LoadConfig(bigFileBytes = plainSize)) == 7)
  }
}
