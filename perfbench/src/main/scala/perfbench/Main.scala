package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark of record. One run = set-up, one cold pass, warm passes for
  * `--seconds`, output checks after every pass, then one JSON result line.
  * With `--trace 1` the warm passes alternate untraced and traced, the layer
  * probes run afterwards, and the spans are written as JSONL.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --root DIR --cores C [--smoke] [--record-fingerprints]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, cores: Int, smoke: Boolean,
      recordFingerprints: Boolean)

  /** Logs per pass of record, and the smoke size the benchmark's own test
    * runs. */
  private def etlLogs(smoke: Boolean): Int = if (smoke) 30 else 300

  /** The read path, in a fixed order: scan and decimal aggregation, a
    * large-large join, a window, the cosine, sq8 and BPE kernels, the KMV
    * union exchange, and SemDedup, whose guard and checkpoint jobs run at
    * build time. On 4 cores the full 17-query mix costs about 15 s per warm
    * pass and 30-45 s cold, and x_join_preflight_decision alone 3.5 s warm:
    * too much for a run of about a minute. */
  val Queries: Seq[String] = Seq("q1_pricing_summary", "j7_large_equi",
    "w3_moving_avg", "x4_cosine_topk", "x4_sq8_topk", "x_bpe_tokens",
    "x_kmv_onepass", "d_semdedup")

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Set("etl_many_small", "query_mix")(w),
      s"unknown workload $w")
    Args(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--root")).toAbsolutePath,
      need("--cores").toInt, argv.contains("--smoke"),
      argv.contains("--record-fingerprints"))
  }

  private def fixture(a: Args): Path =
    a.root.resolve("perfbench/data").resolve(if (a.smoke) "sf0.001" else "sf0.01")
  private def expectedFile(a: Args): Path =
    a.root.resolve("perfbench/expected/fingerprints.json")

  /** Expected fingerprints keyed `<fixture>/<query>`. */
  private def readExpected(a: Args): Map[String, (Long, String)] =
    if (!Files.exists(expectedFile(a))) Map.empty
    else Json.parseFingerprints(new String(
      Files.readAllBytes(expectedFile(a)), StandardCharsets.UTF_8))

  private def fixtureKey(a: Args): String = fixture(a).getFileName.toString + "/"

  private def makeWorkload(a: Args): Workload =
    if (a.workload == "query_mix") {
      val key = fixtureKey(a)
      new QueryWorkload(fixture(a), Queries, readExpected(a).collect {
        case (k, v) if k.startsWith(key) => k.stripPrefix(key) -> v })
    } else new EtlWorkload(etlLogs(a.smoke), a.seed)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runDir = a.root.resolve(".bench_build")
      .resolve(s"run-${ProcessHandle.current().pid()}")
    val code = try {
      if (a.recordFingerprints) recordFingerprints(a) else run(a, runDir)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    } finally FileTree.deleteTree(runDir)
    System.out.flush()
    sys.exit(code)
  }

  private def session(a: Args): SparkSession =
    graft.Sessions.local("perfbench", a.cores)

  /** Writes the fingerprints of one pass over the fixture into the expected
    * file, keeping the other fixture's entries. */
  private def recordFingerprints(a: Args): Unit = {
    val spark = session(a)
    val key = fixtureKey(a)
    val w = new QueryWorkload(fixture(a), Queries, Map.empty)
    w.pass(spark, new Tracer)
    val fresh = Queries.map(q => key + q -> w.fingerprintOf(q))
    val all = (readExpected(a).filterNot(_._1.startsWith(key)) ++ fresh)
      .toSeq.sortBy(_._1)
    Files.createDirectories(expectedFile(a).getParent)
    Files.write(expectedFile(a), all.map { case (k, (n, h)) =>
      s"""  "$k": [$n, "$h"]""" }.mkString("{\n", ",\n", "\n}\n")
      .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def run(a: Args, runDir: Path): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val cpu0 = ProcStat.read()
    val tracer = new Tracer
    val spark = session(a)
    val w = makeWorkload(a)
    w.prepare(spark, runDir.resolve("in"))
    // one cold set-up: repeating it in the same JVM measures a warm set-up,
    // which varies 2x from run to run with file-system and JIT state
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    var attempted = 0L
    val failures = ArrayBuffer.empty[String]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)] // pass, traced, s
    val listeners = if (a.trace) Some(new Listeners(spark, tracer)) else None
    val execByPass = scala.collection.mutable.Map.empty[Int, (ExecCounters, Long)]

    def onePass(i: Int, traced: Boolean): Double = {
      tracer.pass = i
      w.reset(spark)
      System.gc() // each pass starts from the same heap state
      if (traced) {
        // deliver the check jobs' events before the listeners can see them
        ListenerBusDrain(spark.sparkContext)
        listeners.get.attach()
      }
      val t0 = tracer.now
      val ok = scala.util.Try(tracer.span("pass")(w.pass(spark, tracer)))
      val s = (tracer.now - t0) / 1e9
      if (traced) { listeners.get.detach(); execByPass(i) = listeners.get.collect() }
      attempted += w.opsPerPass
      ok.failed.foreach { e =>
        System.err.println(s"[perfbench] pass $i failed: $e")
      }
      val bad = if (ok.isFailure) Seq.fill(w.opsPerPass)(ok.failed.get.toString)
        else w.check(spark)
      failures ++= bad.map(m => s"pass $i: $m")
      passWall += ((i, traced, s))
      s
    }

    val firstPass = onePass(0, traced = false)
    val warmStart = System.nanoTime()
    var i = 1
    val minPasses = if (a.trace) 4 else 3
    while (i <= minPasses || (System.nanoTime() - warmStart) / 1e9 < a.seconds) {
      // untraced, traced, traced, untraced, ...: a warm-up trend cannot
      // favour either side of the overhead ratio
      onePass(i, traced = a.trace && (i % 4 == 2 || i % 4 == 3))
      i += 1
    }
    val warm = passWall.filter(_._1 > 0)
    val untracedWarm = warm.filterNot(_._2).map(_._3)
    val passS = Probes.median(untracedWarm.toSeq)

    val layer: Seq[(String, Double)] =
      if (!a.trace) Nil
      else layerMetrics(a, spark, w, tracer, execByPass.toMap, warm.toSeq,
        passS, runDir)

    spark.stop()

    // geometric mean over the pass's steps (queries, or load and sink
    // calls) of each step's median over the warm untraced passes
    val untracedIds = warm.filterNot(_._2).map(_._1).toSet
    def stepMedians(passes: Set[Int]) = tracer.spans.filter(s =>
        s.kind == "call" && passes(s.pass) && s.parent >= 0 &&
          tracer.spans(s.parent).name == "pass")
      .groupBy(_.name).map { case (n, ss) =>
        n -> Probes.median(ss.map(_.durNs / 1e9).toSeq) }
    val steps = stepMedians(untracedIds)
    val stepGeomean = math.exp(steps.values.map(math.log).sum / steps.size)

    val cpu1 = ProcStat.read()
    val rssMb = ProcStat.vmHwmKb / 1024.0
    val failed = failures.length.toLong
    val etlExtra = w match {
      case e: EtlWorkload => Seq("etl_logs_per_s" -> e.items / passS,
        "csv_bytes_per_log_byte" -> e.csvBytes.toDouble / e.logs.bytes)
      case _ => Seq("query_geomean_s" -> stepGeomean)
    }
    val record = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "smoke" -> a.smoke, "cores" -> a.cores) ++ w.describe ++ Seq(
      "setup_s" -> setupS, "first_pass_s" -> firstPass,
      "warm_pass_s" -> untracedWarm.toSeq,
      "traced_pass_s" -> warm.filter(_._2).map(_._3).toSeq,
      "failed_frac" -> failed.toDouble / attempted) ++ etlExtra ++ Seq(
      "step_median_s" -> steps, "first_pass_step_s" -> stepMedians(Set(0)),
      "steal_s" -> (cpu1.steal - cpu0.steal) / 100.0,
      "other_cpu_s" -> ((cpu1.busy - cpu0.busy) - (cpu1.self - cpu0.self)) / 100.0,
      "failures" -> failures.take(20).toSeq)
    println(Json.obj(Seq("record" -> record)))

    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val metrics: Seq[(String, Any)] =
      if (a.trace) {
        val got = layer.toMap
        Layer.metrics.map { case (k, unit) => k -> m(got(k), unit) }
      }
      else Seq(
        "setup_s" -> m(setupS, "s"),
        "first_pass_s" -> m(firstPass, "s"),
        "pass_s" -> m(passS, "s"),
        "items_per_s" -> m(w.items / passS, "1/s"),
        "step_geomean_s" -> m(stepGeomean, "s"),
        "rss_peak_mb" -> m(rssMb, "MB"))
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }

  private def layerMetrics(a: Args, spark: SparkSession, w: Workload,
      tracer: Tracer, exec: Map[Int, (ExecCounters, Long)],
      warm: Seq[(Int, Boolean, Double)], passS: Double, runDir: Path)
      : Seq[(String, Double)] = {
    val traced = warm.filter(_._2)
    def queryOf(s: Span): Option[String] = {
      var p = s.parent
      while (p >= 0 && !tracer.spans(p).name.startsWith("query."))
        p = tracer.spans(p).parent
      if (p >= 0) Some(tracer.spans(p).name.stripPrefix("query.")) else None
    }
    val perPass: Seq[Map[String, Double]] = traced.map { case (pass, _, wall) =>
      val acc = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      Layer.spanMetrics.foreach(k => acc(k) = 0.0)
      val spans = tracer.spans.filter(_.pass == pass)
      spans.foreach { s =>
        val self = tracer.selfNs(s) / 1e9
        val key = s.name match {
          case "parse.load" => Some("parse.load_s")
          case n if n.startsWith("sinks.csv.") => Some("sinks.csv_s")
          case n if n.startsWith("sinks.jdbc.") => Some("sinks.jdbc_s")
          case "queries.build" => Some("queries.build_s")
          case "queries.exec" => Some("queries.exec_s")
          case "plans.plan" => Some("plans.plan_s")
          case _ => None
        }
        key.foreach { k =>
          acc(k) += self
          queryOf(s).foreach(q => acc(s"$k.$q") += self)
        }
      }
      val passSpan = spans.find(s => s.name == "pass" && s.kind == "call").get
      val top = spans.filter(s => s.kind == "call" && s.parent == passSpan.id)
      acc("trace.coverage_frac") = top.map(_.durNs).sum.toDouble / passSpan.durNs
      val (c, busyNs) = exec(pass)
      acc("exec.jobs") = c.jobs
      acc("exec.tasks") = c.tasks
      acc("exec.task_run_s") = c.runMs / 1e3
      acc("exec.task_deser_s") = c.deserMs / 1e3
      acc("exec.gc_s") = c.gcMs / 1e3
      acc("exec.input_bytes") = c.inputBytes
      acc("exec.shuffle_read_bytes") = c.shuffleReadBytes
      acc("exec.shuffle_write_bytes") = c.shuffleWriteBytes
      acc("exec.spill_bytes") = c.spillBytes
      acc("exec.core_busy_frac") = c.runMs / 1e3 / (wall * a.cores)
      acc("exec.driver_only_s") = math.max(0L, passSpan.durNs - busyNs) / 1e9
      acc.toMap
    }
    val keys = perPass.flatMap(_.keys).distinct.sorted
    val medians = keys.map(k => k -> Probes.median(perPass.map(_.getOrElse(k, 0.0))))

    // standalone probes, after the timed passes
    val (listS, paths, kernel) = w match {
      case e: EtlWorkload =>
        def read() = spark.read.option("wholetext", "true").text(e.logs.glob)
        (Probes.listS(read()), read().inputFiles.toSeq,
          Probes.kernelNsPerByte(e.logs.paths))
      case _ =>
        val tables = fixture(a).toFile.listFiles().map(_.toString).sorted.toSeq
        val probeLogs = LogGen.write(runDir.resolve("probe-logs"), 40, a.seed)
        (Probes.listS(tables.foreach(spark.read.parquet(_))), tables,
          Probes.kernelNsPerByte(probeLogs.paths))
    }
    val sinks = w match {
      case e: EtlWorkload => Seq("sinks.rows" -> e.rowsLanded.toDouble,
        "sinks.csv_bytes" -> e.csvBytes.toDouble,
        "sinks.csv_bytes_per_log_byte" -> e.csvBytes.toDouble / e.logs.bytes)
      case _ => Seq("sinks.rows" -> 0.0, "sinks.csv_bytes" -> 0.0,
        "sinks.csv_bytes_per_log_byte" -> 0.0)
    }
    val tracedS = Probes.median(traced.map(_._3))
    val functions = Probes.functionNsPerRow(spark, a.seed).map { case (k, v) =>
      s"functions.$k.ns_per_row" -> v }
    writeTrace(a, tracer)
    medians ++ sinks ++ functions ++ Seq(
      "sources.list_s" -> listS,
      "ids.mint_s" -> Probes.mintS(paths),
      "parse.kernel_ns_per_byte" -> kernel,
      "trace.overhead_frac" -> (tracedS / passS - 1))
  }

  private def writeTrace(a: Args, tracer: Tracer): Unit = {
    val dir = a.root.resolve(".bench_build/trace")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-seed${a.seed}.jsonl")
    Files.write(f, tracer.toJsonl.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] spans written to $f")
  }
}

/** Host CPU counters from /proc, read the way `graft.Bench` reads them:
  * steal = host CPU taken from this guest, busy = CPU used by any process,
  * self = this JVM and its reaped children (all in clock ticks). */
final case class ProcStat(steal: Long, busy: Long, self: Long)

object ProcStat {
  def read(): ProcStat = {
    val cols = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+")
    def c(i: Int) = if (cols.length > i) cols(i).toLong else 0L
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.UTF_8)
    val f = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
    ProcStat(c(8), c(1) + c(2) + c(3) + c(6) + c(7),
      (11 to 14).map(f(_).toLong).sum)
  }

  /** Peak resident set size of this JVM. */
  def vmHwmKb: Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toLong }.getOrElse(0L)
}
