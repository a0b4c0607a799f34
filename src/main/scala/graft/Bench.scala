package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times the headline queries (SparkEntry.benchQueries) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver
  * (BENCH_r{N}.json). Session profile: Sessions.local (see its scaladoc for
  * the AQE-off-at-bench-scale rationale).
  *
  * Protocol (per query, in isolation):
  *   1. clear the session cache — no query's number depends on what ran
  *      before it (r5 saw an unexplained 3.7x single-query swing that could
  *      not be separated from cross-query cache/storage interplay);
  *   2. one untimed warmup pass (plan + codegen + parquet footers + any
  *      .cache() the query itself declares);
  *   3. ITERS timed passes; report the MEDIAN (headline `queries`/`total`)
  *      and the min (`queries_min`) — the median is robust to a single
  *      GC/compilation stall, the min shows the steady-state floor.
  *
  * Current protocol (the round-by-round history of how it got here is
  * in CHANGELOG.md, "Bench protocol history, rounds 8–22"):
  *  - forcing: the noop sink ([[BenchProtocol.force]]), not `.count()`,
  *    so every output row and column is materialized; numbers compare
  *    only with rounds ≥ 8.
  *  - legs, in order: ETL first (400 synthetic logs, 2 warmups, median
  *    of 5 — `etl_protocol: "first-400-med5"`); the plain leg
  *    (SparkEntry.benchQueries); the bucketed leg (the same set under the
  *    'orderkey' at-rest layout, plus g_pagerank_edgestore,
  *    x_bm25_indexed, a14_group_topk, x_kmv_intersection and
  *    x_kmv_onepass; tables rewritten untimed each run); the custkey
  *    window leg (w1/w3 over orders bucketed by o_custkey).
  *  - passes: [[Iters]] timed passes, [[HeadlineIters]] for q1,
  *    [[IterativeIters]] for the graph and bm25 entries.
  *  - leg gating: each leg waits for a quiet window, then retries up to
  *    [[MaxLegAttempts]] times until host steal ≤ [[StealCleanThresholdS]]
  *    and other-process CPU ≤ [[OtherRateCleanThreshold]] per wall
  *    second. A query leg still dirty at the end gets a second chance
  *    ([[SecondChanceAttempts]]), and one more if its best read is
  *    marginal ([[MarginalStealFactor]]).
  *  - outlier guard: a query whose median exceeds [[OutlierMedMinRatio]]
  *    × its in-leg min re-runs once; the lower median is kept
  *    (`leg_protocol`).
  *  - set identity: each leg's query-set hash against the prior round's
  *    constant decides `comparable_with_prior*`.
  *  - output: one metric line that fits [[metricLineBudget]] and a
  *    truncatable detail line.
  */
object Bench {
  private val Iters = 5
  private val HeadlineQuery = "q1_pricing_summary"
  private val HeadlineIters = 7
  /** Iterative / multi-action legs get extra passes: their medians carry
    * chained-action scheduler noise that 5 passes don't average out
    * (r15 verdict item 3). */
  private val IterativeIters = 9

  /** A leg whose host-CPU steal exceeds this is re-run (guest VM; r13/r14
    * showed steal this size fully explains uniform leg-level drift). */
  private val StealCleanThresholdS = 2.0
  /** r16 exhausted 3 attempts on a bursty window (plain leg 37.2/16.4/4.3 s
    * steal) and committed a contaminated run; the host alternates
    * quiet/bursty on ~tens of minutes, so a deeper budget rides out a
    * burst. Attempts stop at the FIRST clean one — a quiet window still
    * costs one attempt per leg (r16 verdict item 1). */
  private val MaxLegAttempts = 6

  /** WAIT-FOR-QUIET (r17 verdict item 1): r17 raised the retry budget to
    * 6 but ran the attempts BACK-TO-BACK — a ~6-leg burst (the host's
    * bursts last tens of minutes, each sf0.1 leg under a minute) eats
    * every retry and the committed plain leg carried 11.6 s steal while
    * clean windows existed minutes away. Before each leg attempt the
    * bench now SAMPLES host steal over [[QuietSampleS]] s and, if the
    * rate exceeds [[QuietRateThreshold]] (s of steal per wall s), sleeps
    * and re-samples — up to [[QuietWaitPerRetryS]] s per attempt and
    * [[QuietWaitBudgetS]] s across the whole run — so retries LAND in
    * quiet windows instead of burning inside the burst that dirtied the
    * previous attempt. Total waited seconds ride the detail line
    * (`quiet_wait_s`). */
  private val QuietSampleS = 3
  private val QuietRateThreshold = 0.10
  private val QuietWaitPerRetryS = 150
  /** PER STEAL-GATED CALL since r20 (ROUND-20 scaladoc): r19 exhausted a
    * run-global 600 s inside one burst, starving later legs' retries.
    * Replenishes for each leg and each second chance; the cumulative
    * wait across the run rides the detail line (`quiet_wait_s`). */
  private val QuietWaitBudgetS = 600

  /** In-guest contention gate (ROUND-20 scaladoc): an attempt whose
    * other-process CPU — Δ(host busy jiffies) − Δ(self+children) —
    * exceeds this rate (cpu-seconds per wall second) is treated as
    * dirty even at zero steal. Idle floor measured on this guest:
    * ~0.01 (kernel housekeeping + the waiting sbt parent); a second
    * working JVM reads ≥ 1.0 — 0.25 clears the floor by 25× while
    * catching anything that burns a quarter core. */
  private val OtherRateCleanThreshold = 0.25

  /** End-of-run second chance (ROUND-20 scaladoc): retry budget for the
    * one late re-run a still-dirty query leg gets after the other legs
    * complete. Smaller than MaxLegAttempts — by this point the run has
    * already spent its patience; the second chance is a bet that the
    * burst ENDED, not a second siege. */
  private val SecondChanceAttempts = 3

  /** r21 (r20 verdict item 2b): a leg that is STILL dirty after its
    * second chance gets ONE more late pass when its best read is
    * MARGINAL — steal within [[MarginalStealFactor]] × the clean
    * threshold. r20 committed steal_clean: false at 2.8 s vs the 2.0
    * bound: exactly the near-miss one more quiet window tends to clear,
    * where a 50 s read signals a siege not worth a third wait. */
  private val MarginalStealFactor = 2.0

  /** Driver tail-window budget (r20 verdict item 2a): the driver
    * records the LAST [[TailWindowChars]] chars of stdout, and sbt's
    * trailing success line consumes ~[[SbtSuccessLineChars]] of them —
    * the metric line of record must fit in what remains or its FRONT
    * is cut and the artifact's JSON no longer parses. Pinned in
    * BenchLegSpec against the latest committed artifact so field
    * accumulation turns a test red before it truncates a round. */
  private[graft] val TailWindowChars = 2000
  private[graft] val SbtSuccessLineChars = 77
  private[graft] def metricLineBudget: Int =
    TailWindowChars - SbtSuccessLineChars

  /** Per-query outlier guard (ROUND-19 scaladoc): a med/min spread above
    * this inside one pass set is a mid-leg burst signature (r18's q8 read
    * 1.95×; the eleven clean builder windows never exceeded ~1.4×) —
    * re-run once after a fresh quiet check, keep the lower-median read. */
  private val OutlierMedMinRatio = 1.5

  /** Timed-leg protocol tag (r19 ADVICE): names the pass-selection rule
    * in force — median-of-iters with a one-shot downward-only outlier
    * rerun at ratio 1.5. comparable_with_prior keys on clean-run + set
    * hash only; this tag is what lets a cross-round reader check the
    * SELECTION rule also matched (r19 totals were measured under the
    * same rule but carried no machine-visible marker). Advance the
    * string whenever the rule changes. */
  private val LegProtocol = "med-outlier-rerun-1.5"

  /** The bucketed-leg-only graph entry (not a SparkEntry gate query — its
    * input is the at-rest EdgeStore layout, not the raw parquet dir). */
  private val GraphBenchQuery = "g_pagerank_edgestore"

  /** The bucketed-leg-only retrieval entry (r15 verdict item 8): the
    * x_bm25_topk query served from the sealed term-bucketed postings
    * layout written untimed at leg prep. */
  private val Bm25BenchQuery = "x_bm25_indexed"

  /** r17 verdict item 8: the grouped top-k aggregate (the round's best
    * plan-shape win — 3.9× the window plan at 100× in the few-giant-
    * groups regime) trends per round like the graph/bm25 entries. It is
    * an ordinary SparkEntry gate query over the star tables, timed in
    * the bucketed leg (the intended at-rest configuration). */
  private val TopKBenchQuery = "a14_group_topk"

  /** r19 verdict item 7: the pre-flight sketch family's bucketed-leg
    * representative — x_kmv_intersection is k-row-bounded (TakeOrdered-64
    * sketches; flat 1.01→1.11 s at 10× in r19_kmv_scale) so it trends
    * the sketch-gate wall per round without destabilizing the total. An
    * ordinary SparkEntry gate query over events (not a star table — it
    * resolves identically in both layouts; it rides the bucketed leg
    * because that is the at-rest configuration a planner's pre-flight
    * read runs against). */
  private val KmvBenchQuery = "x_kmv_intersection"

  /** r22 (r21 verdict item 2, closing r20 item 7): the ONE-PASS
    * distributed KMV — the engine's cheapest scale story (O(partitions×k)
    * sketch exchange, 37 KiB at 100×, no distinct anywhere) — joins the
    * bucketed leg so the aggregate form is trended per round next to the
    * materialized-union form above. Set growth is an additions-only seam
    * exactly like r20's KMV growth: comparable_with_prior_bucketed reads
    * false for one round, total_bucketed_prev_set carries the
    * cross-round-comparable subtotal. */
  private val KmvOnepassBenchQuery = "x_kmv_onepass"

  /** Query-set hashes of the PRIOR round's committed legs (r19: plain =
    * the 11 names of PrevPlainSet, bucketed = those + graph + bm25 +
    * topk). UPDATE these literals whenever the bench set changes —
    * comparable_with_prior* keys on them, which is exactly the point: a
    * set change flips comparability to false for one round until the
    * constant is advanced, leaving a machine-visible seam instead of a
    * silently-shifted total. (r20 grows the bucketed set by
    * x_kmv_intersection, so comparable_with_prior_bucketed reads false
    * this round by construction; total_bucketed_prev_set is the
    * cross-seam comparable subtotal.) */
  private val PriorPlainSetHash = "249406e1"
  private val PriorBucketedSetHash = "4fd6d1de"

  /** The r16 committed plain set (the r15 ten + q8) — the cross-round
    * seam subtotals `total_prev_set` (plain) and `total_bucketed_prev_set`
    * (+ graph + bm25) are computed over exactly these names, directly
    * comparable with r16's committed `total` / `total_bucketed`. With the
    * set unchanged this round they coincide with `total`/`total_bucketed`
    * — kept anyway so the seam machinery stays exercised and the next
    * set growth only needs the constants advanced. */
  private val PrevPlainSet: Set[String] = Set(
    "q1_pricing_summary", "a6_revenue_by_nation", "j7_large_equi",
    "q3_shipping_priority", "q5_local_supplier", "q8_market_share",
    "w3_moving_avg", "t4_tumbling_hour", "t4_session", "x4_cosine_topk",
    "d_minhash_pipeline")

  /** One steal-gated leg's committed read: the chosen attempt's result
    * plus its steal / other-process CPU / wall, and EVERY attempt's
    * steal and other-rate (an end-of-run second chance APPENDS to the
    * arrays so the full attempt history rides the detail line).
    * private[graft] so the clean/score boundary arithmetic — the rules
    * that decide what the committed artifact certifies — is unit-pinned
    * in BenchLegSpec, not only exercised by live runs. */
  private[graft] case class LegRead[T](res: T, stealS: Double, otherS: Double,
      wallS: Double, stealAttempts: Seq[Double],
      otherRateAttempts: Seq[Double]) {
    def otherRate: Double = if (wallS > 0) otherS / wallS else 0.0
    /** Clean = trustworthy absolutes: bounded host steal AND no in-guest
      * co-worker burning CPU this JVM can't see in the steal column. */
    def clean: Boolean =
      stealS <= StealCleanThresholdS && otherRate <= OtherRateCleanThreshold
    /** Ordering for "keep the cleaner attempt": steal seconds plus the
      * other-CPU seconds in EXCESS of the clean allowance — an attempt
      * inside both thresholds scores ~0, contamination of either kind
      * adds its full measured seconds. */
    def score: Double =
      stealS + math.max(0.0, otherS - OtherRateCleanThreshold * wallS)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def setHash(names: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(names.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local("graft-bench", cpus)

    val names = SparkEntry.benchQueries
    val qs = SparkEntry.queries

    // absorb first-job session warmup (codegen compiler, broadcast infra,
    // scheduler) so it doesn't land on the first query's warmup pass
    spark.range(1000000).selectExpr("sum(id)").collect()

    // /proc readers (ROUND-20 scaladoc): steal = host CPU taken FROM the
    // guest (aggregate cpu line, col 8); busy = guest CPU consumed by ANY
    // process (user+nice+system+irq+softirq — idle/iowait/steal excluded);
    // self = this JVM plus reaped children (utime+stime+cutime+cstime).
    // busyΔ − selfΔ over a leg is the in-guest contention signal the
    // steal column is blind to (a second JVM in the guest).
    // signal_ok (r20 ADVICE): the catch-all zeros below make a FAILED
    // /proc read indistinguishable from a genuinely quiet host — steal 0
    // and other 0 would certify contention_clean with no data. Any read
    // that throws flips this flag so the artifact records whether the
    // gate actually had a signal.
    var procSignalOk = true
    def procCpu: (Long, Long) = try {
      val cols = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+")
      def c(i: Int) = if (cols.length > i) cols(i).toLong else 0L
      (c(8), c(1) + c(2) + c(3) + c(6) + c(7))
    } catch { case _: Throwable => procSignalOk = false; (0L, 0L) }
    def selfJiffies: Long = try {
      val s = scala.io.Source.fromFile("/proc/self/stat").mkString
      // comm (field 2) may contain spaces — split after its closing ')';
      // utime/stime/cutime/cstime are fields 14–17, i.e. 11–14 of the rest
      val f = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
      (11 to 14).map(f(_).toLong).sum
    } catch { case _: Throwable => procSignalOk = false; 0L }

    // Wait-for-quiet (scaladoc at the constants): block until a 3-s sample
    // reads quiet on BOTH rates (host steal AND in-guest other-process
    // CPU — r20), bounded per attempt and by the per-leg budget
    // (replenished at each stealGated call — ROUND-20 scaladoc).
    var quietWaitSpent = 0.0  // run-cumulative, reporting only
    var quietBudgetLeft = 0.0 // per-stealGated-call, replenished
    def waitForQuiet(label: String): Unit = {
      var waited = 0.0
      var quiet = false
      while (!quiet && waited < QuietWaitPerRetryS && quietBudgetLeft > 0) {
        val (st0, b0) = procCpu; val s0 = selfJiffies
        Thread.sleep(QuietSampleS * 1000L)
        val (st1, b1) = procCpu; val s1 = selfJiffies
        val stealRate = (st1 - st0) / 100.0 / QuietSampleS
        val otherRate =
          math.max(0.0, ((b1 - b0) - (s1 - s0)) / 100.0 / QuietSampleS)
        waited += QuietSampleS; quietBudgetLeft -= QuietSampleS
        if (stealRate <= QuietRateThreshold &&
            otherRate <= OtherRateCleanThreshold) quiet = true
        else {
          System.err.println(
            f"[bench] $label: steal rate $stealRate%.2f / other-cpu rate " +
              f"$otherRate%.2f — waiting for a quiet window " +
              f"(${waited}%.0f s this attempt)")
          Thread.sleep(12000L); waited += 12; quietBudgetLeft -= 12
        }
      }
      quietWaitSpent += waited
    }

    // Steal-gated retry (r15 protocol, scaladoc): run `leg` up to
    // `maxAttempts` times, stopping at the first CLEAN attempt (steal
    // AND other-rate inside thresholds — r20); keep the attempt with the
    // lowest contamination score. Warmups inside the leg repeat per
    // attempt — by attempt 2 the JVM is hot, so a retry is strictly
    // closer to steady state, never worse. Each attempt first waits for
    // a quiet host window (r17 item 1) so retries don't burn inside the
    // very burst that dirtied the previous attempt.
    def stealGated[T](label: String, maxAttempts: Int = MaxLegAttempts)(
        leg: () => T): LegRead[T] = {
      quietBudgetLeft = QuietWaitBudgetS // replenish per leg (ROUND-20)
      var attempts = Vector.empty[LegRead[T]]
      while (attempts.size < maxAttempts && !attempts.exists(_.clean)) {
        waitForQuiet(label)
        val (st0, b0) = procCpu; val s0 = selfJiffies
        val t0 = System.nanoTime()
        val r = leg()
        val wall = (System.nanoTime() - t0) / 1e9
        val (st1, b1) = procCpu; val s1 = selfJiffies
        val steal = (st1 - st0) / 100.0
        val other = math.max(0.0, ((b1 - b0) - (s1 - s0)) / 100.0)
        val read = LegRead(r, steal, other, wall, Seq(steal),
          Seq(if (wall > 0) other / wall else 0.0))
        attempts :+= read
        if (!read.clean && attempts.size < maxAttempts)
          System.err.println(
            f"[bench] $label leg dirty (steal $steal%.1f s, other-cpu " +
              f"rate ${read.otherRate}%.2f) — retrying " +
              s"(attempt ${attempts.size}/$maxAttempts)")
      }
      val chosen = attempts.minBy(_.score)
      chosen.copy(stealAttempts = attempts.map(_.stealS),
        otherRateAttempts = attempts.map(_.otherRate))
    }

    // ETL throughput: the reference's own workload (parse logs → 4 tables).
    // Its loader forks one JVM per log file, sequentially; warm logs/s here
    // is the single-node apples-to-apples number. r8 verdict item 6: the
    // old 200-log median-of-3 with one warmup showed ~4x cross-round
    // variance (195.8 vs 302.6 on near-identical engines) — too noisy for
    // regression detection. Remedy: TWO warmups (the first load
    // JIT-compiles the whole parse pipeline, the second settles it),
    // 400 logs so a run is ~2x longer than the scheduler jitter floor, and
    // median-of-5. ORDER (r9 verdict item 7): the ETL leg runs FIRST, on a
    // fresh JVM — running it after nine query legs left it hostage to
    // their accumulated JIT/GC state, the residual source of the ±20% r9
    // band (r10 two-run band recorded in BENCH_SCALE.json). Leg-first IS
    // the isolation: the r9-era clearCache+GC preamble guarded against
    // prior-query storage state that a fresh JVM no longer has.
    // r13: the r12 "-9% etl drift" turned out to be bursty HOST CPU STEAL
    // (guest VM; /proc/stat col 8), not code. etl_logs_per_sec_best is the
    // interference-immune ceiling; etl_steal_s the chosen attempt's steal.
    // r22 (r21 verdict item 6): the timed loads also record the
    // plan-vs-fill phase split (plan = driver listing + id mint + plan
    // build, the r18 loadmicro bottleneck; fill = parse/count execution)
    // so the 363–530 logs/s window variance is attributable on the
    // DETAIL line. The leg's protocol and its metric are unchanged.
    val etlLeg = stealGated("etl") { () =>
      try {
        val nLogs = 400
        val glob = tools.BenchLegPrep.genEtlLogs(nLogs)
        tools.BenchLegPrep.timedLoad(spark, glob) // warm 1: codegen + dict build
        tools.BenchLegPrep.timedLoad(spark, glob) // warm 2: settle JIT
        val runs = (1 to 5).map(_ => tools.BenchLegPrep.timedLoadSplit(spark, glob))
        val secs = runs.map(_._2)
        (nLogs / median(secs), nLogs / secs.min,
          median(runs.map(_._3)), median(runs.map(_._4)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] etl failed: ${e.getMessage}")
        (-1.0, -1.0, -1.0, -1.0)
      }
    }
    val (etlLogsPerSec, etlLogsPerSecBest, etlPlanS, etlFillS) = etlLeg.res

    // BenchProtocol.force: noop sink materializes every output row with all
    // columns — count() would let Catalyst prune the actual work (scaladoc)
    def force(q: (SparkSession, String) => DataFrame, name: String): Boolean =
      try { BenchProtocol.force(q(spark, sfDir)); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }

    def timeLeg(legNames: Seq[String],
        lookup: Map[String, (SparkSession, String) => DataFrame])
        : (Seq[(String, (Double, Double))], Seq[String]) = {
      val reruns = scala.collection.mutable.ArrayBuffer.empty[String]
      val rs = legNames.map { name =>
        spark.sharedState.cacheManager.clearCache()
        // localCheckpoint blocks (lshCandidatePairs, x_contamination) are
        // NOT in the CacheManager — they free via ContextCleaner when their
        // RDD is collected, so nudge a GC to keep prior queries' blocks from
        // occupying storage memory during this query's runs
        System.gc()
        // the headline query gets 7 timed passes (r9 verdict item 8: its
        // median-of-5 drifted 22% above a simultaneously-IMPROVED min —
        // session noise; a median over 7 tolerates three stalled passes);
        // iterative / multi-action legs get 9 (r15 item 3: chained actions
        // amplify per-action scheduler noise)
        val iters = name match {
          case HeadlineQuery                     => HeadlineIters
          case GraphBenchQuery | Bm25BenchQuery  => IterativeIters
          case _                                 => Iters
        }
        val q = lookup(name)
        val warmOk = force(q, name)
        def passes(): Seq[Double] =
          if (!warmOk) Seq.empty[Double]
          else (1 to iters).map { _ =>
            val t0 = System.nanoTime()
            val ok = force(q, name)
            if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
          }
        val t1 = passes()
        // a failed query must not masquerade as a (near-zero) fast timing
        if (t1.isEmpty || t1.exists(_.isNaN)) name -> (-1.0, -1.0)
        else {
          var med = median(t1); var mn = t1.min
          // per-query outlier guard (ROUND-19 scaladoc): a mid-leg burst
          // inflates the median while the min stays at the steady-state
          // floor — re-run the passes once in a fresh quiet window and
          // keep whichever pass set has the LOWER median (the reads stay
          // same-protocol; the discard is published, not hidden)
          if (med > OutlierMedMinRatio * mn) {
            reruns += name
            System.err.println(
              f"[bench] $name med/min ${med / mn}%.2f > " +
                f"$OutlierMedMinRatio%.1f — re-running after quiet check")
            waitForQuiet(s"rerun:$name")
            val t2 = passes()
            if (t2.nonEmpty && !t2.exists(_.isNaN) && median(t2) < med) {
              med = median(t2); mn = t2.min
            }
          }
          name -> (med, mn)
        }
      }
      (rs, reruns.toSeq)
    }

    // per-leg result alias: (per-query (median, min) readings, rerun names)
    type LegRes = (Seq[(String, (Double, Double))], Seq[String])

    // plain leg — steal-gated (r15; r13 item 1 added the sampling, r14
    // item 1 the retry: the committed artifact must carry a clean run).
    // `var` + runner: the end-of-run second chance (ROUND-20) may replace
    // a dirty read with a cleaner late one.
    def runPlainLeg(maxAttempts: Int = MaxLegAttempts): LegRead[LegRes] =
      stealGated("plain", maxAttempts) { () => timeLeg(names, qs) }
    var plainLeg = runPlainLeg()
    spark.sharedState.cacheManager.clearCache()

    // ---- bucketed leg (r12 verdict item 4) --------------------------------
    // At 100 TB the bucketed layout IS the intended at-rest configuration
    // for the star workload, so its trend must be committed per round, not
    // measured once: the SAME query list re-timed under the 'orderkey'
    // layout (orders/lineitem bucketed by orderkey, customer by custkey —
    // Tables scaladoc) PLUS g_pagerank_edgestore over the src-bucketed
    // at-rest edge layout (r15, scaladoc), tables and edge store freshly
    // rewritten each run (untimed; a stale copy of a regenerated corpus
    // would silently serve old rows). Queries not touching the star tables
    // resolve identically in both legs, which keeps total_bucketed_shared
    // directly comparable to total. Skipped only when the driver already
    // pinned a layout via env (then this run IS that layout's leg).
    val BucketedLayout = "orderkey"
    val bucketedNames = names :+ GraphBenchQuery :+ Bm25BenchQuery :+
      TopKBenchQuery :+ KmvBenchQuery :+ KmvOnepassBenchQuery
    // the bm25 leg's query terms come from the (untimed) postings build
    // below — the closure reads this at call time, after prep ran
    var bm25Terms: Seq[String] = Seq.empty
    val qsBk: Map[String, (SparkSession, String) => DataFrame] =
      qs + (GraphBenchQuery ->
        ((s: SparkSession, d: String) =>
          queries.GraphQueries.pagerankEdgeStore(s, d))) +
        (Bm25BenchQuery ->
          ((s: SparkSession, _: String) =>
            sources.InvertedIndex.bm25TopK(
              s, sources.InvertedIndex.BenchTable, bm25Terms, 20)))
    // runner survives the first run so the end-of-run second chance can
    // re-time without re-prepping (the at-rest tables written below
    // persist for the JVM's lifetime)
    var bucketedRunner: Option[Int => LegRead[LegRes]] = None
    var bucketedLeg: Option[LegRead[LegRes]] =
      if (Tables.activeLayout.isDefined) None
      else {
        try {
          // untimed prep, outside the retried window: steal during a
          // rewrite does not contaminate the timings
          tools.BenchLegPrep.writeBucketedTables(spark, sfDir, BucketedLayout)
          queries.GraphQueries.writeBenchEdgeStore(spark, sfDir)
          bm25Terms = sources.InvertedIndex.writeBenchPostings(spark, sfDir)
          val runner = (maxAttempts: Int) => {
            System.setProperty("graft.bucketed", BucketedLayout)
            try stealGated("bucketed", maxAttempts) { () =>
              timeLeg(bucketedNames, qsBk)
            } finally System.clearProperty("graft.bucketed")
          }
          bucketedRunner = Some(runner)
          Some(runner(MaxLegAttempts))
        } catch { case e: Throwable =>
          System.clearProperty("graft.bucketed")
          System.err.println(s"[bench] bucketed leg failed: ${e.getMessage}")
          None
        }
      }
    spark.sharedState.cacheManager.clearCache()

    // ---- custkey window leg (ROUND-19 scaladoc; r18 verdict item 6) -------
    // The window workload's OWN at-rest layout, trended per round: the
    // w1/w3 gate shapes with the explicit range partitioning removed —
    // the bucketed+sorted scan satisfies the window's clustering, so the
    // plan below WindowExec has ZERO exchanges (pinned in BucketingSpec).
    // Table rewritten fresh each run (untimed), same discipline as the
    // star tables.
    val CustkeyTable = "bench_orders_cust"
    val custkeyNames = Seq("w1", "w3")
    val qsCust: Map[String, (SparkSession, String) => DataFrame] = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.{Window => W}
      Map(
        "w1" -> ((s: SparkSession, _: String) => {
          val w = W.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
          s.table(CustkeyTable)
            .select(col("o_custkey"), col("o_orderkey"),
              sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
                .cast("double").as("running_total"))
            .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
        }),
        "w3" -> ((s: SparkSession, _: String) => {
          val f = W.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-2, 0)
          s.table(CustkeyTable)
            .select(col("o_custkey"), col("o_orderkey"),
              (sum(col("o_totalprice").cast("decimal(18,4)")).over(f)
                .cast("double") / count(lit(1)).over(f)).as("mavg3"))
            .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
        }))
    }
    var custkeyRunner: Option[Int => LegRead[LegRes]] = None
    var custkeyLeg: Option[LegRead[LegRes]] =
      if (Tables.activeLayout.isDefined) None
      else {
        try {
          // fresh-table discipline (BenchLegPrep.writeBucketedTables): the
          // catalog is per-JVM but the warehouse dir survives runs —
          // drop both or saveAsTable fails with LOCATION_ALREADY_EXISTS
          spark.sql(s"DROP TABLE IF EXISTS $CustkeyTable")
          val loc = java.nio.file.Paths.get("spark-warehouse", CustkeyTable)
          if (java.nio.file.Files.exists(loc)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.delete)
          }
          sources.Bucketing.writeBucketedSorted(
            Tables.orders(spark, sfDir), CustkeyTable, "o_custkey",
            Seq("o_custkey", "o_orderdate", "o_orderkey"), 32) // untimed
          val runner = (maxAttempts: Int) =>
            stealGated("custkey", maxAttempts) { () =>
              timeLeg(custkeyNames, qsCust) }
          custkeyRunner = Some(runner)
          Some(runner(MaxLegAttempts))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] custkey leg failed: ${e.getMessage}")
          None
        }
      }
    spark.sharedState.cacheManager.clearCache()

    // ---- end-of-run second chance (ROUND-20 scaladoc) ----------------------
    // By the time all legs have run, ~15 min have passed since the first
    // leg's attempts — the host alternates quiet/bursty on tens of
    // minutes, so a leg whose whole 6-attempt budget landed inside a
    // burst gets one more steal-gated run in what is statistically a
    // different window. Query legs only: a late ETL re-run would break
    // its fresh-JVM contract (ROUND-10 scaladoc), so a dirty ETL read
    // stands, attempts published. The CLEANER read (by contamination
    // score) is committed; attempt arrays concatenate so nothing hides.
    var secondChance = 0
    def cleanerOf[T](first: LegRead[T], second: LegRead[T]): LegRead[T] = {
      val chosen = if (second.score < first.score) second else first
      chosen.copy(
        stealAttempts = first.stealAttempts ++ second.stealAttempts,
        otherRateAttempts =
          first.otherRateAttempts ++ second.otherRateAttempts)
    }
    // r21 (r20 verdict item 2b): every dirty leg gets one second chance
    // as in r20; a leg STILL dirty whose best read is marginal (steal ≤
    // MarginalStealFactor × threshold) gets exactly one more — the 2.8 s
    // near-miss r20 committed is the case this clears, while a siege
    // (large steal) stops at one late pass as before.
    def secondChanceLoop[T](label: String, first: LegRead[T],
        run: Int => LegRead[T]): LegRead[T] = {
      var best = first
      var tries = 0
      while (!best.clean && (tries == 0 || (tries == 1 &&
          best.stealS <= MarginalStealFactor * StealCleanThresholdS))) {
        secondChance += 1; tries += 1
        System.err.println(
          s"[bench] $label leg still dirty — second chance ($tries)")
        best = cleanerOf(best, run(SecondChanceAttempts))
        spark.sharedState.cacheManager.clearCache()
      }
      best
    }
    if (!plainLeg.clean)
      plainLeg = secondChanceLoop("plain", plainLeg, runPlainLeg)
    bucketedLeg = (bucketedLeg, bucketedRunner) match {
      case (Some(l), Some(run)) if !l.clean =>
        Some(secondChanceLoop("bucketed", l, run))
      case (l, _) => l
    }
    custkeyLeg = (custkeyLeg, custkeyRunner) match {
      case (Some(l), Some(run)) if !l.clean =>
        Some(secondChanceLoop("custkey", l, run))
      case (l, _) => l
    }

    // names the emission section reads (pre-r20 shape, kept stable)
    val (results, rerunsPlain) = plainLeg.res
    val stealPlainS = plainLeg.stealS
    val stealPlainAttempts = plainLeg.stealAttempts
    val bucketedResults = bucketedLeg.map(_.res._1)
    val rerunsBk = bucketedLeg.map(_.res._2).getOrElse(Seq.empty)
    val stealBkS = bucketedLeg.map(_.stealS).getOrElse(-1.0)
    val stealBkAttempts = bucketedLeg.map(_.stealAttempts).getOrElse(Seq.empty)
    val custResults = custkeyLeg.map(_.res._1)
    val rerunsCk = custkeyLeg.map(_.res._2).getOrElse(Seq.empty)
    val stealCkS = custkeyLeg.map(_.stealS).getOrElse(-1.0)
    val stealCkAttempts = custkeyLeg.map(_.stealAttempts).getOrElse(Seq.empty)
    val etlStealS = etlLeg.stealS
    val etlStealAttempts = etlLeg.stealAttempts

    // 3-decimal per-query maps: 1 ms resolution on sub-second legs, and
    // the char budget is what lets ALL FOUR maps (plain/bucketed ×
    // median/min) live on the final metric line (emission scaladoc below)
    def fmt(rs: Seq[(String, (Double, Double))],
        sel: ((Double, Double)) => Double): String =
      rs.map { case (k, v) => "\"" + k + f"""\":${sel(v)}%.3f""" }
        .mkString("{", ",", "}")
    def fmtArr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    def fmtArr2(xs: Seq[Double]): String =
      xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    val qJson = fmt(results, _._1)
    val qMinJson = fmt(results, _._2)
    val nFailed = results.count(_._2._1 < 0)
    // A failed query silently SHRINKS the summed workload, making the
    // headline total read as an improvement over prior rounds (r11: t4
    // failed, total covered 8 queries vs r9's 9). Only publish a total
    // from a clean run; otherwise emit the failure sentinel and a
    // machine-visible comparability flag.
    val total =
      if (nFailed > 0) -1.0 else results.map(_._2._1).sum
    // the bucketed leg carries the same failure discipline: a missing leg
    // (env-pinned layout or write failure) publishes sentinel fields so
    // the round-over-round trend shows a GAP, never a silent improvement
    val nFailedBk = bucketedResults.map(_.count(_._2._1 < 0)).getOrElse(-1)
    val totalBk = bucketedResults match {
      case Some(rs) if nFailedBk == 0 => rs.map(_._2._1).sum
      case _ => -1.0
    }
    // the plain-set subtotal of the bucketed leg: same 10 queries as
    // `total` and as r14's total_bucketed — the cross-leg and (this
    // round) cross-round comparable number (r15 scaladoc)
    val sharedBk = bucketedResults.map(_.filter(p => names.contains(p._1)))
    val nFailedShared = sharedBk.map(_.count(_._2._1 < 0)).getOrElse(-1)
    val totalBkShared = sharedBk match {
      case Some(rs) if nFailedShared == 0 => rs.map(_._2._1).sum
      case _ => -1.0
    }
    // cross-round seam subtotals (ROUND-16 scaladoc): sums over the r15
    // committed sets, directly comparable with r15's total / total_bucketed
    // even though this round's grown sets flip comparable_with_prior* false
    val prevPlain = results.filter(p => PrevPlainSet.contains(p._1))
    val totalPrevSet =
      if (prevPlain.size == PrevPlainSet.size &&
          prevPlain.forall(_._2._1 >= 0)) prevPlain.map(_._2._1).sum
      else -1.0
    // r19's committed bucketed set (incl. the topk entry that joined in
    // r18) — total_bucketed_prev_set is directly comparable with r19's
    // committed total_bucketed across this round's KMV-growth seam
    // r21's committed bucketed set (incl. the KMV-intersection entry that
    // joined in r20) — this round's growth is KmvOnepassBenchQuery
    val prevBkNames =
      PrevPlainSet + GraphBenchQuery + Bm25BenchQuery + TopKBenchQuery +
        KmvBenchQuery
    val totalBkPrevSet =
      bucketedResults.map(_.filter(p => prevBkNames.contains(p._1))) match {
        case Some(rs) if rs.size == prevBkNames.size &&
            rs.forall(_._2._1 >= 0) => rs.map(_._2._1).sum
        case _ => -1.0
      }
    val qBkJson = bucketedResults.map(fmt(_, _._1)).getOrElse("{}")
    val qBkMinJson = bucketedResults.map(fmt(_, _._2)).getOrElse("{}")
    // custkey leg: same failure discipline (sentinels, never a silently
    // shrunken total)
    val nFailedCk = custResults.map(_.count(_._2._1 < 0)).getOrElse(-1)
    val totalCk = custResults match {
      case Some(rs) if nFailedCk == 0 => rs.map(_._2._1).sum
      case _ => -1.0
    }
    val qCkJson = custResults.map(fmt(_, _._1)).getOrElse("{}")
    val qCkMinJson = custResults.map(fmt(_, _._2)).getOrElse("{}")
    val qReruns = rerunsPlain.size + rerunsBk.size + rerunsCk.size
    val rerunNames = (rerunsPlain ++ rerunsBk ++ rerunsCk)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val plainSetHash = setHash(names)
    val bkSetHash = setHash(bucketedNames)
    // comparability = clean run AND unchanged query set (r14 ADVICE: a
    // grown set must not assert round-over-round comparability)
    val comparable = nFailed == 0 && plainSetHash == PriorPlainSetHash
    val comparableBk = nFailedBk == 0 && bkSetHash == PriorBucketedSetHash

    // etl_protocol tag: r9 changed the ETL leg (isolated, 2 warmups,
    // 400 logs, median-of-5) — absolute logs/s moved up ~1.7x vs the old
    // 200-log median-of-3 because fixed per-load overhead amortizes over
    // longer runs; compare etl numbers only within the same etl_protocol.
    // layout tag: "plain" unless an opt-in bucketed at-rest layout is
    // active (Tables scaladoc) — bucketed totals are a different storage
    // contract, never compared against plain ones silently
    val layout = Tables.activeLayout.getOrElse("plain")
    // steal_clean: every executed leg's CHOSEN attempt met the gate — the
    // one-boolean answer to "can this artifact's absolutes be trusted"
    // (r16 verdict item 1: the committed run carried 4.3/25.8 s steal and
    // a reader had to reconstruct that from the attempts arrays)
    val executedLegs: Seq[LegRead[_]] =
      Seq(etlLeg, plainLeg) ++ bucketedLeg.toSeq ++ custkeyLeg.toSeq
    val stealClean = executedLegs.forall(_.stealS <= StealCleanThresholdS)
    // contention_clean (ROUND-20): no executed leg's chosen attempt had
    // in-guest other-process CPU above the clean rate — the second
    // boolean a reader needs now that zero steal no longer implies an
    // uncontended guest
    val contentionClean =
      executedLegs.forall(_.otherRate <= OtherRateCleanThreshold)
    val stealMaxS = executedLegs.map(_.stealS).max
    val otherRateMax = executedLegs.map(_.otherRate).max
    // r21 (r20 verdict item 2a): the r20 tail capture TRUNCATED the
    // detail line and lost the attempt history and second_chance count —
    // the round's own trust fields. A COMPACT history now rides the
    // metric line of record: per-leg attempt counts [etl, plain,
    // bucketed, custkey] (-1 = leg not executed; counts include
    // second-chance passes since the arrays concatenate) plus the
    // second_chance total. The full per-attempt steal/other arrays stay
    // on the truncatable detail line. signal_ok joins the metric line
    // only when FALSE (the rare no-data case must be loud; the common
    // true spends no budget — r20 ADVICE).
    val attCounts = Seq(
      etlLeg.stealAttempts.size, plainLeg.stealAttempts.size,
      bucketedLeg.map(_.stealAttempts.size).getOrElse(-1),
      custkeyLeg.map(_.stealAttempts.size).getOrElse(-1))
    val attJson = attCounts.mkString("[", ",", "]")
    val sigOkField = if (procSignalOk) "" else ""","signal_ok":false"""
    // EMISSION (r17 verdict items 1 + wrong #3): the driver records the
    // LAST 2000 chars of stdout (sbt's trailing "[success] …" line costs
    // ~75 of them), so everything the committed artifact must preserve
    // has to fit in ~1925 chars ENDING at the metric line. r17 proved a
    // split detail line isn't enough — its plain `queries_min` map still
    // fell off the front of the window. The fix is structural: ALL FOUR
    // per-query maps (plain/bucketed × median/min, at 3 decimals) now
    // live ON the metric line of record, which is kept ≤ ~1.9 KB by
    // moving everything re-derivable or constant (attempts arrays,
    // iters, etl protocol tag, wait accounting) to the truncatable
    // detail line printed first. A guard warns on stderr if the metric
    // line ever outgrows the window again.
    // r20 char budget (ROUND-20 scaladoc): the KMV bucketed key, the
    // leg_protocol tag, and the two contention fields cost ~160 chars,
    // paid for by moving protocol (constant), total_bucketed_shared
    // (re-derivable from queries_bucketed over the plain names),
    // queries_custkey_min, and the per-leg steal scalars (summarized by
    // steal_max_s; attempts arrays below) to this truncatable line.
    println(f"""{"metric":"bench_detail","protocol":"noop-sink","iters":$Iters,"iters_q1":$HeadlineIters,"iters_iterative":$IterativeIters,"etl_protocol":"first-400-med5","etl_logs_per_sec_best":$etlLogsPerSecBest%.1f,"etl_plan_s":$etlPlanS%.2f,"etl_fill_s":$etlFillS%.2f,"etl_steal_s":$etlStealS%.1f,"steal_plain_s":$stealPlainS%.1f,"steal_bucketed_s":$stealBkS%.1f,"steal_custkey_s":$stealCkS%.1f,"etl_steal_attempts_s":${fmtArr(etlStealAttempts)},"steal_plain_attempts_s":${fmtArr(stealPlainAttempts)},"steal_bucketed_attempts_s":${fmtArr(stealBkAttempts)},"steal_custkey_attempts_s":${fmtArr(stealCkAttempts)},"other_rate_etl_attempts":${fmtArr2(etlLeg.otherRateAttempts)},"other_rate_plain_attempts":${fmtArr2(plainLeg.otherRateAttempts)},"other_rate_bucketed_attempts":${fmtArr2(bucketedLeg.map(_.otherRateAttempts).getOrElse(Seq.empty))},"other_rate_custkey_attempts":${fmtArr2(custkeyLeg.map(_.otherRateAttempts).getOrElse(Seq.empty))},"other_rate_clean_threshold":$OtherRateCleanThreshold%.2f,"second_chance_attempts":$SecondChanceAttempts,"signal_ok":$procSignalOk,"bench_n":${names.size},"bench_n_bucketed":${bucketedNames.size},"comparable_with_prior_bucketed":$comparableBk,"total_bucketed_shared":$totalBkShared%.4f,"queries_custkey_min":$qCkMinJson,"failed_custkey":$nFailedCk,"failed_bucketed":$nFailedBk,"layout_bucketed":"$BucketedLayout","total_prev_set":$totalPrevSet%.4f,"total_bucketed_prev_set":$totalBkPrevSet%.4f,"outlier_reruns":$rerunNames,"outlier_medmin_ratio":$OutlierMedMinRatio%.1f,"max_leg_attempts":$MaxLegAttempts,"quiet_wait_s":$quietWaitSpent%.0f,"steal_clean_threshold_s":$StealCleanThresholdS%.1f}""")
    // r21 char budget (r20 verdict item 2a): second_chance + att cost
    // ~37 chars, paid for by moving bench_n / bench_n_bucketed to the
    // detail line (both re-derivable: they EQUAL the sizes of the
    // queries / queries_bucketed maps riding this same line) and by
    // totals at 3 decimals like the per-query maps (1 ms resolution).
    val metricLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","layout":"$layout","leg_protocol":"$LegProtocol","comparable_with_prior":$comparable,"bench_set":"$plainSetHash","failed":$nFailed,"queries":$qJson,"queries_min":$qMinJson,"total_bucketed":$totalBk%.3f,"bench_set_bucketed":"$bkSetHash","queries_bucketed":$qBkJson,"queries_bucketed_min":$qBkMinJson,"total_custkey":$totalCk%.3f,"queries_custkey":$qCkJson,"q_reruns":$qReruns,"second_chance":$secondChance,"att":$attJson$sigOkField,"etl_logs_per_sec":$etlLogsPerSec%.1f,"steal_max_s":$stealMaxS%.1f,"other_rate_max":$otherRateMax%.2f,"steal_clean":$stealClean,"contention_clean":$contentionClean,"sf":"$sfDir"}"""
    if (metricLine.length > metricLineBudget)
      System.err.println(s"[bench] WARNING: metric line is " +
        s"${metricLine.length} chars — outgrows the $metricLineBudget-char " +
        "budget (2000-char driver tail window minus sbt's success line)")
    println(metricLine)
    spark.stop()
  }
}
