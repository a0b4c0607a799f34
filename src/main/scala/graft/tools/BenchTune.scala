package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Dev harness: the full-surface sweep, one generic per-query probe and the
  * few probes that still carry an open number. The benchmark of record is
  * `perfbench/`. A probe whose A/B
  * is settled is deleted once its result is recorded in BENCH_SCALE.json
  * (CHANGES.md lists each deleted probe beside its key).
  *
  * Usage: `runMain graft.tools.BenchTune <probe> [arg]` — see [[Probes]].
  * Reads SPARK_GRAFT_SF_DIR (the corpus directory),
  * SPARK_GRAFT_SKIP (`all`) and SPARK_GRAFT_PASSES (`probe`, `headlinebk`).
  */
object BenchTune {

  type Query = (SparkSession, String) => DataFrame

  /** Probe name → argument synopsis, in the order usage lists them. */
  val Probes: Seq[(String, String)] = Seq(
    "all" -> "", "probe" -> "<q1,q2,...>|bench", "headlinebk" -> "[q1,q2,...]",
    "bucketwrite" -> "[layout]", "lshmargin" -> "", "cosine" -> "",
    "a6" -> "", "minhash" -> "", "recallprobe" -> "", "etl" -> "[nLogs]",
    "etlsweep" -> "", "etlprofile" -> "")

  /** Single-pass wall time of EVERY declared query (cold then warm).
    * SPARK_GRAFT_SKIP=q1,q2 names queries to skip — for corpora where a
    * gate-form query is KNOWN infeasible by contract (x4_ann_lsh_pairs'
    * fixed 8-bit bands at ≥200k vectors spill unboundedly; its scale
    * siblings lshCandidatePairsAuto/Collapsed are measured instead under
    * `r10_lsh_auto_bits`). Skips print loudly so a sweep never silently
    * under-covers. */
  def allQueries(sfDir: String): Unit = {
    val spark = graft.Sessions.local("bench-all", graft.Sessions.defaultCores)
    val skip = sys.env.getOrElse("SPARK_GRAFT_SKIP", "")
      .split(',').filter(_.nonEmpty).toSet
    // per-run host-CPU-steal accounting (r13 verdict item 1): a sweep whose
    // total drifts vs a prior round must be able to self-attribute guest-VM
    // contention the same way the ETL leg does (BENCH_SCALE r13_etl_steal)
    def stealJiffies: Long = ProbeHarness.stealJiffies
    val sweepStart = System.nanoTime()
    val stealStart = stealJiffies
    // absorb first-job session warmup (codegen compiler, broadcast infra,
    // scheduler) so it doesn't land on the alphabetically-first query —
    // a10_min_max_by read as "5.2s" when its true cost was ~0.3s
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      if (skip(n)) println(f"[all] $n%-24s  SKIPPED (SPARK_GRAFT_SKIP)")
      else {
        val t0 = System.nanoTime()
        val res = try { fn(spark, sfDir).count(); "" }
          catch {
            // d_semdedup_auto gates the FLAT-assignment default, which by
            // contract only exists below CoarseDispatchK — at sweep scales
            // the default is the coarse quantizer and the gate row refuses
            // loudly rather than hash-mismatch. That refusal is the
            // operator working as designed, so the sweep runs the
            // SCALE-PATH TWIN instead of recording a failure: coarse
            // default vs flat exact=true at the same derived k, full
            // vec_id coverage + verdict agreement hard-checked
            // (semdedupScaleTwin). r12 verdict item 8.
            case e: IllegalArgumentException
                if n == "d_semdedup_auto" &&
                  e.getMessage != null &&
                  e.getMessage.contains("CoarseDispatchK") =>
              val agree = semdedupScaleTwin(spark, sfDir)
              f"  TWIN-OK (coarse default; kept-agreement $agree%.4f vs flat)"
            // r21: the scale guards refuse a fatal parameterization BEFORE
            // the explosion (r20 verdict item 1 — this replaced the 548 s /
            // >75 GB spill death of the r20 sweep's one failing leg). A
            // refusal is the guard working as designed; the sweep records
            // it distinctly from a failure, with the measured volume.
            case e: IllegalStateException
                if e.getMessage != null && e.getMessage.contains("refused") =>
              s"  REFUSED (scale guard): " +
                ProbeHarness.refusalSummary(e.getMessage)
            case e: Throwable => s"  FAILED ${e.getMessage.take(60)}"
          }
        println(f"[all] $n%-24s ${(System.nanoTime() - t0) / 1e9}%8.3f s$res")
        // r13 ADVICE: QueryDef closures declare .cache() on frames that feed
        // self-joins/iteration; each invocation builds a FRESH lineage, so a
        // 178-query sweep accumulates storage blocks (LRU keeps results
        // correct but adds memory pressure + timing noise). Drop them here —
        // no query shares cached state with another by construction.
        spark.sharedState.cacheManager.clearCache()
      }
    }
    println(f"[all] sweep_total=${(System.nanoTime() - sweepStart) / 1e9}%.1f s " +
      f"steal_s=${(stealJiffies - stealStart) / 100.0}%.1f")
    spark.stop()
  }

  /** The scale-path twin behind d_semdedup_auto's loud guard: at corpora
    * where the derived k exceeds SemDedup.CoarseDispatchK (so the DuckDB
    * gate row cannot run), check the coarse DEFAULT against the flat
    * `exact = true` form at the same derived k — the form the gate row
    * pins at gate scale. Hard-asserts: identical full vec_id coverage on
    * both sides (n rows each, same id set — a coarse path that loses or
    * duplicates vectors is a bug, not an approximation) and kept-verdict
    * agreement ≥ 0.95 (coarse assignment is approximate ONLY near
    * unprobed cell boundaries — SemDedup scaladoc — so near-total but not
    * bit-exact agreement is the contract; measured 1.0000 at the 10×
    * ScaleGen corpus, BENCH_SCALE r13_semdedup_twin). Returns the
    * agreement fraction for the sweep line.
    */
  def semdedupScaleTwin(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
    val n = e.count()
    val coarse = graft.ext.SemDedup.semanticDedup(e, tau = 0.35)
      .select($"vec_id", $"kept".as("kept_c"))
    val flat = graft.ext.SemDedup
      .semanticDedup(e, tau = 0.35,
        targetClusterSize = graft.ext.SemDedup.DefaultTargetClusterSize,
        exact = true)
      .select($"vec_id", $"kept".as("kept_f"))
    val joined = coarse.join(flat, Seq("vec_id"), "full").localCheckpoint()
    val row = joined.agg(
      count(lit(1)).as("n_rows"),
      sum(when($"kept_c".isNull || $"kept_f".isNull, 1L).otherwise(0L)).as("n_uncovered"),
      sum(when($"kept_c" === $"kept_f", 1L).otherwise(0L)).as("n_agree")).head()
    val (nRows, nUncov, nAgree) = (row.getLong(0), row.getLong(1), row.getLong(2))
    require(nRows == n && nUncov == 0L,
      s"semdedup twin: coverage broken — $n vectors in, $nRows joined rows, " +
        s"$nUncov present on only one side (coarse and flat must both emit " +
        "every vec_id exactly once)")
    val agree = nAgree.toDouble / n
    require(agree >= 0.95,
      f"semdedup twin: kept-verdict agreement $agree%.4f < 0.95 — coarse " +
        "default has drifted from the flat gate form beyond boundary effects")
    agree
  }

  /** The generic per-query probe: for each named query, one warmup, then
    * SPARK_GRAFT_PASSES (default 3) timed passes, each after a GC, forced
    * through the bench idiom (noop sink). One line per query: min and
    * median wall, then wall/steal/shuffle-write per pass. The min pass is
    * the interference-immune read; per-pass steal lets a reader attribute
    * an outlier pass instead of trusting a gate. At 100× the default can
    * under-warm the heavies (q1's passes descended 229→38→17.5 s on a
    * cold page cache), so converged reads want 7+ passes.
    */
  def probe(spark: SparkSession, tag: String, names: Seq[String],
      lookup: Map[String, Query], sfDir: String): Unit = {
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    for (q <- names) {
      def force(): Unit = graft.BenchProtocol.force(lookup(q)(spark, sfDir))
      force() // warmup: plan + codegen + first-touch page cache
      val runs = (1 to passes).map { _ =>
        System.gc()
        val s0 = ProbeHarness.stealJiffies
        var wall = 0.0
        val bytes = ProbeHarness.shuffleWriteBytes(spark) {
          val t0 = System.nanoTime()
          force()
          wall = (System.nanoTime() - t0) / 1e9
        }
        (wall, (ProbeHarness.stealJiffies - s0) / 100.0, bytes / 1024)
      }
      val walls = runs.map(_._1).sorted
      val all = runs.map(r => f"${r._1}%.2f/${r._2}%.1f/${r._3}%d").mkString(" ")
      println(f"[$tag] $q%-24s min=${walls.head}%8.3f s " +
        f"median=${walls(walls.size / 2)}%8.3f s " +
        f"passes(wall s/steal s/shuffle KiB)=$all")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** The bucketed twin of `probe bench` — the at-rest answer to the 100×
    * join costs the plain probe measures. Rewrites the 'orderkey' star
    * layout, the src-bucketed bench EdgeStore and the sealed BM25
    * postings for `sfDir` UNTIMED (prep walls printed: at 100× the write
    * cost of the at-rest layout is itself a number), then probes the
    * bucketed leg (plain set + the graph and retrieval at-rest entries)
    * with the layout active. */
  def headlineBk(spark: SparkSession, sfDir: String,
      only: Seq[String]): Unit = {
    def prep[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[headline-bk] prep $what%-18s ${(System.nanoTime() - t0) / 1e9}%8.1f s (untimed)")
      r
    }
    prep("bucketed_tables") { BenchLegPrep.writeBucketedTables(spark, sfDir, "orderkey") }
    prep("edge_store") {
      graft.queries.GraphQueries.writeBenchEdgeStore(spark, sfDir) }
    val bm25Terms = prep("bm25_postings") {
      graft.sources.InvertedIndex.writeBenchPostings(spark, sfDir) }
    val extra: Map[String, Query] = Map(
      "g_pagerank_edgestore" -> ((s, d) =>
        graft.queries.GraphQueries.pagerankEdgeStore(s, d)),
      "x_bm25_indexed" -> ((s, _) =>
        graft.sources.InvertedIndex.bm25TopK(
          s, graft.sources.InvertedIndex.BenchTable, bm25Terms, 20)))
    val names =
      if (only.nonEmpty) only
      else graft.SparkEntry.benchQueries ++ extra.keys.toSeq.sorted
    System.setProperty("graft.bucketed", "orderkey")
    try probe(spark, "headline-bk", names, graft.SparkEntry.queries ++ extra, sfDir)
    finally System.clearProperty("graft.bucketed")
  }

  /** r22 (r21 verdict item 7): the LSH refusal guard's corpus-growth
    * margin as a measured line — exact candidate pairs/vector of the raw
    * 8×8 arm and the auto arm vs the 2000 bound per rung, from the
    * factored pre-explosion volume aggregation (no pair join runs, so
    * the refusing rungs are measurable too). The raw arm's pairs/vector
    * grow ~linearly in n; the printed headroom is the early warning for
    * a future gate-corpus growth (scaladoc at LshPairsPerVectorGuard). */
  def lshMargin(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val S = graft.queries.Similarity
    for ((tag, dir) <- ProbeHarness.corpora(sfDir)) {
      val e = graft.Tables.embeddings(spark, dir)
        .select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("ev"))
        .localCheckpoint(true)
      val n = e.count()
      def vol(bits: Int, arm: String): Unit = {
        val (pv, nv) = S.lshPairVolume(S.lshBanded(e, 64, 8, bits), 8)
        println(f"[lshmargin] $tag%-5s $arm%-10s n=$nv%-8d " +
          f"pairs=$pv%-12d pairs_per_vec=${if (nv > 0) pv / nv else 0}%-6d " +
          f"bound=${S.LshPairsPerVectorGuard} " +
          f"refuses=${nv > 0 && pv / nv > S.LshPairsPerVectorGuard}")
      }
      vol(8, "raw-8x8")
      vol(S.autoBandBits(n), "auto")
    }
  }

  /** Compare native CosineSim vs HOF cosine on a full self-join scan. */
  def cosineShootout(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .cache()
    emb.count()
    val q = emb.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"ev".as("qv"))
    def time(tag: String, c: (Column, Column) => Column): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        emb.crossJoin(broadcast(q)).select(sum(c($"ev", $"qv"))).collect()
        println(f"[$tag] iter$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    time("hof", graft.queries.Similarity.cosineHof)
    time("native", graft.queries.Similarity.cosine)
  }

  /** A/B the a6_revenue_by_nation join order: current (join all, aggregate
    * once at the end) vs partial-aggregating lineitem revenue by l_orderkey
    * BELOW the orders join (decimal sums are exact, so two-level summing is
    * bit-identical). The pre-agg shuffles one (orderkey, decimal, long) row
    * per order instead of one wide row per lineitem through the join.
    */
  def a6Shootout(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def rev = ($"l_extendedprice" * (lit(1) - $"l_discount")).cast("decimal(18,6)")
    def byNation(df: DataFrame) = df
      .join(graft.Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .join(broadcast(graft.Tables.nation(spark, sfDir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
    def current = byNation(graft.Tables.lineitem(spark, sfDir))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy($"n_name")
    def preAgg = byNation(graft.Tables.lineitem(spark, sfDir)
        .groupBy($"l_orderkey")
        .agg(sum(rev).as("o_rev"), count(lit(1)).as("o_items")))
      .agg(sum($"o_rev").cast("double").as("revenue"),
        sum($"o_items").as("n_items"))
      .orderBy($"n_name")
    // results must be identical before timings mean anything
    println(s"[a6] results identical = ${current.collect().toSeq == preAgg.collect().toSeq}")
    def med(tag: String, f: => DataFrame): Unit = {
      val times = (1 to 5).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime(); f.collect(); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[a6] $tag%-8s median=${times(2)}%.3f min=${times.head}%.3f")
    }
    for (_ <- 1 to 2) { med("current", current); med("preagg", preAgg) }
  }

  /** Profile the MinHash LSH stages: banded row count, raw candidate pairs. */
  def minhashProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val sig = docs.filter(size(split($"text", " ")) >= 3)
      .select($"doc_id",
        graft.ext.MinHashDedup.signature(
          graft.ext.MinHashDedup.shingles($"text"), 32).as("sig")).cache()
    var t0 = System.nanoTime()
    println(s"[probe] docs=${sig.count()} sigTime=${(System.nanoTime()-t0)/1e9}")
    val banded = sig.select($"doc_id",
      explode(transform(sequence(lit(0), lit(7)), b =>
        struct(b.as("band_idx"),
          hash(slice($"sig", b * 4 + 1, lit(4))).as("band_hash")))).as("band"))
      .select($"doc_id", $"band.band_idx", $"band.band_hash").cache()
    t0 = System.nanoTime()
    println(s"[probe] banded=${banded.count()} t=${(System.nanoTime()-t0)/1e9}")
    val buckets = banded.groupBy($"band_idx", $"band_hash").count()
    println("[probe] top buckets:")
    buckets.orderBy($"count".desc).limit(5).collect()
      .foreach(r => println(s"[probe]   ${r.getLong(2)}"))
    t0 = System.nanoTime()
    val pairs = banded.as("a").join(banded.as("b"),
      Seq("band_idx", "band_hash")).filter($"a.doc_id" < $"b.doc_id")
    println(s"[probe] rawPairs=${pairs.count()} t=${(System.nanoTime()-t0)/1e9}")
  }

  /** Stage-by-stage wall time of d_minhash_recall's plan pieces. */
  def recallProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val docs = graft.Tables.documents(spark, sfDir).filter($"doc_id" < 600)
    t("docs count") { docs.count() }
    val cand = t("candidatePairs build+count") {
      val c = graft.ext.MinHashDedup.candidatePairs(docs, 32, 8)
        .select($"a", $"b", lit(true).as("found"))
      c.count(); c
    }
    val sh = t("shingles checkpoint") {
      docs.withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 3)
        .select($"doc_id",
          graft.queries.DedupQueries.shinglesOfToks($"toks").as("sh"))
        .localCheckpoint(true)
    }
    val a = sh.select($"doc_id".as("a"), $"sh".as("sha"))
    val b = sh.select($"doc_id".as("b"), $"sh".as("shb"))
    val strong = t("exact pair scan") {
      val s = a.join(broadcast(b), $"a" < $"b")
        .select($"a", $"b",
          round(size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")), 6).as("jaccard"))
        .filter($"jaccard" >= 0.9)
      s.count(); s
    }
    // the two single-intersect forms: plain, then size-pruned (Jaccard ≥
    // 0.9 needs min(|A|,|B|) ≥ 0.9·max(|A|,|B|))
    def singleIntersect(pruned: Boolean): Long = {
      val aa = sh.select($"doc_id".as("a"), $"sh".as("sha"), size($"sh").as("na"))
      val bb = sh.select($"doc_id".as("b"), $"sh".as("shb"), size($"sh").as("nb"))
      val on = $"a" < $"b" &&
        (if (pruned) least($"na", $"nb") >= greatest($"na", $"nb") * 0.899
         else lit(true))
      aa.join(broadcast(bb), on)
        .select($"a", $"b", $"na", $"nb",
          size(array_intersect($"sha", $"shb")).as("inter"))
        .select($"a", $"b",
          round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 6).as("jaccard"))
        .filter($"jaccard" >= 0.9).count()
    }
    t("exact pair scan, single-intersect") { singleIntersect(pruned = false) }
    t("exact pair scan, size-pruned") { singleIntersect(pruned = true) }
    t("left join + order") {
      strong.join(cand, Seq("a", "b"), "left")
        .select($"a", $"b", $"jaccard",
          coalesce($"found", lit(false)).as("recalled"))
        .orderBy($"a", $"b").count()
    }
  }

  /** ETL throughput: `nLogs` synthetic Clojush logs, the full
    * LogPipeline.load + count of all four tables, twice. The reference
    * processes one log per sequential JVM subprocess; this measures the
    * parallel file-per-task path. */
  def etlThroughput(spark: SparkSession, nLogs: Int): Unit = {
    val glob = BenchLegPrep.genEtlLogs(nLogs)
    (1 to 2).foreach { iter =>
      val (rows, sec) = BenchLegPrep.timedLoad(spark, glob)
      println(f"[etl] iter$iter $nLogs logs, $rows rows in $sec%.2f s " +
        f"(${nLogs / sec}%.0f logs/s)")
    }
  }

  /** ETL throughput vs shuffle-partition count (the load path's shuffles
    * are file-count scale, so it wants far fewer than the query engine).
    */
  def etlShuffleSweep(spark: SparkSession, nLogs: Int = 500): Unit = {
    val glob = BenchLegPrep.genEtlLogs(nLogs)
    Seq(4, 8, 16).foreach { sp =>
      spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
      BenchLegPrep.timedLoad(spark, glob) // warm
      val secs = (1 to 2).map(_ => BenchLegPrep.timedLoad(spark, glob)._2)
      println(f"[etlsweep] sp=$sp%-3d best=${nLogs / secs.min}%.0f logs/s")
    }
  }

  /** Stage-by-stage timing of one warm load (JIT warmed by 3 full loads). */
  def etlProfile(spark: SparkSession, nLogs: Int = 200): Unit = {
    val glob = BenchLegPrep.genEtlLogs(nLogs)
    (1 to 3).foreach(_ => BenchLegPrep.timedLoad(spark, glob))
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val tables = t("load (plan + driver-side ids/dim)") {
      graft.parse.LogPipeline.load(spark, glob)
    }
    t("experiments.count (flat fill)")(tables.experiments.count())
    t("experiment.count")(tables.experiment.count())
    t("generations.count")(tables.generations.count())
    t("summary.count")(tables.summary.count())
    tables.release()
  }

  private def namesArg(arg: Option[String]): Seq[String] =
    arg.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val arg = args.lift(1)
    def run(name: String)(f: SparkSession => Unit): Unit =
      ProbeHarness.withSpark(name)(f)
    args.headOption.getOrElse("") match {
      case "all" => allQueries(sfDir)
      case "probe" =>
        val names =
          if (arg.contains("bench")) graft.SparkEntry.benchQueries
          else namesArg(arg)
        require(names.nonEmpty, "probe needs <q1,q2,...> or bench")
        run("query-probe")(probe(_, "probe", names, graft.SparkEntry.queries, sfDir))
      case "headlinebk" => run("headline-bk-probe")(headlineBk(_, sfDir, namesArg(arg)))
      case "bucketwrite" =>
        run("bucket-write")(BenchLegPrep.writeBucketedTables(_, sfDir,
          arg.getOrElse("orderkey")))
      case "lshmargin" => run("lsh-margin")(lshMargin(_, sfDir))
      case "cosine" => run("cosine-shootout")(cosineShootout(_, sfDir))
      case "a6" => run("a6-shootout")(a6Shootout(_, sfDir))
      case "minhash" => run("minhash-probe")(minhashProbe(_, sfDir))
      case "recallprobe" => run("recallprobe")(recallProbe(_, sfDir))
      case "etl" => run("etl-bench")(etlThroughput(_, arg.fold(500)(_.toInt)))
      case "etlsweep" => run("etl-sweep")(etlShuffleSweep(_))
      case "etlprofile" => run("etl-profile")(etlProfile(_))
      case other =>
        System.err.println(s"unknown probe '$other'; probes:\n" +
          Probes.map { case (n, a) => s"  $n $a".stripTrailing }.mkString("\n"))
        sys.exit(2)
    }
  }
}
