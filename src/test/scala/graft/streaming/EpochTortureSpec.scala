package graft.streaming

import graft.{SparkTestSession, Tables}
import graft.ext.IvfAnn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Systematic crash-point torture for the shared exactly-once epoch
  * store (r15 verdict item 1). The earlier per-stream replay specs each
  * killed at HAND-PICKED points; this harness kills at EVERY
  * filesystem-mutation boundary ([[EpochStore.failpoint]]):
  *
  *  1. For each EpochStore consumer (Hll / Sketch / Cms / Graph / Ann
  *     streams — the real, public `processBatch` bodies, not
  *     re-implementations), a probe run records how many failpoints one
  *     batch crosses; then for every step k the harness runs a fresh
  *     store, crashes batch 1 at exactly step k, REPLAYS batch 1 the
  *     way a checkpoint restart would, continues with batch 2, and
  *     asserts every serving surface is bit-identical to an
  *     uninterrupted run. GraphStream is the interesting member: its
  *     batch spans TWO epoch writes (edges, then ranks) with a warm
  *     re-convergence in between, so the kill points include the
  *     half-committed state where edges landed but ranks did not.
  *  2. Compaction torture (delta stores): crash `compact` before the
  *     snapshot commit, right after it (absorbed partitions still on
  *     disk — the r14 double-count exposure), after EACH partial
  *     delete, and after all deletes. At every crash state the READER
  *     surface must already be consistent (the self-describing
  *     compacted-id read rule), a re-run of compact must be safe
  *     (possibly a no-op), and the next compaction must clean up any
  *     leaked absorbed partitions — asserted by counting live
  *     partition dirs at the end.
  *  3. Snapshot-retention torture: crash `pruneRankEpochs` between
  *     deletes; the serving surface must be intact at the crash state
  *     and the re-run must converge to exactly `keep` epochs.
  *  4. Torn-attempt overwrite: a garbage file planted inside a batch's
  *     own partition (simulating a crashed attempt's leftovers) must be
  *     replaced WHOLESALE when the batch (re)commits — the dynamic
  *     partition overwrite contract the whole discipline rests on.
  *  5. Seen-store members (Dedup / NearDup / SemDedup / SentenceDedup —
  *     on the shared EpochStore since r16): same kill-at-every-step
  *     replay, with the additional at-least-once SINK contract pinned —
  *     every re-fire of a batch's sink must carry bit-identical rows,
  *     because [[EpochStore.readBelow]] excludes the crashed attempt's
  *     own partition from the recomputation.
  *
  * Not members: IngestStream/JdbcSink (exactly-once via the JDBC
  * ledger, replay-specced in their own suites) and IndexStream (an
  * AT-LEAST-ONCE bucketed-table append by documented contract — query
  * paths collapse replay duplicates with `distinct()`, pinned in
  * IndexStreamSpec); DeconStream holds no store.
  */
class EpochTortureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  final case class InjectedCrash(point: String, k: Int)
    extends RuntimeException(s"injected crash at step $k ($point)")

  /** Record the failpoint names `body` crosses, without crashing. */
  private def trace(body: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    EpochStore.failpoint = p => { seen += p; () }
    try body finally EpochStore.failpoint = _ => ()
    seen.toSeq
  }

  /** Run `body` with a crash injected at the k-th failpoint firing;
    * returns the injected crash (asserting it fired). */
  private def crashAt(k: Int)(body: => Unit): InjectedCrash = {
    var n = 0
    EpochStore.failpoint = p => {
      val i = n; n += 1
      if (i == k) throw InjectedCrash(p, k)
    }
    try intercept[InjectedCrash](body)
    finally EpochStore.failpoint = _ => ()
  }

  /** Canonical multiset of a frame: sorted row renderings. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  private def copyDir(src: String, dst: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(src), new java.io.File(dst))

  private def partitionDirs(store: String): Seq[String] =
    Option(new java.io.File(store).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).filter(_.contains("=")).sorted

  /** One family member: three deterministic input batches, the REAL
    * processBatch, and every serving surface (named canonical rows). */
  final case class Member(
      name: String,
      batches: IndexedSeq[DataFrame],
      process: (DataFrame, Long, String) => Unit,
      surfaces: String => Seq[(String, Seq[String])],
      compact: Option[(String => Unit, String => DataFrame)] = None)

  private lazy val events = Tables.events(spark, sf).localCheckpoint(true)
  private lazy val docs = Tables.documents(spark, sf).localCheckpoint(true)

  private lazy val hllMember = Member(
    "hll",
    (0 to 2).map(i => events.filter($"event_id" % 3 === i)
      .select($"ts", $"user_id")),
    (b, id, st) => HllStream.processBatch(b, id, st),
    st => Seq(
      "cells" -> canon(EpochStore.read(spark, st)),
      "estimates" -> canon(HllStream.estimates(spark, st))),
    compact = Some((st => HllStream.compact(spark, st),
      st => HllStream.merged(spark, st))))

  private lazy val sketchMember = Member(
    "sketch",
    (0 to 2).map(i => events.filter($"event_id" % 3 === i)
      .select($"ts", $"value")),
    (b, id, st) => SketchStream.processBatch(b, id, st),
    st => Seq(
      "cells" -> canon(EpochStore.read(spark, st)),
      "quantiles" -> canon(SketchStream.quantiles(spark, st, Seq(50, 95)))),
    compact = Some((st => SketchStream.compact(spark, st),
      st => SketchStream.merged(spark, st))))

  private lazy val cmsMember = Member(
    "cms",
    (0 to 2).map(i => docs.filter($"doc_id" % 3 === i)
      .select($"doc_id", $"text")),
    (b, id, st) => CmsStream.processBatch(b, id, st),
    st => Seq(
      "cells" -> canon(EpochStore.read(spark, st)),
      "estimates" -> canon(CmsStream.estimates(spark, st,
        Seq("the", "data", "graft", "never-streamed")))),
    compact = Some((st => CmsStream.compact(spark, st),
      st => CmsStream.merged(spark, st))))

  // small deterministic graph: 3 edge batches over 30 nodes
  private lazy val graphEdges = spark.range(90)
    .select(($"id" % 30).as("src"),
      pmod(xxhash64($"id", lit(7)), lit(30)).as("dst"),
      ($"id" % 3).as("m"))
    .localCheckpoint(true)
  private lazy val graphMember = Member(
    "graph",
    (0 to 2).map(i => graphEdges.filter($"m" === i).select($"src", $"dst")),
    (b, id, st) =>
      { GraphStream.processBatch(spark, b, id, st, maxIters = 100); () },
    st => Seq(
      "edges" -> canon(EpochStore.read(spark, s"$st/edges")),
      "ranks" -> canon(GraphStream.latestRanks(spark, st))))

  private lazy val (annBatches, annCents) = {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("ev"))
      .localCheckpoint(true)
    val cents = IvfAnn.build(emb.filter($"vec_id" % 3 === 0),
      nCentroids = 8).centroids
    ((0 to 2).map(i => emb.filter($"vec_id" % 3 === i)),
      cents.sortBy(_._1).map(_._2.toArray))
  }
  private lazy val annMember = Member(
    "ann",
    annBatches,
    (b, id, st) => AnnStream.processBatch(b, id, st, annCents),
    st => Seq("index" -> canon(spark.read.parquet(st))))

  private lazy val topkMember = Member(
    "topk",
    (0 to 2).map(i => events.filter($"event_id" % 3 === i)
      .select($"event_id", $"ts", $"value")),
    (b, id, st) => TopKStream.processBatch(b, id, st),
    st => Seq(
      "rows" -> canon(EpochStore.read(spark, st)),
      "merged" -> canon(TopKStream.merged(spark, st))),
    compact = Some((st => TopKStream.compact(spark, st),
      st => TopKStream.merged(spark, st))))

  private lazy val members =
    Seq(hllMember, sketchMember, cmsMember, graphMember, annMember,
      topkMember)

  private def runAll(m: Member, st: String): Unit =
    (0 to 2).foreach(i => m.process(m.batches(i), i.toLong, st))

  // ---- 1. batch crash-replay at every step --------------------------------

  for (m <- members)
    test(s"${m.name}: batch killed at EVERY step, replayed, bit-identical") {
      val refStore = tmp(s"tort_${m.name}_ref")
      runAll(m, refStore)
      val ref = m.surfaces(refStore)

      // batch 0's store state is identical across kill points — build it
      // once and fork each run from a filesystem copy (the expensive
      // members re-converge PageRank / re-encode per batch)
      val base = tmp(s"tort_${m.name}_base")
      m.process(m.batches(0), 0L, base)

      // probe: how many failpoints does one batch cross on this stream?
      val probe = tmp(s"tort_${m.name}_probe")
      copyDir(base, probe)
      val steps = trace { m.process(m.batches(1), 1L, probe) }
      assert(steps.size >= 2, s"expected >=2 kill points, saw $steps")

      for (k <- steps.indices) {
        val st = tmp(s"tort_${m.name}_k$k")
        copyDir(base, st)
        val crash = crashAt(k) { m.process(m.batches(1), 1L, st) }
        // checkpoint restart: replay the SAME batch, then continue
        m.process(m.batches(1), 1L, st)
        m.process(m.batches(2), 2L, st)
        val got = m.surfaces(st)
        assert(got == ref,
          s"${m.name} diverged after crash at step $k (${crash.point}): " +
            got.zip(ref).collect { case ((n, a), (_, b)) if a != b => n }
              .mkString(","))
      }
    }

  // ---- 2. compaction killed at every step ---------------------------------

  for (m <- members; (compactFn, mergedFn) <- m.compact)
    test(s"${m.name}: compaction killed at EVERY step — readers stay " +
        "consistent, recovery converges, leaks are collected") {
      val base = tmp(s"tortc_${m.name}_base")
      m.process(m.batches(0), 0L, base)
      m.process(m.batches(1), 1L, base)
      val refMerged01 = canon(mergedFn(base))
      // reference end state: all three batches, never compacted. The
      // raw "cells" surface (EpochStore.read) legitimately DIFFERS
      // after compaction — per-epoch cells collapse into merged ones —
      // so the invariants are the MERGED view and the serving surfaces.
      val refStore = tmp(s"tortc_${m.name}_ref")
      runAll(m, refStore)
      val refMergedAll = canon(mergedFn(refStore))
      val refServing = m.surfaces(refStore).filterNot(_._1 == "cells")

      val stepsProbe = tmp(s"tortc_${m.name}_probe")
      copyDir(base, stepsProbe)
      val steps = trace { compactFn(stepsProbe) }
      assert(steps.size >= 4, s"expected pre/committed/deleted+/post, saw $steps")

      for (k <- steps.indices) {
        val st = tmp(s"tortc_${m.name}_k$k")
        copyDir(base, st)
        val crash = crashAt(k) { compactFn(st) }
        // reader consistency AT the crash state: the read rule must
        // already exclude absorbed-but-undeleted partitions
        assert(canon(mergedFn(st)) == refMerged01,
          s"${m.name} reader inconsistent at crash step $k (${crash.point})")
        // recovery: re-running compact must be safe (it may no-op if
        // the snapshot already committed)
        compactFn(st)
        assert(canon(mergedFn(st)) == refMerged01,
          s"${m.name} reader inconsistent after recovery at step $k")
        // life goes on: batch 2 lands above the high-water mark, and the
        // NEXT compaction absorbs it and collects any leaked partitions
        m.process(m.batches(2), 2L, st)
        compactFn(st)
        assert(canon(mergedFn(st)) == refMergedAll,
          s"${m.name} merged view diverged after crash at step $k")
        assert(m.surfaces(st).filterNot(_._1 == "cells") == refServing,
          s"${m.name} serving surfaces diverged after crash at step $k")
        val parts = partitionDirs(st)
        assert(parts.size == 1 &&
            parts.head.stripPrefix("batch=").toLong >= EpochStore.CompactedBase,
          s"${m.name} left uncollected partitions after step $k: $parts")
      }
    }

  // ---- 2a. graph edge-store compaction (identity merge) -------------------
  // The fourth delta store: GraphStream's edge multiset compacts with the
  // IDENTITY merge (the multiset must be unchanged — later epochs
  // re-converge from it). Separate from the loop above because the store
  // lives under <root>/edges and the serving surface (latest ranks) is
  // derived, not merged.

  test("graph edges: compaction killed at EVERY step — multiset intact, " +
      "re-convergence unchanged, leaks collected") {
    val base = tmp("tortc_gedges_base")
    (0 to 1).foreach(i =>
      GraphStream.processBatch(spark, graphMember.batches(i), i.toLong,
        base, maxIters = 100))
    val refEdges = canon(EpochStore.read(spark, s"$base/edges"))

    val probe = tmp("tortc_gedges_probe")
    copyDir(base, probe)
    val steps = trace { GraphStream.compactEdges(spark, probe) }
    assert(steps.size >= 4, s"expected pre/committed/deleted+/post, saw $steps")

    // reference end state: all three batches, never compacted
    val refStore = tmp("tortc_gedges_ref")
    runAll(graphMember, refStore)
    val refRanks = canon(GraphStream.latestRanks(spark, refStore))
    val refEdgesAll = canon(EpochStore.read(spark, s"$refStore/edges"))

    for (k <- steps.indices) {
      val st = tmp(s"tortc_gedges_k$k")
      copyDir(base, st)
      val crash = crashAt(k) { GraphStream.compactEdges(spark, st) }
      assert(canon(EpochStore.read(spark, s"$st/edges")) == refEdges,
        s"edge multiset inconsistent at crash step $k (${crash.point})")
      GraphStream.compactEdges(spark, st) // recovery (possibly no-op)
      assert(canon(EpochStore.read(spark, s"$st/edges")) == refEdges)
      // batch 2 re-converges from the compacted store identically, and
      // the next compaction collects any leaked absorbed partitions
      GraphStream.processBatch(spark, graphMember.batches(2), 2L, st,
        maxIters = 100)
      assert(canon(GraphStream.latestRanks(spark, st)) == refRanks,
        s"ranks diverged after edge-compaction crash at step $k")
      GraphStream.compactEdges(spark, st)
      assert(canon(EpochStore.read(spark, s"$st/edges")) == refEdgesAll)
      val parts = partitionDirs(s"$st/edges")
      assert(parts.size == 1 &&
          parts.head.stripPrefix("batch=").toLong >= EpochStore.CompactedBase,
        s"edge store left uncollected partitions after step $k: $parts")
    }
  }

  // ---- 2b. seen-store (dedup family) members ------------------------------
  // The four dedup streams ride the SAME EpochStore discipline since r16
  // (writeEpoch + the strictly-below readBelow), plus an at-least-once
  // SINK whose idempotence is the caller's contract. The torture models
  // the sink as a keyed store (batchId → rows) and ALSO logs every
  // firing: a crash-replayed batch may fire the sink twice, but both
  // firings must carry bit-identical rows (readBelow excludes the
  // crashed attempt's own partition, so the recomputation cannot see
  // its own leftovers — the property the whole family leans on).

  final case class SinkMember(
      name: String,
      batches: IndexedSeq[DataFrame],
      process: (DataFrame, Long, String, (DataFrame, Long) => Unit) => Unit)

  /** Deterministic (value, path) doc batches with cross-batch duplicate
    * pressure: batch 1 and 2 re-ship five of the previous batch's texts
    * under NEW paths, so the strictly-below store anti-join actually
    * suppresses rows in every later batch. */
  private lazy val dedupDocBatches: IndexedSeq[DataFrame] = {
    val base = docs.filter($"text".isNotNull)
      .select(format_string("d%05d", $"doc_id").as("path"),
        $"text".as("value"), $"doc_id")
      .localCheckpoint(true)
    def slice(i: Int) = base.filter($"doc_id" % 3 === i)
    def clonesOf(i: Int, tag: String) = slice(i).orderBy($"doc_id").limit(5)
      .select(concat(lit(tag), $"path").as("path"), $"value",
        $"doc_id")
    IndexedSeq(
      slice(0).select($"value", $"path"),
      slice(1).unionByName(clonesOf(0, "x")).select($"value", $"path"),
      slice(2).unionByName(clonesOf(1, "y")).select($"value", $"path"))
      .map(_.localCheckpoint(true))
  }

  private lazy val semVecBatches: IndexedSeq[DataFrame] = {
    val base = Tables.embeddings(spark, sf)
      .select(format_string("v%05d", $"vec_id").as("path"),
        array_join(transform($"embedding", x => x.cast("double")
          .cast("string")), " ").as("value"), $"vec_id")
      .localCheckpoint(true)
    (0 to 2).map(i => base.filter($"vec_id" % 3 === i)
      .select($"value", $"path").localCheckpoint(true))
  }

  private lazy val semCentroids: Array[Array[Double]] = {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("ev"))
    graft.ext.IvfAnn.build(emb, nCentroids = 8, lloydIters = 0)
      .centroids.sortBy(_._1).map(_._2.toArray)
  }

  private lazy val sinkMembers = Seq(
    SinkMember("dedup", dedupDocBatches,
      (b, id, st, sink) => DedupStream.processBatch(b, id, st, sink)),
    SinkMember("neardup", dedupDocBatches,
      (b, id, st, sink) => NearDupStream.processBanded(b, id, st,
        NearDupStream.minhashBandify(32, 8),
        sink)),
    SinkMember("semdedup", semVecBatches,
      (b, id, st, sink) =>
        SemDedupStream.processBatch(b, id, st, semCentroids, 0.35, sink)),
    SinkMember("sentdedup", dedupDocBatches,
      (b, id, st, sink) =>
        SentenceDedupStream.processBatch(b, id, st, 10, sink)))

  for (m <- sinkMembers)
    test(s"${m.name}: batch killed at EVERY step, replayed — store " +
        "bit-identical, every sink re-fire carries identical rows") {
      def runAllSink(st: String): (Map[Long, Seq[String]], Seq[String]) = {
        val fired = scala.collection.mutable.Map[Long, Seq[String]]()
        val sink = (df: DataFrame, id: Long) => { fired(id) = canon(df); () }
        (0 to 2).foreach(i => m.process(m.batches(i), i.toLong, st, sink))
        (fired.toMap, canon(spark.read.parquet(st)))
      }
      val refStore = tmp(s"tortd_${m.name}_ref")
      val (refSink, refRows) = runAllSink(refStore)

      // batch 0's store state and sink rows are identical across kill
      // points — build once, fork from a copy, replay its sink view
      val noSink = (_: DataFrame, _: Long) => ()
      val base = tmp(s"tortd_${m.name}_base")
      var b0Rows: Seq[String] = Seq.empty
      m.process(m.batches(0), 0L, base,
        (df: DataFrame, _: Long) => { b0Rows = canon(df); () })

      val probe = tmp(s"tortd_${m.name}_probe")
      copyDir(base, probe)
      val steps = trace { m.process(m.batches(1), 1L, probe, noSink) }
      assert(steps.size >= 2, s"expected >=2 kill points, saw $steps")

      for (k <- steps.indices) {
        val st = tmp(s"tortd_${m.name}_k$k")
        copyDir(base, st)
        val firings =
          scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
        firings += ((0L, b0Rows))
        val sink = (df: DataFrame, id: Long) => {
          firings += ((id, canon(df))); ()
        }
        val crash = crashAt(k) { m.process(m.batches(1), 1L, st, sink) }
        m.process(m.batches(1), 1L, st, sink) // checkpoint replay
        m.process(m.batches(2), 2L, st, sink)
        assert(canon(spark.read.parquet(st)) == refRows,
          s"${m.name} store diverged after crash at step $k (${crash.point})")
        // every firing for a batch id must be bit-identical (at-least-
        // once with deterministic recomputation), and the last-writer
        // view must equal the uninterrupted run's
        firings.groupBy(_._1).foreach { case (id, fs) =>
          assert(fs.map(_._2).distinct.size == 1,
            s"${m.name} sink fired divergent rows for batch $id at step $k")
        }
        assert(firings.groupBy(_._1).view.mapValues(_.last._2).toMap ==
          refSink,
          s"${m.name} sink view diverged after crash at step $k")
      }
    }

  // ---- 2b'. SEEN-store compaction (compactSeen — r18 verdict item 3) ------
  // The dedup family's band stores compact with a set-semantics distinct
  // merge, strictly below the newest plain epoch, so the one batch that
  // can still replay keeps its exact pre-state (EpochStore.compactSeen
  // scaladoc). Invariants at EVERY kill point: the strictly-below read
  // of the next batch is SET-identical to the uncompacted store's (the
  // join-exact invariant — multiset changes are the merge's contract),
  // recovery converges, a probe batch's kept rows equal the uncompacted
  // twin's, and a later compaction collects any leaked partitions.

  test("seen-store compaction killed at EVERY step — readBelow stays " +
      "consistent, recovery converges, verdicts unchanged, leaks collected") {
    val bandify =
      NearDupStream.minhashBandify(32, 8)
    val noSink = (_: DataFrame, _: Long) => ()
    def build(st: String): Unit = (0 to 2).foreach(i =>
      NearDupStream.processBanded(
        dedupDocBatches(i), i.toLong, st, bandify, noSink))
    // probe batch: clones of batch 0's docs (store suppression must
    // fire; fresh paths so in-batch winners don't mask the store arm)
    // plus one genuinely new banded doc, so the KEPT arm registers and
    // epoch 3 materializes on disk
    val freshDoc = ("quantum error correction codes stabilize logical " +
      "qubits against decoherence noise using syndrome measurements " +
      "repeated very often ") * 5
    val probeBatch = dedupDocBatches(0)
      .select($"value", concat(lit("z"), $"path").as("path"))
      .unionByName(Seq((freshDoc, "zfresh")).toDF("value", "path"))
      .localCheckpoint(true)

    val ref = tmp("tortcs_ref"); build(ref)
    val refBelow3 =
      canon(EpochStore.readBelow(spark, ref, 3L).get.distinct())
    var refKept: Seq[String] = Seq.empty
    NearDupStream.processBanded(probeBatch, 3L, ref, bandify,
      (df: DataFrame, _: Long) => { refKept = canon(df.select($"path")); () })
    val probeSize = probeBatch.count()
    assert(refKept.size < probeSize,
      "probe batch must exercise the store-suppression arm")

    val base = tmp("tortcs_base"); build(base)
    val stepsProbe = tmp("tortcs_probe"); copyDir(base, stepsProbe)
    val steps = trace { NearDupStream.compactStore(spark, stepsProbe) }
    assert(steps.size >= 4, s"expected pre/committed/deleted+/post, saw $steps")

    for (k <- steps.indices) {
      val st = tmp(s"tortcs_k$k"); copyDir(base, st)
      val crash = crashAt(k) { NearDupStream.compactStore(spark, st) }
      assert(canon(EpochStore.readBelow(spark, st, 3L).get.distinct())
          == refBelow3,
        s"readBelow inconsistent at crash step $k (${crash.point})")
      NearDupStream.compactStore(spark, st) // recovery (may no-op)
      assert(canon(EpochStore.readBelow(spark, st, 3L).get.distinct())
          == refBelow3,
        s"readBelow inconsistent after recovery at step $k")
      var kept: Seq[String] = Seq.empty
      NearDupStream.processBanded(probeBatch, 3L, st, bandify,
        (df: DataFrame, _: Long) => { kept = canon(df.select($"path")); () })
      assert(kept == refKept,
        s"verdicts diverged after crash at step $k (${crash.point})")
      // the NEXT maintenance pass absorbs epoch 2 and collects whatever
      // a mid-delete crash leaked
      NearDupStream.compactStore(spark, st)
      val parts = partitionDirs(st)
      assert(parts.size == 2 &&
          parts.exists(_.stripPrefix("batch=").toLong >=
            EpochStore.CompactedBase) &&
          parts.contains("batch=3"),
        s"unexpected layout after step $k: $parts")
    }
  }

  // ---- 2c. composed crash schedules ---------------------------------------
  // Single-step kills prove each state is recoverable; this composes
  // them: seeded pseudo-random schedules where EVERY batch may crash,
  // including crashes DURING a replay of an already-crashed batch
  // (replay-of-replay), before the run finally succeeds. The final
  // store must still be bit-identical to the uninterrupted run — the
  // property a checkpoint restart loop actually relies on, since
  // nothing guarantees a restart itself survives.

  test("hll: seeded multi-crash schedules (crashes during replays " +
      "included) always converge to the uninterrupted store") {
    val m = hllMember
    val refStore = tmp("tortm_hll_ref")
    runAll(m, refStore)
    val ref = m.surfaces(refStore)

    val probe = tmp("tortm_hll_probe")
    m.process(m.batches(0), 0L, probe)
    val stepsPerBatch = trace { m.process(m.batches(1), 1L, probe) }.size

    val rnd = new scala.util.Random(421688L) // fixed seed: reproducible
    for (schedule <- 1 to 6) {
      val st = tmp(s"tortm_hll_s$schedule")
      for (b <- 0 to 2) {
        // each attempt of this batch crashes with decreasing probability;
        // a batch may crash several times (replay-of-replay) at varying
        // steps before one attempt is allowed to finish
        var crashes = rnd.nextInt(3) // 0..2 failed attempts first
        while (crashes > 0) {
          crashAt(rnd.nextInt(stepsPerBatch)) {
            m.process(m.batches(b), b.toLong, st)
          }
          crashes -= 1
        }
        m.process(m.batches(b), b.toLong, st)
      }
      assert(m.surfaces(st) == ref,
        s"schedule $schedule diverged from the uninterrupted run")
    }
  }

  // ---- 3. snapshot retention killed between deletes -----------------------

  test("graph: rank-epoch prune killed between deletes — serving surface " +
      "intact at the crash state, re-run converges to keep=2") {
    val base = tmp("tortp_graph_base")
    (0 to 2).foreach(i =>
      GraphStream.processBatch(spark, graphMember.batches(i), i.toLong,
        base, maxIters = 100))
    val refRanks = canon(GraphStream.latestRanks(spark, base))

    val probe = tmp("tortp_graph_probe")
    copyDir(base, probe)
    val steps = trace { GraphStream.pruneRankEpochs(spark, probe) }
    assert(steps.nonEmpty, "prune crossed no failpoints — nothing dropped?")

    for (k <- steps.indices) {
      val st = tmp(s"tortp_graph_k$k")
      copyDir(base, st)
      crashAt(k) { GraphStream.pruneRankEpochs(spark, st) }
      assert(canon(GraphStream.latestRanks(spark, st)) == refRanks,
        s"serving ranks damaged by prune crash at step $k")
      GraphStream.pruneRankEpochs(spark, st)
      assert(partitionDirs(s"$st/ranks").size == 2,
        "re-run did not converge to keep=2")
      assert(canon(GraphStream.latestRanks(spark, st)) == refRanks)
    }
  }

  // ---- 4. torn-attempt leftovers are replaced wholesale -------------------

  test("a garbage file inside a batch's own partition (torn earlier " +
      "attempt) is replaced wholesale when the batch commits") {
    val refStore = tmp("tortt_ref")
    runAll(hllMember, refStore)
    val ref = hllMember.surfaces(refStore)

    val st = tmp("tortt_hll")
    hllMember.process(hllMember.batches(0), 0L, st)
    val torn = new java.io.File(st, "batch=1")
    assert(torn.mkdirs())
    Files.write(Paths.get(torn.toString, "part-00000-torn.parquet"),
      "this is not parquet".getBytes("UTF-8"))
    hllMember.process(hllMember.batches(1), 1L, st)
    hllMember.process(hllMember.batches(2), 2L, st)
    assert(hllMember.surfaces(st) == ref,
      "torn leftovers survived the dynamic partition overwrite")
    assert(!new java.io.File(torn, "part-00000-torn.parquet").exists(),
      "the garbage file itself must be gone")
  }
}
