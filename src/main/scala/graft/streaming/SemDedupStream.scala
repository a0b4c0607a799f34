package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental SEMANTIC deduplication over an embedding stream — the
  * streaming form of [[graft.ext.SemDedup]], completing batch/streaming
  * symmetry for the whole dedup pillar (exact, MinHash, SimHash, and now
  * semantic all have both forms). A new vector reaches the sink only if
  * no KEPT vector in the same quantizer cell — this batch or any earlier
  * one — has cosine ≥ `tau` with it.
  *
  * The quantizer (IVF codebook) is FIXED at stream start and supplied by
  * the caller, typically from an offline [[graft.ext.IvfAnn.build]] over
  * a bootstrap corpus: a streaming operator cannot re-derive k ∝ n
  * because n is unbounded — the stationary-codebook assumption is the
  * streaming analogue of the batch auto-k rule, and re-clustering is a
  * periodic OFFLINE job that starts a new stream generation (new
  * checkpoint + store), not an in-stream mutation.
  *
  * Same exactly-once skeleton as [[DedupStream]]/[[NearDupStream]]:
  * file-source checkpoint, `batch=<id>`-partitioned parquet store,
  * cross-batch comparison strictly below the current batch id, own
  * partition overwritten on re-fire. Near-dup-specific choices mirror
  * the batch rule and NearDupStream:
  *
  *  - **Within a batch**: a vector is suppressed iff ANY
  *    lexicographically-smaller path in the same cell is ≥ tau similar —
  *    the deterministic streaming analogue of the batch any-similar-
  *    lower-id rule (suppressors may themselves be suppressed;
  *    transitive over-suppression accepted, no iteration in the hot
  *    path).
  *  - **Only KEPT vectors register.** The store holds (cluster, path,
  *    vec) of canonical vectors, so it is bounded by canonical count,
  *    not arrivals, and the cross-batch check is a cluster-keyed
  *    equi-join + per-pair cosine — the SemDedup candidate shape, never
  *    all-pairs. This makes multi-batch verdicts DIVERGE from the batch
  *    operator by design (spec-pinned): the batch rule suppresses on any
  *    lower-id similar vector INCLUDING dropped ones, while a similarity
  *    chain split across batches compares only against kept vectors — a
  *    vector similar only to a previously-DROPPED vector is kept here.
  *    Registering dropped vectors too would make the store grow with
  *    arrivals instead of canonicals, the wrong trade at 100 TB.
  *
  * At 100 TB the store join stays cluster-keyed (matches IvfAnn's
  * at-rest partitioning) and per-batch work is Σ_cell batch_c ×
  * (batch_c + store_c) — bounded by the codebook granularity exactly as
  * the batch operator's scaladoc prescribes.
  */
object SemDedupStream {

  /** Derive the stream's FIXED codebook from a bootstrap corpus under the
    * batch auto-k rule ([[graft.ext.SemDedup.autoK]]): k =
    * max(8, ceil(n / targetClusterSize)) md5-ordered seeds, lloydIters =
    * 0 — exactly what the batch incremental auto overload derives over
    * the same frame, so stream and batch verdicts agree codebook-for-
    * codebook (spec-pinned). This is the offline re-sizing rule the
    * scaladoc above prescribes: as the corpus grows, a periodic offline
    * job re-bootstraps over a fresh sample (n grows ⇒ k grows ⇒ per-cell
    * work stays constant) and starts a new stream generation — the
    * streaming analogue of batch auto-k, without in-stream codebook
    * mutation. */
  def bootstrapCodebook(bootstrap: org.apache.spark.sql.DataFrame,
      targetClusterSize: Int = graft.ext.SemDedup.DefaultTargetClusterSize)
      : Array[Array[Double]] = {
    import org.apache.spark.sql.functions.col
    // barrier: count and seeding must see the same rows (SemDedup auto
    // overload rationale)
    val ec = bootstrap.select(col("vec_id"), col("ev")).localCheckpoint(true)
    val k = graft.ext.SemDedup.autoK(ec.count(), targetClusterSize)
    graft.ext.IvfAnn.build(ec, k, lloydIters = 0)
      .centroids.sortBy(_._1).map(_._2.toArray)
  }

  /** Start the stream over `vecsDir` (one text file per vector:
    * whitespace-separated doubles). `centroids` is the fixed codebook
    * (cluster id = array index); `sink` receives the KEPT (path, vec)
    * rows per micro-batch with their batch id.
    */
  def run(
      spark: SparkSession,
      vecsDir: String,
      checkpointDir: String,
      storeDir: String,
      centroids: Array[Array[Double]],
      tau: Double)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.drain(MicroBatch.docs(spark, vecsDir), checkpointDir) {
      (batch, batchId) =>
        processBatch(batch, batchId, storeDir, centroids, tau, sink)
    }

  /** Auto-k entry point: codebook derived from `bootstrap` under the
    * batch auto-k rule via [[bootstrapCodebook]], then the explicit-
    * codebook stream above. The bootstrap frame needs (vec_id, ev)
    * columns — typically the offline corpus sample the deployment
    * re-clusters periodically. */
  def run(
      spark: SparkSession,
      vecsDir: String,
      checkpointDir: String,
      storeDir: String,
      bootstrap: DataFrame,
      targetClusterSize: Int,
      tau: Double)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    run(spark, vecsDir, checkpointDir, storeDir,
      bootstrapCodebook(bootstrap, targetClusterSize), tau)(sink)

  /** One epoch: parse + quantize → in-batch suppression → anti-match
    * kept vectors registered STRICTLY below this batch
    * ([[EpochStore.readBelow]] — own/later partitions excluded, so a
    * crash-replay recomputes `kept` bit-identically), register
    * exactly-once ([[EpochStore.writeEpoch]]), fire the sink. Public so
    * the crash-point torture spec drives the REAL foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      centroids: Array[Array[Double]], tau: Double,
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cosine = graft.queries.Similarity.cosine _
    // parse + quantize once per doc; localCheckpoint pins the
    // assignment for its three consumers (in-batch self-join sides,
    // store registration)
    val parsed = batch.select($"path",
      transform(split(trim($"value"), "\\s+"), _.cast("double"))
        .as("ev"))
    val assigned = graft.ext.IvfAnn.assignKeyed(parsed, centroids)
      .localCheckpoint(true)

    // in-batch: any >= tau neighbor with a smaller path suppresses
    val other = assigned.select($"cluster", $"path".as("o_path"),
      $"ev".as("o_ev"))
    val inBatch = assigned.join(other, Seq("cluster"))
      .filter($"o_path" < $"path" &&
        round(cosine($"ev", $"o_ev"), 4) >= tau)
      .select($"path")

    // cross-batch: any >= tau KEPT vector from a strictly earlier
    // batch, same cell
    val prior = EpochStore.readBelow(spark, storeDir, batchId) match {
      case Some(p) => assigned
        .join(p.select($"cluster", $"ev".as("p_ev")), Seq("cluster"))
        .filter(round(cosine($"ev", $"p_ev"), 4) >= tau)
        .select($"path")
      case None => spark.emptyDataset[String].toDF("path")
    }

    val suppressed = inBatch.union(prior).distinct()
    val kept = assigned.join(suppressed, Seq("path"), "left_anti")
      .localCheckpoint(true) // pin BEFORE the store gains this batch

    EpochStore.writeEpoch(
      kept.select($"cluster", $"path", $"ev"), batchId, storeDir)
    sink(kept.select($"path", $"ev"), batchId)
    ()
  }
}
