package graft.streaming

import graft.ext.IvfAnn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental IVF index maintenance — the vector-side mirror of
  * [[IndexStream]]: embeddings arrive in micro-batches and a persisted,
  * cluster-partitioned ANN index GROWS with them, staying searchable
  * between batches, without retraining.
  *
  * The train/add split (standard IVF practice): the codebook is built
  * ONCE offline ([[IvfAnn.build]]/`buildAuto` over a seed corpus) and is
  * FIXED here — each batch runs the same broadcast-codebook assignment
  * kernel as the batch path ([[IvfAnn.assign]], shared `centroidSims`,
  * same tie-break), so an incrementally-extended index holds EXACTLY the
  * rows a batch assignment of the full corpus against the same codebook
  * would produce (spec-pinned, including search-result parity). The
  * accepted drift: vectors far from the seed distribution still land in
  * their nearest EXISTING cell — cells fatten rather than split, and
  * recall/latency degrade gracefully until an offline retrain + rewrite
  * (the same rebuild the sealed path always was). Centroid count follows
  * the seed corpus, not the stream.
  *
  * At-rest layout: `indexPath/cluster=C/batch=B/` — cluster outermost so
  * probe-time partition pruning keeps reading only `nProbe` clusters'
  * directories as the index grows; the inner `batch` key exists for
  * exactly-once, not for readers. Each batch writes with DYNAMIC
  * partition overwrite, so a crash-replayed batch REPLACES its own
  * (cluster, batch) partitions instead of appending duplicates: the
  * at-rest index is exactly-once under any single-writer crash/replay
  * schedule, with no commit marker and no query-side dedup (contrast
  * [[IndexStream]], whose bucketed table cannot partition-overwrite and
  * pays a `distinct()` at query time instead).
  *
  * At 100 TB: per-batch cost is the batch's own assignment (broadcast
  * codebook, zero shuffle) + one partitioned write; the existing index
  * is never read or rewritten. Search I/O stays proportional to probed
  * clusters via partition pruning, at any index size.
  */
object AnnStream {

  /** Watch `vecsDir` for parquet files with (vec_id LONG, ev
    * ARRAY<DOUBLE>); per micro-batch, assign against the fixed
    * `centroids` codebook and extend the index at `indexPath`. */
  def run(
      spark: SparkSession,
      vecsDir: String,
      checkpointDir: String,
      indexPath: String,
      centroids: Array[(Int, Seq[Double])]): StreamingQuery = {

    val cents = codebook(centroids)
    val stream = spark.readStream
      .schema("vec_id LONG, ev ARRAY<DOUBLE>")
      .parquet(vecsDir)
    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, indexPath, cents)
    }
  }

  /** One epoch: assign the batch against the fixed codebook and append
    * the rows exactly-once — the shared [[EpochStore]] write discipline
    * with `cluster` as the OUTER partition key, so probe-time pruning
    * keeps reading only nProbe clusters' directories as the index
    * grows. Public so the crash-point torture spec drives the REAL
    * foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      cents: Array[Array[Double]]): Unit =
    EpochStore.writeEpoch(
      IvfAnn.assign(batch.localCheckpoint(true), cents),
      batchId, indexPath,
      leadingPartitionCols = Seq("cluster"))

  /** Reattach the extended index for [[IvfAnn.searchJoin]]/`search`:
    * drops the writer-private `batch` partition key; `cluster` partition
    * pruning still reaches the scan (spec-asserted). */
  def readExtended(spark: SparkSession, indexPath: String,
      centroids: Array[(Int, Seq[Double])]): IvfAnn.Index =
    IvfAnn.Index(
      spark.read.parquet(indexPath).select("vec_id", "ev", "cluster"),
      centroids)

  /** Centroid rows (as persisted/driver-held) to the dense codebook
    * array keyed by cluster id. */
  private def codebook(centroids: Array[(Int, Seq[Double])]): Array[Array[Double]] = {
    val k = centroids.map(_._1).max + 1
    val cs = Array.ofDim[Array[Double]](k)
    centroids.foreach { case (c, v) => cs(c) = v.toArray }
    cs
  }
}
