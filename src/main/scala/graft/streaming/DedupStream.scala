package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental exact deduplication over a document stream (north-star
  * dedup pillar, streaming form): new files arrive in a watch folder; only
  * documents whose content hash has never been seen — in this batch or any
  * earlier one — flow to the sink.
  *
  * Shape: the seen-hash STORE is a parquet directory partitioned by
  * `batch=<id>`; each micro-batch
  *
  *  1. hashes its documents (xxhash64 of the raw text — content identity,
  *     not file identity),
  *  2. keeps one row per in-batch hash (lowest path — deterministic),
  *  3. anti-joins the store restricted to `batch < batchId` — re-fired
  *     batches (sink ran, checkpoint commit lost) therefore do NOT see
  *     their own partial writes and re-emit identically instead of
  *     silently dropping their documents,
  *  4. OVERWRITES its own `batch=<id>` partition (idempotent re-fire, no
  *     append duplication), then hands the fresh documents to `sink`.
  *
  * At scale the anti-join is hash-keyed (shuffle on an 8-byte key), the
  * store carries one long per unique document ever seen, and partition
  * pruning keeps re-fired batches from reading their own writes. The
  * file-source checkpoint provides exactly-once file delivery, the
  * batch-partitioned store provides exactly-once hash registration, and
  * sink idempotence is the caller's contract (same as IngestStream).
  */
object DedupStream {

  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storeDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.drain(MicroBatch.docs(spark, docsDir), checkpointDir) {
      (batch, batchId) => processBatch(batch, batchId, storeDir, sink)
    }

  /** One epoch: in-batch winners → anti-join the seen store STRICTLY
    * below this batch ([[EpochStore.readBelow]] — own and later
    * partitions excluded, so a crash-replay recomputes `fresh`
    * bit-identically), register the fresh hashes exactly-once
    * ([[EpochStore.writeEpoch]]), then fire the sink. Public so the
    * crash-point torture spec drives the REAL foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val docs = batch
      .select($"path", $"value", xxhash64($"value").as("content_hash"))
    // one row per in-batch hash, deterministically (lowest path)
    val w = Window.partitionBy($"content_hash").orderBy($"path")
    val inBatchUnique = docs
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")

    val seen = EpochStore.readBelow(spark, storeDir, batchId)
      .map(_.select($"content_hash"))
    val fresh = (seen match {
      case Some(s) => inBatchUnique.join(s, Seq("content_hash"), "left_anti")
      case None    => inBatchUnique
    }).localCheckpoint(true) // pin rows BEFORE the store gains this batch

    EpochStore.writeEpoch(fresh.select($"content_hash"), batchId, storeDir)
    sink(fresh, batchId)
    ()
  }
}
