package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-window top-k maintenance — the ORDER-STATISTICS member
  * of the sketch-stream family ([[SketchStream]] = quantiles,
  * [[HllStream]] = cardinality, [[CmsStream]] = frequency, this = "the
  * k largest events per event-time window"): each micro-batch appends
  * its OWN per-window top-k rows exactly-once ([[EpochStore]] epoch
  * overwrite), and the reader re-ranks across epochs with the same
  * bounded-heap aggregate ([[graft.functions.TopKPairs]], §2 A14).
  *
  * The merge law is EXACT, not approximate: every member of the global
  * per-window top-k is by definition inside its own epoch's per-window
  * top-k (a pair beaten by k others within one epoch is beaten by those
  * same k others globally), so
  *   topK(∪ epochs' topK rows) ≡ topK(all streamed events)
  * bit-for-bit — ties broken (value DESC, event_id ASC) by the
  * aggregate on both paths. Spec-pinned ([[TopKStreamSpec]]) against a
  * direct batch top-k of the full corpus.
  *
  * Like [[CmsStream]]'s count cells (and unlike [[HllStream]]'s
  * idempotent max-merge), the stored rows are NOT idempotent under
  * out-of-protocol duplication — a replayed event row twice in the
  * store would occupy two top-k slots. Exactly-once rests on the epoch
  * overwrite discipline, which is the point of pinning it in
  * [[EpochStore]] (torture-verified there).
  *
  * At 100 TB: per-batch cost is one map-side-combined bounded-heap
  * aggregate of the batch's own events (exchange = k pairs per window
  * per map partition); the store holds ≤ k rows per window per epoch —
  * KBs per batch, independent of batch size; serving re-ranks
  * (windows × epochs × k) rows, never raw events.
  */
object TopKStream {

  val K = 10

  /** Per-window top-k of `rows` (w_start TIMESTAMP, event_id LONG,
    * value DOUBLE) — ONE definition serves the per-batch write, the
    * merge-on-read, and compaction (that single definition is what
    * makes the merge law structural rather than coincidental). */
  def topOf(rows: DataFrame): DataFrame =
    rows
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .groupBy(col("w_start"))
      .agg(graft.functions.TopKPairs
        .topk(col("value"), col("event_id"), K).as("top"))
      .select(col("w_start"), posexplode(col("top")))
      .select(col("w_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"), col("col.score").as("value"))

  /** Raw events (ts, event_id, value) → the hour-window key frame. */
  def windowed(events: DataFrame): DataFrame =
    events.select(date_trunc("hour", col("ts")).as("w_start"),
      col("event_id"), col("value"))

  /** Watch `eventsDir` for parquet (event_id LONG, ts TIMESTAMP,
    * value DOUBLE); per micro-batch, append the batch's own per-window
    * top-k rows to the store. */
  def run(
      spark: SparkSession,
      eventsDir: String,
      checkpointDir: String,
      storePath: String): StreamingQuery = {
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(eventsDir)
    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, storePath)
    }
  }

  /** One batch: window, bounded-heap top-k, append exactly-once.
    * Public for the replay/merge-law specs and direct drivers. */
  def processBatch(batch: DataFrame, batchId: Long,
      storePath: String): Unit =
    EpochStore.writeEpoch(topOf(windowed(batch)).drop("rank"),
      batchId, storePath)

  /** Merge-on-read: the current per-window top-k across all live
    * epochs — exact vs a batch top-k of everything streamed. */
  def merged(spark: SparkSession, storePath: String): DataFrame =
    topOf(EpochStore.read(spark, storePath))
      .orderBy(col("w_start"), col("rank"))

  /** Compaction: collapse live epochs into one re-ranked partition
    * (readers stay consistent per [[EpochStore.compact]]). */
  def compact(spark: SparkSession, storePath: String): Unit =
    EpochStore.compact(spark, storePath,
      merge = df => topOf(df).drop("rank"))
}
