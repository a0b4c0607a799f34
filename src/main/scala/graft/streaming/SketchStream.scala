package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming quantile-sketch maintenance — the incremental form of
  * x_quantile_sketch, and the payoff of choosing a MERGEABLE sketch:
  * because the HdrHistogram sketch is a commutative (window, bucket)
  * count table, the streaming store needs NO read-modify-write at all.
  * Each micro-batch appends its own cells under `batch=B` (dynamic
  * partition overwrite — the AnnStream exactly-once discipline: a
  * crash-replayed batch replaces its own partition), and the reader
  * MERGES ON READ with one groupBy-sum over the cell store. Streamed
  * cells are therefore bit-identical to a batch sketch of the full data
  * by commutativity — spec-pinned, not approximate.
  *
  * At 100 TB: per-batch cost is one map-side-combined groupBy of the
  * batch's own rows (cells ≤ 64·32 per window — the write is KBs no
  * matter the batch size); the store grows by one tiny partition per
  * batch and compacts trivially (re-write the groupBy-sum under one
  * partition); serving cost is a scan of cell rows, not data rows.
  */
object SketchStream {

  /** Sketch cells for one frame of (w_start TIMESTAMP, v LONG ≥ 0):
    * the x_quantile_sketch bucketing — power-of-two buckets with 5
    * mantissa bits, pure integer. ONE definition with the batch gate
    * (any drift would break the spec's streamed ≡ batch pin). v = 0 is
    * in-domain (lb = 0; nothing downstream divides by a value); only
    * negatives raise — see FixedPoint.requireNonNegative. */
  def cells(frame: DataFrame): DataFrame =
    frame
      .withColumn("v", graft.functions.FixedPoint.requireNonNegative(
        col("v"), "SketchStream.cells"))
      .withColumn("p", expr(
        "shiftleft(cast(1 as bigint), greatest(length(bin(v)) - 6, 0))"))
      .select(col("w_start"), expr("(v div p) * p").as("lb"))
      .groupBy(col("w_start"), col("lb")).agg(count(lit(1)).as("c"))

  /** Watch `eventsDir` for parquet (ts TIMESTAMP, value DOUBLE); per
    * micro-batch, append the batch's day-window cells to the store. */
  def run(
      spark: SparkSession,
      eventsDir: String,
      checkpointDir: String,
      storePath: String): StreamingQuery = {
    val stream = spark.readStream
      .schema("ts TIMESTAMP, value DOUBLE")
      .parquet(eventsDir)
    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, storePath)
    }
  }

  /** One batch: cents-quantize, bucket, append cells exactly-once
    * ([[EpochStore.writeEpoch]] — the shared replay discipline).
    * Public for the replay-idempotence spec and direct drivers. */
  def processBatch(batch: DataFrame, batchId: Long,
      storePath: String): Unit =
    EpochStore.writeEpoch(
      cells(batch.select(date_trunc("day", col("ts")).as("w_start"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))),
      batchId, storePath)

  /** The count-merge: cell-wise sum — commutative, so any partitioning
    * of the stream into epochs yields the same cells. ONE definition
    * serves merge-on-read and compaction. */
  private def mergeCells(df: DataFrame): DataFrame =
    df.groupBy(col("w_start"), col("lb")).agg(sum(col("c")).as("c"))

  /** Merge-on-read: the current sketch — cell-wise sum across the live
    * epoch partitions ([[EpochStore.read]], compaction-safe). Identical
    * to a batch sketch of all streamed rows. */
  def merged(spark: SparkSession, storePath: String): DataFrame =
    mergeCells(EpochStore.read(spark, storePath))

  /** Compaction: collapse the live epoch partitions into one summed cell
    * partition ([[EpochStore.compact]]). Concurrent READERS are safe —
    * the store's read rule excludes absorbed partitions the moment the
    * compacted one is committed, so the window where both copies of a
    * cell exist on disk can no longer double-count (the r14 exposure).
    * Still single-compactor, and not while a writer holds the store. */
  def compact(spark: SparkSession, storePath: String): Unit =
    EpochStore.compact(spark, storePath, merge = mergeCells)

  /** Per-window quantile estimates off the merged sketch (the
    * x_quantile_sketch extraction: smallest bucket whose cumulative
    * count reaches ceil(q·n); one-sided, rel error < 2^-5). */
  def quantiles(spark: SparkSession, storePath: String,
      qpcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = merged(spark, storePath)
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("w_start"))
          .orderBy(col("lb"))))
    val qf = spark.createDataFrame(qpcts.map(Tuple1(_))).toDF("qpct")
    val tgt = sk.groupBy(col("w_start")).agg(sum(col("c")).as("n"))
      .crossJoin(broadcast(qf))
      .withColumn("target", expr("(n * qpct + 99) div 100"))
    tgt.join(sk, Seq("w_start")).filter(col("cum") >= col("target"))
      .groupBy(col("w_start"), col("qpct"), col("n"))
      .agg(min(col("lb")).as("est_cents"))
      .orderBy(col("w_start"), col("qpct"))
  }
}
