package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Count-Min maintenance — the FREQUENCY member of the
  * sketch-stream family, completing it ([[SketchStream]] = quantiles,
  * [[HllStream]] = cardinality, this = term frequency / heavy hitters):
  * per-term count estimates over a document stream with NO stateful
  * operator and NO read-modify-write. Each micro-batch appends its own
  * (d, cell, cc) counter cells exactly-once ([[EpochStore]] dynamic
  * partition overwrite under `batch=B`); the reader merges by cell-wise
  * SUM — commutative, so streamed cells are bit-identical to a batch
  * CMS of the full corpus (spec-pinned, the x_cms_heavy_hitters cell
  * definition via ONE shared hash, `Curation.sketchCell`).
  *
  * Count cells are NOT idempotent under out-of-protocol reprocessing
  * (unlike [[HllStream]]'s max-merge, duplicated data inflates a sum —
  * spec-pinned as the documented CONTRAST): exactly-once here rests
  * entirely on the epoch-overwrite replay discipline, which is exactly
  * why [[EpochStore]] pins it in one place.
  *
  * At 100 TB: per-batch cost is one map-side-combined groupBy of the
  * batch's own terms down to ≤ depth×width (4×1024) cells — the write
  * is KBs no matter the batch size; serving reads cell rows only.
  */
object CmsStream {

  val Depth = 4
  val Width = 1024

  /** CMS counter cells for one frame of (term STRING) occurrence rows —
    * the x_cms_heavy_hitters cell pipeline: count per term, fan out
    * over depths, hash to (d, cell), sum. ONE definition with the batch
    * gate via the shared [[graft.queries.Curation.sketchCell]]. */
  def cells(terms: DataFrame): DataFrame =
    terms
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .select(explode(sequence(lit(0), lit(Depth - 1))).as("d"),
        col("term"), col("c"))
      .select(col("d"),
        graft.queries.Curation.sketchCell(col("d"), col("term"), Width)
          .as("cell"),
        col("c"))
      .groupBy(col("d"), col("cell")).agg(sum(col("c")).as("cc"))

  /** Watch `docsDir` for parquet (doc_id LONG, text STRING); per
    * micro-batch, append the batch's counter cells to the store. */
  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storePath: String): StreamingQuery = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(docsDir)
    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, storePath)
    }
  }

  /** One batch: tokenize, build the batch's own cells, append
    * exactly-once ([[EpochStore.writeEpoch]]). Public for the
    * replay-idempotence spec and direct drivers. */
  def processBatch(batch: DataFrame, batchId: Long,
      storePath: String): Unit =
    EpochStore.writeEpoch(
      cells(batch.filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("term"))),
      batchId, storePath)

  /** The count-merge: cell-wise sum — commutative, so any partitioning
    * of the stream into epochs yields the same cells. ONE definition
    * serves merge-on-read and compaction. */
  private def mergeCells(df: DataFrame): DataFrame =
    df.groupBy(col("d"), col("cell")).agg(sum(col("cc")).as("cc"))

  /** Merge-on-read: the current sketch — cell-wise sum across the live
    * epoch partitions ([[EpochStore.read]], compaction-safe). Identical
    * to a batch CMS of all streamed documents. */
  def merged(spark: SparkSession, storePath: String): DataFrame =
    mergeCells(EpochStore.read(spark, storePath))

  /** Compaction: collapse the live epochs into one summed cell
    * partition ([[EpochStore.compact]] — compaction-safe for readers;
    * single-compactor, not while a writer holds the store). */
  def compact(spark: SparkSession, storePath: String): Unit =
    EpochStore.compact(spark, storePath, merge = mergeCells)

  /** Point-frequency estimates for `terms` off the merged sketch: the
    * x_cms_heavy_hitters extraction — min over the depth cells each
    * term hashes to. est ≥ true count ALWAYS (the CMS one-sided
    * guarantee); a term never streamed reads the collision mass of its
    * cells. The broadcast hint goes on the MERGED STORE — the build
    * (right) side of the left join, the only side a broadcast-hash plan
    * can build for left-outer (a hint on the preserved side is dropped
    * with a HintErrorLogger warning, r16 verdict item 6) — and it is the
    * side whose size is an INVARIANT: Depth×Width cells (≤ 4096 rows)
    * regardless of corpus size, the whole point of a CMS. */
  def estimates(spark: SparkSession, storePath: String,
      terms: Seq[String]): DataFrame = {
    val qf = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
    qf
      .select(col("term"), explode(sequence(lit(0), lit(Depth - 1))).as("d"))
      .withColumn("cell",
        graft.queries.Curation.sketchCell(col("d"), col("term"), Width))
      .join(broadcast(merged(spark, storePath)), Seq("d", "cell"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cc"), lit(0L))).as("cms_est"))
      .orderBy(col("term"))
  }
}
