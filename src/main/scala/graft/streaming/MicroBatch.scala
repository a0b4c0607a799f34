package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch driver of every streaming twin (SURVEY.md §2.12
  * T1–T2): a checkpointed file source drained with `Trigger.AvailableNow`
  * — every pending file, then stop. Re-running the drain on the same
  * checkpoint processes only files that arrived since, which is the
  * reference's folder watch (`scripts/load_csv_to_cloud.sh` re-run over
  * its log folder, skipping what it already loaded).
  */
object MicroBatch {

  /** Checkpoint `source` at `checkpointDir` and run `body` on each
    * micro-batch with its batch id until nothing is pending. */
  def drain(source: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One (value, path) row per file of `dir`: documents are file-sized
    * (not multi-GB logs), so contents may ride the stream. `path` is
    * `_metadata.file_path`, the form the batch loads key on. */
  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("wholetext", "true").text(dir)
      .select(col("value"), col("_metadata.file_path").as("path"))
}
