package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental SENTENCE-level deduplication over a document stream — the
  * streaming twin of the `d_sentence_dedup` batch gate (CCNet/RefinedWeb
  * line dedup): documents arrive in a watch folder; each is split into
  * consecutive `window`-token sentences, and a sentence instance reaches
  * the sink only if its hash was never seen — earlier in this batch
  * (first (path, idx) wins, deterministically) or in ANY earlier batch.
  * The sink receives the REBUILT documents: per path, the surviving
  * sentences re-joined in original order, plus kept/total counts — what
  * a training pipeline would actually write out after line dedup.
  *
  * Store/exactly-once shape is identical to [[DedupStream]] (parquet
  * seen-store partitioned by `batch=<id>`, anti-join strictly-earlier
  * partitions, overwrite own partition, localCheckpoint before the store
  * gains the batch), so re-fired batches re-emit identically. The only
  * difference is granularity: the store carries one md5 per unique
  * SENTENCE ever seen, and the anti-join key is that 32-hex hash. At
  * scale this is the same 16-byte-keyed shuffle as the batch gate, with
  * the store the thing to bucket by hash.
  */
object SentenceDedupStream {

  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storeDir: String,
      window: Int = 10)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.drain(MicroBatch.docs(spark, docsDir), checkpointDir) {
      (batch, batchId) => processBatch(batch, batchId, storeDir, window, sink)
    }

  /** One epoch: sentence-split + hash → in-batch winners → anti-join
    * the seen store STRICTLY below this batch ([[EpochStore.readBelow]]
    * — own/later partitions excluded, so a crash-replay recomputes
    * `kept` bit-identically), register the surviving hashes
    * exactly-once ([[EpochStore.writeEpoch]]), then rebuild + emit the
    * per-doc output. Public so the crash-point torture spec drives the
    * REAL foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      window: Int, sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val sents = batch
      .select($"path", split($"value", " ").as("toks"))
      .select($"path", $"toks", size($"toks").as("n"))
      .select($"path",
        posexplode(sequence(lit(0), $"n" - 1, lit(window)))
          .as(Seq("sidx", "start")),
        $"toks")
      .select($"path", $"sidx",
        array_join(slice($"toks", $"start" + 1, lit(window)), " ")
          .as("sentence"))
      .withColumn("h", md5($"sentence"))
    // in-batch winner per hash: first (path, sidx) — deterministic
    val w = Window.partitionBy($"h").orderBy($"path", $"sidx")
    val withWin = sents
      .withColumn("rn", row_number().over(w))
    val seen = EpochStore.readBelow(spark, storeDir, batchId)
      .map(_.select($"h"))
    // an instance survives iff it IS the in-batch winner AND its hash
    // is absent from every earlier batch's store partition
    val kept = (seen match {
      case Some(s) =>
        withWin.filter($"rn" === 1)
          .join(s, Seq("h"), "left_anti")
      case None => withWin.filter($"rn" === 1)
    }).localCheckpoint(true) // pin BEFORE the store gains this batch

    EpochStore.writeEpoch(kept.select($"h"), batchId, storeDir)

    // rebuild documents from surviving sentences, original order;
    // docs whose every sentence was seen before emit with kept = 0
    // and empty text (the caller's drop/keep policy reads the count).
    // Join on the INSTANCE (h, path, sidx), not the hash alone — a
    // losing in-batch instance shares the winner's hash and must not
    // inherit its survival
    val perDoc = sents
      .join(kept.select($"h", $"path", $"sidx", lit(1).as("keep")),
        Seq("h", "path", "sidx"), "left")
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sentences"),
        sum(when($"keep".isNotNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"keep".isNotNull, struct($"sidx", $"sentence")))),
            x => x("sentence")),
          " ").as("text_dedup"))
    sink(perDoc, batchId)
    ()
  }
}
