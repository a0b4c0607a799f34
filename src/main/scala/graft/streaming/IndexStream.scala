package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental inverted-index maintenance — the streaming form of
  * [[graft.sources.InvertedIndex.buildPostings]]: the corpus arrives in
  * micro-batches and the postings layout GROWS with it, staying queryable
  * between batches, instead of being rebuilt from the full corpus each
  * time.
  *
  * The layout change that makes append sound: live postings carry
  * (term, doc_id, tf, dl) — per-document facts only. The sealed layout's
  * denormalized df is corpus-level and would go stale on the first
  * append; here df moves to query time, where the bucket-pruned scan of
  * the query terms' postings recomputes it exactly
  * ([[graft.sources.InvertedIndex.bm25TopKLive]]). Corpus stats are a
  * one-row-per-batch `<table>_stats` append (batch_id, nd, sum_dl); a
  * query sums them (tiny — one row per micro-batch ever ingested).
  *
  * Each batch appends through the SAME `bucketBy(term).sortBy(term)`
  * writer as the sealed build, so the catalog bucket spec is preserved
  * and every appended file lands in its term's bucket — the query-side
  * `SelectedBucketsCount` pruning keeps working as the table grows (each
  * batch adds at most `buckets` files; a compaction rewrite is the same
  * `saveAsTable` Overwrite, offline).
  *
  * Exactly-once at query time, at-least-once at rest: the file-source
  * checkpoint is the spine (a file's CONTENT is read once per committed
  * batch); the `foreachBatch` body is guarded by a batch_id probe of the
  * stats table, whose row is written LAST as the batch's commit marker.
  * A crash AFTER the marker ⇒ replay skips the batch entirely; a crash
  * BEFORE it ⇒ replay re-appends the batch's postings — as EXACT
  * duplicates (deterministic tokenization of the same checkpointed
  * files), which [[graft.sources.InvertedIndex.bm25TopKLive]] collapses
  * with a `distinct()` over the bucket-pruned slice, and the stats row
  * still lands exactly once. Query results are therefore exactly-once
  * under any single-writer crash/replay schedule.
  *
  * At 100 TB: ingest cost per batch is the batch's own token explode +
  * two batch-local aggregations (never touches the existing index);
  * query cost tracks the query terms' postings, not corpus bytes — the
  * same amortization argument as the sealed layout, now without the
  * full-corpus rebuild on every corpus extension.
  */
object IndexStream {

  /** Watch `docsDir` for parquet files with (doc_id LONG, text STRING);
    * per micro-batch, tokenize and append live postings to `table` and a
    * (batch_id, nd, sum_dl) row to `<table>_stats`. Tokenization (split
    * on single space, drop empty) is the SAME expression as the sealed
    * build and the `x_bm25_topk` QueryDef.
    */
  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      table: String,
      buckets: Int): StreamingQuery = {

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(docsDir)

    MicroBatch.drain(stream, checkpointDir) { (batch, batchId) =>
      val statsTable = table + "_stats"
      val committed = spark.catalog.tableExists(statsTable) &&
        !spark.table(statsTable)
          .filter(col("batch_id") === batchId).isEmpty
      if (!committed) {
        // one tokenization of the batch: tf is the materialization
        // barrier, dl (= sum of tf per doc) derives from it — the same
        // single-pass shape as the sealed buildPostings
        val tf = batch.localCheckpoint(true)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        val postings = tf
          .join(dl, "doc_id")
          .select("term", "doc_id", "tf", "dl")
        postings.write
          .bucketBy(buckets, "term").sortBy("term")
          .mode(SaveMode.Append).format("parquet").saveAsTable(table)
        // stats row LAST: it doubles as the idempotence commit marker
        dl.agg(lit(batchId).as("batch_id"), count(lit(1)).as("nd"),
            sum(col("dl")).as("sum_dl"))
          .write.mode(SaveMode.Append).format("parquet")
          .saveAsTable(statsTable)
        // the appends run through the micro-batch's CLONED session
        // (batch's lineage), whose saveAsTable refreshes only the
        // clone's relation cache — invalidate the outer session's too,
        // or its readers keep the pre-append file listing
        spark.catalog.refreshTable(table)
        spark.catalog.refreshTable(statsTable)
      }
    }
  }
}
