package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous benchmark decontamination over a document stream — the
  * streaming form of the batch `x_decontamination` recipe: every arriving
  * document is checked for 5-token-gram overlap against a FIXED benchmark
  * gram set, and the sink receives each micro-batch with a per-doc
  * `n_shared` overlap count (0 = clean; a production pipeline filters on
  * it before the training sink).
  *
  * Unlike the dedup streams ([[DedupStream]], [[NearDupStream]],
  * [[SemDedupStream]]) there is NO cross-batch state: the benchmark is
  * fixed when the stream starts, so the operator is a stateless
  * stream-static broadcast join and batch/stream parity is EXACT
  * (spec-pinned — same doc ⇒ same n_shared regardless of which micro-batch
  * carried it, with no ordering effects). That also makes the scale shape
  * trivial: the benchmark gram set is DISTINCT-collapsed once, broadcast to
  * each micro-batch, and the corpus side never shuffles — the same
  * raw-pool-is-the-big-side asymmetry the batch recipe exploits at 100 TB.
  *
  * Gram construction is shared with the batch recipe through
  * [[graft.ext.SpanDedup.distinctGrams]] (the guarded DISTINCT form of the
  * repo-wide span builder), so there is ONE definition of "gram" for
  * batch, stream, and spec.
  */
object DeconStream {

  import graft.ext.SpanDedup.distinctGrams

  /** Start the stream over `docsDir` (wholetext files, one doc per file).
    * `benchmark` must expose a text column named `text`; its gram set is
    * collapsed and localCheckpoint'ed ONCE here, not per batch. The sink
    * receives (path, value, n_shared) per micro-batch.
    */
  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      benchmark: DataFrame,
      n: Int = 5)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import spark.implicits._

    val benchGrams = benchmark
      .select(explode(distinctGrams(col("text"), n)).as("g")).distinct()
      .localCheckpoint(true)

    MicroBatch.drain(MicroBatch.docs(spark, docsDir), checkpointDir) {
      (batch, batchId) =>
        val docs = batch.localCheckpoint(true)
        val hits = docs
          .select($"path", explode(distinctGrams($"value", n)).as("g"))
          .join(broadcast(benchGrams), Seq("g"))
          .groupBy($"path").agg(count(lit(1)).as("n_shared"))
        val flagged = docs.join(hits, Seq("path"), "left")
          .select($"path", $"value",
            coalesce($"n_shared", lit(0L)).as("n_shared"))
        sink(flagged, batchId)
    }
  }
}
