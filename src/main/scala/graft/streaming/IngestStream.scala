package graft.streaming

import graft.parse.{EcjPipeline, LogPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental ingest (SURVEY.md §2.12 T1–T3): the reference's folder-watch +
  * size-threshold-flush shell loop (scripts/load_csv_to_cloud.sh:107-148)
  * re-expressed as ONE Structured Streaming query:
  *
  *  - T1 new-file detection: the streaming file source's checkpoint replaces
  *    the grep/SQL-count dedup — a file is processed exactly once;
  *  - T2 flush unit: the micro-batch replaces the 500 MB CSV buffer;
  *    [[MicroBatch.drain]] runs everything pending, then stops; re-running
  *    it on the same checkpoint picks up only the files that arrived since;
  *  - T3 exactly-once: checkpoint + idempotent `foreachBatch` (batchId guard
  *    or upsert sink) replaces the reserve-id/sentinel-delete dance.
  */
object IngestStream {

  /** Watch `logDir` for Clojush logs; per micro-batch, parse and hand the
    * four tables to `sink`. Runs until no files remain.
    *
    * The stream carries file LISTINGS, not file contents
    * ([[listingStream]], shared with [[runEcj]]). The exactly-once spine
    * stays the file-source checkpoint; each micro-batch's listing runs
    * through the SAME body as the batch `load`
    * (`LogPipeline.tablesFromStatuses`, whose file dispatch
    * `LogPipeline.dispatch` both formats share): an oversized log in the
    * watch folder parses chunked (BigLogParse) instead of materializing as
    * one multi-GB wholetext row — the skew/OOM door the previous
    * content-carrying source documented as an open caveat.
    *
    * @param initialProblemDim seed (problem_name, problem_id) rows, e.g.
    *        read back from the dimension table before a re-run, so ids
    *        stay stable across PROCESS restarts too (within one run the
    *        dictionary is threaded batch-to-batch automatically)
    */
  def run(
      spark: SparkSession,
      logDir: String,
      checkpointDir: String,
      cfg: LogPipeline.LoadConfig = LogPipeline.LoadConfig(),
      initialProblemDim: Option[DataFrame] = None)(
      sink: (LogPipeline.LoadedTables, Long) => Unit): StreamingQuery = {
    // problem dictionary accumulated across micro-batches (get-or-create,
    // reference problem_data map): same name → same id in every batch, new
    // names extend past the max. Threaded DRIVER-SIDE as a plain Seq —
    // name-cardinality tiny by contract — so per-batch get-or-create costs
    // zero Spark jobs (the DataFrame arm cost 3-4 tiny jobs per batch).
    // foreachBatch bodies run strictly sequentially, so a var is race-free.
    var dimSeq: Seq[(String, Long)] = initialProblemDim
      .map(_.select("problem_name", "problem_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
      .getOrElse(Nil)

    listingStream(spark, logDir, checkpointDir) { (statuses, batchId) =>
      // the file-count drift guard also catches a listed-but-unparsed file
      // loudly (e.g. deleted between the source's listing and this batch's
      // read — logs are immutable by contract, so that is corruption, not churn)
      val (tables, nextDim) = LogPipeline.tablesFromStatuses(spark, statuses,
        cfg.baseId + batchId * idWindow, cfg, dimSeq, prelisted = None)
      dimSeq = nextDim
      // the cached per-batch Dataset must not outlive the batch — over a
      // many-batch drain an un-released cache grows with every batch
      try sink(tables, batchId) finally tables.release()
    }
  }

  /** Streaming twin of `EcjPipeline.loadGenerations` (the reference's
    * multi-GB cluster-folder stat workload): watch `statDir` for ECJ stat
    * files, parse each micro-batch into generations EAV and hand it to
    * `sink`. Same listing stream as [[run]] and the same file dispatch as
    * the batch path (`EcjPipeline.gensFromStatuses`) — an oversized stat
    * file parses chunked (BigLogParse.ecjGenerations) with exactly-once
    * from the file-source checkpoint. Expids are unique across batches via
    * the batchId window.
    */
  def runEcj(
      spark: SparkSession,
      statDir: String,
      checkpointDir: String,
      baseId: Long = 0L,
      bigFileBytes: Long = LogPipeline.LoadConfig().bigFileBytes)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    listingStream(spark, statDir, checkpointDir) { (statuses, batchId) =>
      sink(EcjPipeline.gensFromStatuses(spark, statuses,
        baseId + batchId * idWindow, bigFileBytes), batchId)
    }

  /** The listing-only file stream both watchers share: a `binaryFile`
    * source projected to (path, length, modificationTime) — column pruning
    * reaches the scan, so bytes are never read by the source (BinaryFile
    * only opens a file when `content` is in the required schema). Each
    * micro-batch reaches `onBatch` as a driver-side (path, size,
    * mtimeMillis) listing sorted by path, with its batchId; binaryFile's
    * `path` column is Hadoop's unescaped `Path.toString`, so
    * `LogPipeline.renderPath` turns it into the `_metadata.file_path` form
    * the id map must match. [[MicroBatch.drain]] runs it.
    */
  private def listingStream(
      spark: SparkSession,
      dir: String,
      checkpointDir: String)(
      onBatch: (Seq[(String, Long, Long)], Long) => Unit): StreamingQuery = {
    import spark.implicits._
    val listing = spark.readStream
      .format("binaryFile")
      // binaryFile's own fixed schema — the streaming source demands it
      // spelled out; `content` is pruned away below and therefore never read
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dir)
      .select($"path", $"length", $"modificationTime")
    MicroBatch.drain(listing, checkpointDir) { (batch, batchId) =>
      // the batch frame IS the listing (metadata-only rows): one row per
      // new file; no maxFilesPerTrigger is set, so a backlog is one batch
      val statuses = batch.collect().map { r =>
        (LogPipeline.renderPath(new org.apache.hadoop.fs.Path(r.getString(0))),
          r.getLong(1), r.getTimestamp(2).getTime)
      }
      onBatch(statuses.distinct.sortBy(_._1).toSeq, batchId)
    }
  }

  /** Ids are unique across batches by offsetting with the batchId
    * (deterministic per batch: path-ordered). The per-batch id window is
    * 1e12: a backlog drained by AvailableNow is one micro-batch, so the
    * window must exceed any plausible file count — at 1e12 ids per batch,
    * Long overflows only after ~9.2M batches (a re-run drain every 10 s
    * for years).
    */
  private val idWindow = 1000000000000L

  /** Event-time windowed streaming aggregation (T4): watermarked tumbling
    * count per event_type — the streaming twin of the batch-oracle-checked
    * `t4_tumbling_hour` query.
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Event-time SESSION windows (T4, gap-based): watermarked
    * session_window count per user — the streaming twin of the
    * oracle-checked `t4_session` batch gate (same expression, same gap).
    * Sessions are merge-able state: an event landing within `gap` of an
    * open session extends it, and the session only emits once the
    * watermark passes its end — so cross-micro-batch session stitching is
    * the engine's session-state merge, not caller logic. State per key is
    * one open session row, evicted at watermark — bounded by active
    * users × gap, never stream history.
    */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"), col("n_events"))

  /** Stream-stream interval join: attribute each view to every click by the
    * same user within `gap` AFTER it — the streaming twin of the
    * oracle-checked `t_attribution` batch query (which additionally keeps
    * only the first click per view; first-match selection is an
    * arrival-order-dependent dedup in a stream, so the streaming contract
    * is the attributed PAIR SET, and its spec pins parity against the batch
    * join's pre-first-match pairs).
    *
    * Both sides are watermarked and the join condition carries the time
    * range, so Spark derives state-eviction bounds: a buffered view can be
    * dropped once the click watermark passes view_ts + gap, and a buffered
    * click once the view watermark passes click_ts — state is bounded by
    * watermark × rate, never the stream's history. The equi part of the
    * condition (user_id) keys the shuffle exactly like the batch join.
    *
    * Inputs: views(view_id, user_id, view_ts), clicks(click_id, user_id,
    * click_ts) — any source, batch or streaming (unit: both streaming, fed
    * through file sources across micro-batches).
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      watermark: String = "1 hour", gap: String = "30 minutes"): DataFrame = {
    val v = views.withWatermark("view_ts", watermark).alias("v")
    val c = clicks.withWatermark("click_ts", watermark).alias("c")
    v.join(c, expr(
      s"""v.user_id = c.user_id
          AND c.click_ts > v.view_ts
          AND c.click_ts <= v.view_ts + interval $gap"""))
      .select(col("v.view_id"), col("v.user_id"), col("v.view_ts"),
        col("c.click_id"), col("c.click_ts"))
  }

  /** LEFT-OUTER stream-stream attribution: every view emits — joined to
    * its in-gap clicks when they exist, or once with NULL click columns
    * when none arrive. The unmatched row cannot emit eagerly (a matching
    * click may still be in flight), so the engine holds the view in
    * state and emits the NULL form only when the click watermark passes
    * view_ts + gap — conversion-FAILURE detection ("views that never
    * clicked") with the same bounded state as the inner form. Same
    * keyed-shuffle shape; the only addition is the watermark-gated NULL
    * emission.
    */
  def attributionJoinLeft(views: DataFrame, clicks: DataFrame,
      watermark: String = "1 hour", gap: String = "30 minutes"): DataFrame = {
    val v = views.withWatermark("view_ts", watermark).alias("v")
    val c = clicks.withWatermark("click_ts", watermark).alias("c")
    v.join(c, expr(
      s"""v.user_id = c.user_id
          AND c.click_ts > v.view_ts
          AND c.click_ts <= v.view_ts + interval $gap"""), "left_outer")
      .select(col("v.view_id"), col("v.user_id"), col("v.view_ts"),
        col("c.click_id"), col("c.click_ts"))
  }
}
