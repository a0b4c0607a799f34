package graft.streaming

import graft.ext.MinHashDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental NEAR-duplicate suppression over a document stream — the
  * streaming form of banded LSH dedup, in BOTH signature families:
  * [[run]] is MinHash-LSH banding (batch form `MinHashDedup
  * .candidatePairs`), [[runSimHash]] is 4×16-bit SimHash banding (batch
  * form `SimHash.nearDupPairs`). A new document reaches the sink only if
  * none of its bands exactly matches a band registered by a kept document
  * in this or any earlier micro-batch.
  *
  * Same exactly-once skeleton as [[DedupStream]] (file-source checkpoint +
  * `batch=<id>`-partitioned parquet store, anti-matched strictly below the
  * current batch id, own partition overwritten), with two near-dup-specific
  * choices, both deterministic:
  *
  *  - **First writer wins, greedily.** Within a batch, a document is
  *    suppressed iff ANY of its band buckets contains a lexicographically
  *    smaller path — even if that smaller doc is itself suppressed through
  *    another band. Greedy bucket-winner suppression is the standard LSH
  *    dedup compromise: slight over-suppression in collision chains, no
  *    iterative clustering in the hot path (the transitive variant is the
  *    batch `DedupClusters` op).
  *  - **Only KEPT documents register bands.** Suppressed docs are
  *    represented by their keeper; a later near-dup of a suppressed doc
  *    that does not also collide with the keeper is kept. This bounds the
  *    store by the number of canonical documents, not arrivals.
  *
  * Band keys are the exact signature SLICES (CSV-rendered) for MinHash and
  * exact 16-bit fingerprint slices for SimHash — never a 32-bit re-hash —
  * the same first-principles semantics the batch oracles re-derive, so
  * streaming and batch agree on what "collides" means. The store carries
  * (band_idx, band_key) only, and the cross-batch check is an equi-join on
  * those two columns — at 100 TB this is the banded-LSH shuffle, never an
  * all-pairs comparison. Docs that produce no bands (MinHash: fewer than 3
  * tokens ⇒ no shingles) are always kept and register nothing.
  */
object NearDupStream {

  /** MinHash-LSH family: `numHashes`-long md5-affine signatures
    * ([[MinHashDedup.signature]]) split into `bands` CSV-rendered slices. */
  def run(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storeDir: String,
      numHashes: Int = 32,
      bands: Int = 8)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    runBanded(spark, docsDir, checkpointDir, storeDir)(
      minhashBandify(numHashes, bands))(sink)
  }

  /** The MinHash banding stage (shared by [[run]] and the torture
    * spec's direct [[processBanded]] driver). */
  private[streaming] def minhashBandify(numHashes: Int, bands: Int)
      : DataFrame => DataFrame = { docs =>
    val rowsPerBand = numHashes / bands
    // materialize the signature ONCE PER DOC before banding: without the
    // barrier CollapseProject inlines the signature chain into the
    // per-band lambda and recomputes it `bands` times per doc
    val withSig = docs
      .withColumn("toks", split(col("value"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("path"), MinHashDedup.signature(
        MinHashDedup.shinglesOfToks(col("toks")), numHashes).as("sig"))
      .localCheckpoint(true)
    withSig
      .select(col("path"), explode(transform(
        sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band_idx"),
            concat_ws(",", transform(
              slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
              _.cast("string"))).as("band_key")))).as("band"))
      .select(col("path"), col("band.band_idx"), col("band.band_key"))
  }

  /** SimHash family: the 64-bit fingerprint split into 4 exact
    * 16-bit bands (pigeonhole: hamming ≤ 3 between two fingerprints always
    * leaves one band untouched, so close near-dups are guaranteed to
    * collide — same banding as the batch `SimHash.nearDupPairs`). Every
    * tokenizable doc fingerprints, so every doc registers bands. */
  def runSimHash(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storeDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    runBanded(spark, docsDir, checkpointDir, storeDir)(
      simhashBandify)(sink)

  /** The SimHash banding stage (shared by [[runSimHash]] and the
    * batch-equivalence spec's direct [[processBanded]] driver). */
  private[streaming] def simhashBandify: DataFrame => DataFrame = { docs =>
    // same barrier rationale as the MinHash family: fingerprint once per
    // doc, not once per band
    val withFp = docs
      .select(col("path"), graft.ext.SimHash.simhash(col("value")).as("fp"))
      .localCheckpoint(true)
    withFp
      .select(col("path"), explode(transform(
        sequence(lit(0), lit(3)), b =>
          struct(b.as("band_idx"),
            call_function("shiftright", col("fp"), b * 16)
              .bitwiseAND(lit(0xffffL)).cast("string").as("band_key"))))
        .as("band"))
      .select(col("path"), col("band.band_idx"), col("band.band_key"))
  }

  /** Long-horizon band-store maintenance (r18 verdict item 3). A
    * continuously-deduplicating stream grows its store by one partition
    * per micro-batch forever; the store JOIN stays a (band_idx,
    * band_key) equi-shuffle but listing/open-file cost and scan
    * overhead grow O(epochs). This collapses every partition strictly
    * below the newest epoch into one snapshot clustered by (band_idx,
    * band_key) — files cover narrow band ranges, so parquet stats
    * localize the store probe — with a set-semantics distinct merge
    * (the anti-join's verdicts are bit-identical because band
    * membership is all that matters), via
    * [[EpochStore.compactSeen]], whose scaladoc carries the
    * replay-safety argument and failpoint schedule (torture-pinned).
    *
    * `ttlEpochs`: optional retention horizon. Bands registered ONLY by
    * epochs AT OR BELOW `newest − ttlEpochs` are forgotten (the horizon
    * epoch itself is dropped — `compactSeen` keeps ids strictly greater
    * than `newest − ttlEpochs`, so with newest=3, ttl=2 the snapshot
    * holds epochs {2, 3}) — meaning a
    * document that near-duplicates something seen before the horizon
    * RE-ENTERS the kept stream. That is the stated trade (bounded store
    * vs unbounded memory of every document ever seen); run without a
    * TTL when exact long-horizon suppression is required. Call between
    * micro-batches (single compactor, no concurrent writer — e.g. after
    * a [[MicroBatch.drain]] returns, or from a maintenance cron). */
  def compactStore(spark: SparkSession, storeDir: String,
      ttlEpochs: Option[Long] = None): Unit =
    EpochStore.compactSeen(spark, storeDir,
      merge = _.distinct(),
      ttlEpochs = ttlEpochs,
      clusterCols = Seq("band_idx", "band_key"))

  /** Shared skeleton: `bandify` maps the micro-batch's raw docs
    * (value, path) to (path, band_idx, band_key STRING) rows; everything
    * else — greedy in-batch bucket winners, cross-batch store anti-match,
    * kept-docs-only registration, re-fire idempotence — is family-agnostic.
    */
  private def runBanded(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      storeDir: String)(
      bandify: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.drain(MicroBatch.docs(spark, docsDir), checkpointDir) {
      (batch, batchId) => processBanded(batch, batchId, storeDir, bandify, sink)
    }

  /** One epoch of the banded skeleton: in-batch bucket winners →
    * anti-match bands registered STRICTLY below this batch
    * ([[EpochStore.readBelow]] — own/later partitions excluded, so a
    * crash-replay recomputes `kept` bit-identically), register the kept
    * docs' bands exactly-once ([[EpochStore.writeEpoch]]), fire the
    * sink. Package-visible so the crash-point torture spec drives the
    * REAL foreachBatch body. */
  private[streaming] def processBanded(batch: DataFrame, batchId: Long,
      storeDir: String, bandify: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val docs = batch.localCheckpoint(true)
    // banding chains interpreted HOF/signature expressions: materialize
    // ONCE so the three consumers (in-batch window, prior join, store
    // registration) don't re-evaluate them
    val banded = bandify(docs).localCheckpoint(true)

    // in-batch: any bucket with a smaller path suppresses this doc
    val wMin = Window.partitionBy($"band_idx", $"band_key")
    val inBatch = banded
      .withColumn("min_path", min($"path").over(wMin))
      .filter($"path" > $"min_path")
      .select($"path")

    // cross-batch: any band registered by a strictly EARLIER batch
    val prior = EpochStore.readBelow(spark, storeDir, batchId) match {
      case Some(p) => banded
        .join(p.select($"band_idx", $"band_key"), Seq("band_idx", "band_key"))
        .select($"path")
      case None => spark.emptyDataset[String].toDF("path")
    }

    val suppressed = inBatch.union(prior).distinct()
    val kept = docs.join(suppressed, Seq("path"), "left_anti")
      .localCheckpoint(true) // pin BEFORE the store gains this batch

    EpochStore.writeEpoch(
      banded.join(kept.select($"path"), Seq("path"), "left_semi")
        .select($"band_idx", $"band_key").distinct(),
      batchId, storeDir)
    sink(kept, batchId)
    ()
  }
}
