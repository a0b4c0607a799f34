package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch form of [[graft.streaming.NearDupStream]]'s INCREMENTAL
  * suppression, generic over the banding family — the engine behind
  * `MinHashDedup.incrementalKeeps` (MinHash-LSH slices) and
  * [[incrementalKeepsSimHash]] (4×16-bit SimHash bands). Docs arrive in
  * `waves` (ascending = arrival order; `waveCol` labels each row) and
  * each wave is processed exactly like one NearDupStream micro-batch:
  *
  *  - **greedy in-wave bucket winners**: a doc is suppressed iff ANY of
  *    its band buckets holds a smaller doc_id from the SAME wave (even a
  *    doc itself suppressed through another band — the streaming
  *    module's documented compromise);
  *  - **cross-wave store anti-match**: a doc is suppressed iff any of
  *    its bands was registered by a KEPT doc of an earlier wave;
  *  - **kept docs only register**: suppressed docs are represented by
  *    their keeper, bounding the store by canonical docs, not arrivals.
  *
  * Docs that produce no bands are always kept and register nothing.
  * `waveCol` must land every row in `waves`: a row labeled outside the
  * list still gets in-wave greedy dedup and an audit row, but never
  * registers bands and never sees the store (the fold only walks the
  * declared arrival order). Returns one AUDIT row per input doc —
  * (doc_id, wave, hit_batch, hit_store, kept) — so the suppression
  * REASON is data, not just the final keep-set. At 100 TB this is the
  * continuous-dedup shape `r18_neardup_incremental` measured
  * (per-arrival cost, not per-corpus): the store join is a
  * (band_idx, band_key) equi-shuffle, never all-pairs.
  */
object IncrementalDedup {

  /** `bandify` maps (doc_id, wave, text) to
    * (doc_id, wave, band_idx, band_key STRING) — the batch twin of
    * NearDupStream's per-family bandify stage. */
  def keepsBanded(docs: DataFrame, waveCol: Column, waves: Seq[Int])(
      bandify: DataFrame => DataFrame): DataFrame = {
    require(waves == waves.sorted && waves.distinct == waves,
      "waves must be ascending and distinct (arrival order)")
    val spark = docs.sparkSession

    val labeled = docs.select(col("doc_id"), waveCol.as("wave"), col("text"))
    // banding barrier: family signatures are HOF/codegen expressions that
    // must materialize once, not re-evaluate per consumer. localCheckpoint
    // (not cache) — eager, guarantees single evaluation, and the blocks
    // free with the RDD via ContextCleaner instead of occupying storage
    // memory for the session lifetime (the verify/bench runners execute
    // hundreds of queries in one long-lived session)
    val banded = bandify(labeled).localCheckpoint(true)

    // in-wave greedy winners for EVERY wave in one pass: the bucket window
    // partitions by (wave, band_idx, band_key), so each wave sees only its
    // own arrivals — exactly the streaming module's per-batch window
    val wMin = Window.partitionBy(col("wave"), col("band_idx"), col("band_key"))
    val hitBatch = banded
      .withColumn("mn", min(col("doc_id")).over(wMin))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id")).distinct()
      .withColumn("hit_batch", lit(true))

    // store fold across waves: wave w's store hits come from bands
    // registered by kept docs of waves < w. The per-wave localCheckpoint
    // below keeps the fold's plan LINEAR in |waves| (the accumulated
    // store would otherwise double per wave), so arbitrary wave lists
    // are safe, matching the public API's contract.
    var store: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      banded.select(col("band_idx"), col("band_key")).schema)
    var hitStore: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      banded.select(col("doc_id")).schema)
    for (w <- waves) {
      val bw = banded.filter(col("wave") === w)
      val hs = bw.join(store, Seq("band_idx", "band_key"), "left_semi")
        .select(col("doc_id")).distinct()
      hitStore = hitStore.union(hs)
      val suppressed = hs
        .union(bw.join(hitBatch.select(col("doc_id")), Seq("doc_id"),
          "left_semi").select(col("doc_id")))
        .distinct()
      val keptBands = bw
        .join(suppressed, Seq("doc_id"), "left_anti")
        .select(col("band_idx"), col("band_key")).distinct()
      // materialize the accumulated store per wave: it is referenced in
      // TWO branches of the next iteration (the left_semi probe and the
      // next union), so without a barrier the logical plan doubles per
      // wave (~2^|waves|) — the batch mirror of the streaming module's
      // per-epoch parquet materialization, keeping plan size linear for
      // arbitrary wave lists
      store = store.union(keptBands).localCheckpoint(true)
    }
    val hitStoreFlag = hitStore.distinct().withColumn("hit_store", lit(true))

    labeled.select(col("doc_id"), col("wave"))
      .join(hitBatch, Seq("doc_id"), "left_outer")
      .join(hitStoreFlag, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("wave"),
        coalesce(col("hit_batch"), lit(false)).as("hit_batch"),
        coalesce(col("hit_store"), lit(false)).as("hit_store"),
        not(coalesce(col("hit_batch"), lit(false)) ||
          coalesce(col("hit_store"), lit(false))).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** [[keepsBanded]] under an epoch TTL — the batch twin of
    * [[graft.streaming.NearDupStream.compactStore]]'s retention horizon
    * (r19 verdict item 6: the TTL's stated trade was spec-pinned but not
    * oracle data). Before each wave the store is compacted as
    * `EpochStore.compactSeen(ttlEpochs)` would between micro-batches:
    * with `newest` = the previously processed wave, only registrations
    * from waves STRICTLY GREATER than `newest − ttlEpochs` remain (the
    * horizon wave itself is dropped — the compactSeen keepIds filter).
    * A band registered by both a forgotten and a retained wave survives
    * via the retained one, exactly like the set-semantics snapshot
    * merge.
    *
    * Output adds the trade itself as a column: `reentered` = the doc is
    * KEPT under the TTL'd store but its bands match a registration the
    * horizon forgot (kept docs of pre-horizon waves) — i.e. the
    * near-duplicate that RE-ENTERS the kept stream because the store no
    * longer remembers its original. `kept` already implies no in-window
    * or in-wave hit, so `reentered = kept && hit_forgotten`. With
    * `ttlEpochs >= |waves|` nothing is ever forgotten and this equals
    * [[keepsBanded]] with `reentered` all-false (spec-pinned). */
  def keepsBandedTtl(docs: DataFrame, waveCol: Column, waves: Seq[Int],
      ttlEpochs: Int)(bandify: DataFrame => DataFrame): DataFrame = {
    require(waves == waves.sorted && waves.distinct == waves,
      "waves must be ascending and distinct (arrival order)")
    require(ttlEpochs >= 0, "ttlEpochs must be non-negative")
    val spark = docs.sparkSession

    val labeled = docs.select(col("doc_id"), waveCol.as("wave"), col("text"))
    val banded = bandify(labeled).localCheckpoint(true)

    val wMin = Window.partitionBy(col("wave"), col("band_idx"), col("band_key"))
    val hitBatch = banded
      .withColumn("mn", min(col("doc_id")).over(wMin))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id")).distinct()
      .withColumn("hit_batch", lit(true))

    def emptyLike(cols: String*) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      banded.select(cols.map(col): _*).schema)
    // per-wave registrations, each checkpointed once; the visible store
    // for a wave is the union of the registrations inside the horizon
    // (≤ ttlEpochs frames — plan stays linear without a fold barrier)
    var registered = Vector.empty[(Int, DataFrame)]
    var hitStore = emptyLike("doc_id")
    var hitForgotten = emptyLike("doc_id")
    var prevWave: Option[Int] = None
    for (w <- waves) {
      val bw = banded.filter(col("wave") === w)
      val visible = prevWave match {
        case None => Vector.empty
        case Some(p) => registered.filter(_._1 > p - ttlEpochs)
      }
      val forgotten = registered.filterNot(visible.contains)
      def hitsAgainst(frames: Vector[(Int, DataFrame)]) =
        if (frames.isEmpty) emptyLike("doc_id")
        else bw.join(
          frames.map(_._2).reduce(_ union _).distinct(),
          Seq("band_idx", "band_key"), "left_semi")
          .select(col("doc_id")).distinct()
      val hs = hitsAgainst(visible)
      hitStore = hitStore.union(hs)
      hitForgotten = hitForgotten.union(hitsAgainst(forgotten))
      val suppressed = hs
        .union(bw.join(hitBatch.select(col("doc_id")), Seq("doc_id"),
          "left_semi").select(col("doc_id")))
        .distinct()
      val keptBands = bw
        .join(suppressed, Seq("doc_id"), "left_anti")
        .select(col("band_idx"), col("band_key")).distinct()
        .localCheckpoint(true)
      registered :+= ((w, keptBands))
      prevWave = Some(w)
    }
    val hitStoreFlag = hitStore.distinct().withColumn("hit_store", lit(true))
    val hitForgottenFlag =
      hitForgotten.distinct().withColumn("hit_forgotten", lit(true))

    val kept = not(coalesce(col("hit_batch"), lit(false)) ||
      coalesce(col("hit_store"), lit(false)))
    labeled.select(col("doc_id"), col("wave"))
      .join(hitBatch, Seq("doc_id"), "left_outer")
      .join(hitStoreFlag, Seq("doc_id"), "left_outer")
      .join(hitForgottenFlag, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("wave"),
        coalesce(col("hit_batch"), lit(false)).as("hit_batch"),
        coalesce(col("hit_store"), lit(false)).as("hit_store"),
        kept.as("kept"),
        (kept && coalesce(col("hit_forgotten"), lit(false))).as("reentered"))
      .orderBy(col("doc_id"))
  }

  /** SimHash family: the 64-bit md5 fingerprint split into 4 exact
    * 16-bit bands (pigeonhole: hamming ≤ 3 always leaves one band
    * untouched — same banding as `SimHash.nearDupPairs` and
    * `NearDupStream.runSimHash`). Every tokenizable doc fingerprints, so
    * every doc registers bands. */
  def incrementalKeepsSimHash(docs: DataFrame, waveCol: Column,
      waves: Seq[Int]): DataFrame =
    keepsBanded(docs, waveCol, waves) { labeled =>
      labeled
        .select(col("doc_id"), col("wave"), SimHash.simhash(col("text")).as("fp"))
        .select(col("doc_id"), col("wave"),
          explode(transform(sequence(lit(0), lit(3)), b =>
            struct(b.as("band_idx"),
              call_function("shiftright", col("fp"), b * 16)
                .bitwiseAND(lit(0xffffL)).cast("string").as("band_key"))))
            .as("band"))
        .select(col("doc_id"), col("wave"),
          col("band.band_idx"), col("band.band_key"))
    }
}
