package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection (SURVEY.md §2.9 I5).
  *
  * Pipeline (all codegen'd higher-order functions, no UDF, no cross join):
  *   1. shingle: 3-gram shingles of the token stream (distinct)
  *   2. minhash: k hash functions from the md5-affine family
  *      ([[signature]]), signature_i = min over shingles — one narrow pass
  *      per row
  *   3. band: split the k-signature into `bands` bands of k/bands rows each;
  *      band key = murmur3 hash of the band slice
  *   4. candidate pairs = equi-join on (band_idx, band_hash) — the shuffle key
  *      is small and uniform; at 100 TB this is the only shuffle and it moves
  *      (doc_id, band) pairs, not documents
  *   5. estimate similarity = fraction of matching signature positions
  *
  * Deterministic: md5 and murmur3 are stable, and the oracle recomputes
  * the md5 signatures bit-exactly.
  */
object MinHashDedup {

  /** 3-gram shingle array for a text column (distinct, space-joined).
    * NOTE: inlines the split inside the lambda — fine for tests/small
    * inputs, but interpreted HOFs re-evaluate the inlined subtree per
    * element (O(tokens²)/doc). The pipeline path (candidatePairs) projects
    * the token array first and shingles the attribute instead.
    */
  def shingles(text: Column): Column = {
    val t = split(text, " ")
    array_distinct(transform(
      sequence(lit(1), greatest(size(t) - 2, lit(0))),
      i => concat_ws(" ",
        element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
  }

  /** Shingles over a projected token-array ATTRIBUTE — O(tokens)/doc. */
  def shinglesOfToks(toks: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ",
        element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))

  /** MinHash signature (array<bigint> of length numHashes) of a shingle
    * set, md5-affine family: h_i(x) = (a + i*b) mod 2^60 from one md5 per
    * shingle (graft.functions.Md5MinHashSignature scaladoc). This is the
    * PRODUCT path because the oracle can recompute it bit-exactly in
    * DuckDB (md5_number_upper/lower + HUGEINT arithmetic) — `d_minhash
    * _pairs` is a hash-exact gate row, not rows-only. Cost per shingle is
    * one md5 + k multiply-adds, on par with the k seeded xxhash64 calls
    * of the native `graft.functions.MinHashSignature`.
    */
  def signature(sh: Column, numHashes: Int): Column =
    graft.functions.Md5MinHashSignature.md5_minhash_signature(sh, numHashes)

  /** HOF formulation of the seeded-xxhash64 signature (h_i(x) =
    * xxhash64(i, x)) — the equivalence-spec twin of the native
    * `graft.functions.MinHashSignature` (SQL `minhash_signature`).
    * Single fold so the shingle subtree evaluates once (the transposed
    * transform-of-array_min form re-evaluates it per hash function —
    * measured 30x slower). */
  def signatureHof(sh: Column, numHashes: Int): Column = {
    val idx = sequence(lit(1), lit(numHashes))
    aggregate(sh, transform(idx, _ => lit(Long.MaxValue)),
      (acc, x) => zip_with(acc, idx, (m, i) => least(m, xxhash64(i, x))))
  }

  /** Little-endian signed 64-bit of md5-digest bytes [off, off+8) rebuilt
    * from Spark's own `md5()` HEX output: byte pairs concatenated in
    * reverse order, then signed-base `conv` — the pure-SQL twin of
    * Md5Hash64.le64 (and of DuckDB's md5_number_upper/lower). Spec-only. */
  def md5Le64Hof(s: Column, off: Int): Column = {
    val h = md5(s)
    val rev = concat((7 to 0 by -1).map(j =>
      substring(h, off * 2 + j * 2 + 1, 2)): _*)
    conv(rev, 16, -10).cast("long")
  }

  /** HOF/built-in formulation of the md5-affine family — the equivalence
    * spec twin of Md5MinHashSignature (same split-mod arithmetic, all
    * intermediates < 2^61 so ANSI-safe). */
  def signatureHofMd5(sh: Column, numHashes: Int): Column = {
    val idx = sequence(lit(0), lit(numHashes - 1))
    val M = lit(1L << 60)
    val mask30 = lit((1L << 30) - 1)
    aggregate(sh, transform(idx, _ => lit(Long.MaxValue)),
      (acc, x) => {
        val a = shiftrightunsigned(md5Le64Hof(x, 0), 4)
        val b = shiftrightunsigned(md5Le64Hof(x, 8), 4).bitwiseOR(lit(1L))
        val bHi = shiftrightunsigned(b, 30)
        val bLo = b.bitwiseAND(mask30)
        zip_with(acc, idx, (m, i) => least(m,
          (a + shiftleft((i * bHi).bitwiseAND(mask30), 30) + i * bLo) % M))
      })
  }

  /** [[candidatePairs]] with exact-duplicate PRE-COLLAPSE — the corpus
    * order of operations at scale. Pair enumeration is output-bound:
    * a duplicate group of g exact clones emits g(g−1)/2 pairs, so on a
    * heavily-cloned corpus the pair listing itself goes quadratic
    * (measured at a factor-100 corpus: 96s / 28M pairs raw vs 1.1s /
    * 306 pairs collapsed — BENCH_SCALE r9_100x). This operator first
    * keeps ONE representative per distinct text (min doc_id, the exact
    * dedup rule), then runs banded LSH over representatives only.
    * Returns (rep_pairs, representatives): `rep_pairs` has the usual
    * (a, b, est_jaccard) shape over representative ids; `representatives`
    * maps every doc_id to its rep_id so callers can re-expand verdicts
    * to the full corpus (a doc inherits its representative's near-dup
    * relations by definition of exact equality).
    *
    * The collapse keys on md5(text), not the text itself — the window
    * shuffle then carries a fixed 16-byte key instead of the full
    * document. An md5 collision (~2⁻¹²⁸ per pair) would merge two
    * DISTINCT texts into one representative — accepted, the same trade
    * [[SpanDedup.repeatedSpanStats]] documents for its hashKeys mode
    * (the oracle row groups by raw text, so a collision would also
    * surface as a gate mismatch rather than pass silently).
    */
  def candidatePairsCollapsed(docs: DataFrame, numHashes: Int, bands: Int)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("fp"))
    val mapped = docs.withColumn("fp", md5(col("text")))
      .withColumn("rep_id", min(col("doc_id")).over(w))
    val reps = mapped.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("text"))
    (candidatePairs(reps, numHashes, bands),
      mapped.select(col("doc_id"), col("rep_id")))
  }

  /** Candidate near-dup pairs via banded LSH over a `documents(doc_id, text)`
    * frame. Returns (a, b, est_jaccard) ordered by est_jaccard desc.
    * On corpora with heavy EXACT duplication, use
    * [[candidatePairsCollapsed]] — pair output here is quadratic in
    * clone-group size by contract.
    */
  def candidatePairs(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // cache() is load-bearing: signatures are higher-order-function
    // expressions (interpreted, not codegen'd), and without a
    // materialization barrier Catalyst's projection collapse re-evaluates
    // them from raw text on BOTH self-join sides and again per candidate
    // pair in the similarity estimate — measured 223s -> 3s at sf0.1.
    // The cached working set is tiny: doc_id + numHashes longs per doc.
    // Lifecycle: cache() (not localCheckpoint) deliberately — re-invoking
    // this query yields the SAME logical plan, which the CacheManager
    // dedupes to one entry and reuses (warm bench iterations skip the
    // signature recompute), so a long-lived session holds at most one
    // entry per distinct input, not one per invocation.
    val withSig = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        signature(shinglesOfToks(col("toks")), numHashes).as("sig"))
      .cache()

    // the band self-join shuffles ONLY (band_idx, band_hash, doc_id) — ~20
    // bytes/row; signatures join back afterwards, once per surviving
    // candidate side, so the numHashes×8B signature never rides the
    // candidate-generation shuffle ×bands copies (same ids-only rule as
    // Similarity.lshCandidatePairs).
    val banded = withSig.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band_idx"),
          hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash"))))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))

    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("b"))

    val cand = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct() // a pair may collide in several bands

    val sa = withSig.select(col("doc_id").as("a"), col("sig").as("sig_a"))
    val sb = withSig.select(col("doc_id").as("b"), col("sig").as("sig_b"))
    // exact candidate semantics: a pair qualifies iff some band's signature
    // SLICES are equal. The 32-bit murmur band_hash join above is only a
    // pruning superset (collisions can add pairs, never drop one — equal
    // slices always hash equal); this filter removes those exactly, which
    // is what lets the DuckDB oracle re-derive the pair set from first
    // principles instead of re-hashing with a Spark-only murmur.
    cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .filter(exists(sequence(lit(0), lit(bands - 1)), k =>
        slice(col("sig_a"), k * rowsPerBand + 1, lit(rowsPerBand)) ===
          slice(col("sig_b"), k * rowsPerBand + 1, lit(rowsPerBand))))
      .select(col("a"), col("b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
          .as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("a"), col("b"))
  }

  /** Batch form of [[graft.streaming.NearDupStream.run]]'s incremental
    * MinHash-LSH suppression — [[IncrementalDedup.keepsBanded]] (see its
    * scaladoc for the wave/store/audit contract) under the signature-slice
    * banding: docs with fewer than 3 tokens produce no shingles, so they
    * are always kept and register nothing. The `d_minhash_incremental`
    * gate re-derives every audit row in DuckDB from the md5-affine
    * signature family.
    */
  def incrementalKeeps(docs: DataFrame, waveCol: Column, waves: Seq[Int],
      numHashes: Int, bands: Int): DataFrame =
    IncrementalDedup.keepsBanded(docs, waveCol, waves)(
      sliceBandify(numHashes, bands))

  /** [[incrementalKeeps]] under an epoch TTL
    * ([[IncrementalDedup.keepsBandedTtl]] — see its scaladoc for the
    * horizon semantics and the `reentered` audit column). The
    * `d_minhash_ttl_reentry` gate re-derives the horizoned fold AND the
    * re-entry consequence in DuckDB. */
  def incrementalKeepsTtl(docs: DataFrame, waveCol: Column, waves: Seq[Int],
      ttlEpochs: Int, numHashes: Int, bands: Int): DataFrame =
    IncrementalDedup.keepsBandedTtl(docs, waveCol, waves, ttlEpochs)(
      sliceBandify(numHashes, bands))

  /** The signature-slice banding stage shared by the incremental forms
    * (same slice semantics as [[candidatePairs]] and
    * `NearDupStream.minhashBandify`). */
  private def sliceBandify(numHashes: Int, bands: Int)
      : DataFrame => DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    labeled =>
      labeled
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("wave"),
          signature(shinglesOfToks(col("toks")), numHashes).as("sig"))
        .select(col("doc_id"), col("wave"),
          explode(transform(sequence(lit(0), lit(bands - 1)), b =>
            struct(b.as("band_idx"),
              concat_ws(",", transform(
                slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
                _.cast("string"))).as("band_key")))).as("band"))
        .select(col("doc_id"), col("wave"),
          col("band.band_idx"), col("band.band_key"))
  }
}
