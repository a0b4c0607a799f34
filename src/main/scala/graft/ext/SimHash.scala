package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash document fingerprinting (north-star dedup op).
  *
  * 64-bit simhash: each token hashes to 64 bits (md5, see [[simhash]]);
  * every bit votes +1/-1; the fingerprint sets bit b iff the vote for b is
  * positive. Documents with small hamming distance between fingerprints are
  * near-duplicates.
  *
  * Implemented as composed higher-order functions (one `aggregate` pass over
  * the token array with an array<long> vote accumulator) — stays inside
  * codegen, no UDF, narrow per-row work; the dedup join is then an equi-join
  * on fingerprint prefix buckets, never a cross join.
  */
object SimHash {

  private val bitsIdx = sequence(lit(0), lit(63))

  // functions.shiftleft/shiftright only accept a literal Int bit count;
  // the underlying SQL functions accept expressions — call them directly.
  private def shr(v: Column, bits: Column): Column =
    call_function("shiftright", v, bits)
  private def shl(v: Column, bits: Column): Column =
    call_function("shiftleft", v, bits)

  /** The 64-bit simhash of a whitespace-tokenized text column. PRODUCT path
    * is the md5 token-hash family (graft.functions.Md5SimHash64): DuckDB's
    * `md5_number_upper` recomputes the per-token hash bit-exactly, which
    * makes `d_simhash` a hash-exact oracle row instead of rows-only. */
  def simhash(text: Column): Column =
    graft.functions.Md5SimHash64.md5_simhash64(split(text, " "))

  /** HOF formulation of the xxhash64 token-hash fingerprint — the
    * equivalence-spec twin of the native `graft.functions.SimHash64`
    * (SQL `simhash64`). */
  def simhashHof(text: Column): Column = {
    val hashes = transform(split(text, " "), t => xxhash64(t))
    val zero = transform(bitsIdx, _ => lit(0L))
    val votes = aggregate(hashes, zero, (acc, h) =>
      zip_with(acc, bitsIdx, (a, b) =>
        a + when(shr(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitsIdx, (v, b) =>
        when(v > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** HOF/built-in formulation of the md5 family — the equivalence spec twin
    * of Md5SimHash64: per-token hash is the little-endian signed 64-bit of
    * the first 8 md5-digest bytes (MinHashDedup.md5Le64Hof), same ±1 votes
    * and >0 threshold. Bit extraction via arithmetic shiftright is
    * equivalent to the native >>> because `& 1` reads only the landed bit. */
  def simhashHofMd5(text: Column): Column = {
    val hashes = transform(split(text, " "),
      t => MinHashDedup.md5Le64Hof(t, 0))
    val zero = transform(bitsIdx, _ => lit(0L))
    val votes = aggregate(hashes, zero, (acc, h) =>
      zip_with(acc, bitsIdx, (a, b) =>
        a + when(shr(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitsIdx, (v, b) =>
        when(v > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  def withSimHash(df: DataFrame, text: Column): DataFrame =
    df.withColumn("simhash", simhash(text))

  /** Near-dup pairs via 4×16-bit banding: candidates collide on ANY band
    * (pigeonhole: hamming ≤ 3 guarantees a clean band; larger distances are
    * caught with high probability), then exact hamming filters. At scale this
    * is an equi-join on (band_idx, band_bits) — never a cross join.
    */
  def nearDupPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val banded = withSimHash(docs, col("text"))
      .select(col("doc_id"), col("simhash"),
        explode(transform(sequence(lit(0), lit(3)), b =>
          struct(b.as("band_idx"),
            shr(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("band_bits"))))
          .as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx"), col("band.band_bits"))
    val a = banded.select(col("band_idx"), col("band_bits"),
      col("doc_id").as("a"), col("simhash").as("fa"))
    val b = banded.select(col("band_idx"), col("band_bits"),
      col("doc_id").as("b"), col("simhash").as("fb"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("fa"), col("fb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("hamming"), col("a"), col("b"))
  }
}
