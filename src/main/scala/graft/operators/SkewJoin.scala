package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join for skewed keys (SURVEY.md "Optimize for scale").
  *
  * When one join key carries a disproportionate share of the big side
  * (hot customer, null-ish default key), the shuffle partition holding it
  * becomes the straggler. Salting splits each hot key into `buckets`
  * sub-keys: the big side gets a deterministic per-row salt, the small side
  * is replicated once per salt value, and the join runs on (key, salt) —
  * the hot key's rows now spread over `buckets` partitions.
  *
  * AQE's skew-join handling covers sort-merge joins automatically where a
  * deployment turns AQE on (the `Sessions.local` profile runs it off);
  * explicit salting remains the tool for aggregations (`saltedCount`) and
  * for joins where AQE can't split (e.g. bucketed tables, or pre-AQE Spark
  * versions).
  */
object SkewJoin {

  /** Deterministic row salt in [0, buckets): hash of the salting columns
    * (use row-unique columns for an even spread). */
  def salt(buckets: Int, saltCols: Column*): Column =
    pmod(xxhash64(saltCols: _*), lit(buckets.toLong)).cast("int")

  /** Equi-join `large ⋈ small` on `key`, spreading each key over `buckets`
    * sub-partitions. `saltCols` must be row-level (not constant per key) on
    * the large side. Inner joins only (replication breaks outer semantics).
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      buckets: Int, saltCols: Seq[Column]): DataFrame = {
    val saltedLarge = large.withColumn("_salt", salt(buckets, saltCols: _*))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** `saltedJoin` with a caller-supplied salt expression and the salt column
    * RETAINED in the output (named `saltOut`) so downstream code can audit
    * the realized spread of a hot key across its sub-partitions. The default
    * `salt` uses xxhash64 (Spark-only, fastest); pass an md5-family salt
    * (graft.functions.Md5Hash64) when the result must be re-derivable by an
    * external engine — same nibble arithmetic on both sides makes the whole
    * salted plan oracle-checkable, not just its final answer. `saltExpr`
    * must be deterministic, row-level on `large`, and land in
    * [0, buckets). Inner joins only (replication breaks outer semantics).
    */
  def saltedJoinExpr(large: DataFrame, small: DataFrame, key: String,
      buckets: Int, saltExpr: Column, saltOut: String = "_salt"): DataFrame = {
    val saltedLarge = large.withColumn(saltOut, saltExpr)
    val saltedSmall = small.withColumn(saltOut,
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedLarge.join(saltedSmall, Seq(key, saltOut))
  }

  /** Two-phase skew-safe aggregation: count per key via partial count on
    * (key, salt) then re-aggregate — the classic hot-key groupBy fix.
    * (Spark's hash aggregate already does map-side partials; this pattern
    * matters for algebraic aggregates with heavy per-group state, e.g.
    * collect_list/percentiles, where one reducer would hold the hot key.)
    */
  def saltedCount(df: DataFrame, key: String, buckets: Int,
      saltCols: Seq[Column]): DataFrame =
    df.withColumn("_salt", salt(buckets, saltCols: _*))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("n"))
}
