package graft.ids

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic distributed id minting + dictionary encoding
  * (SURVEY.md §2.9 I1–I3) — replaces the reference's serial atom counter /
  * DB sequences / file-lock machinery (src/db_loader.clj:32,67-84,359-368),
  * which it explicitly could not make work on a cluster.
  *
  * Ids are `base + position` in a total sort order, produced WITHOUT a
  * global window: `row_number().over(Window.orderBy(...))` funnels every
  * input row — bytes included — through one task (Spark's
  * `WindowExec: No Partition Defined` warning), which is the #1 scale trap
  * for an ETL path whose rows are whole files. Instead the sort stays
  * range-partitioned and `zipWithIndex` assigns global positions from
  * per-partition counts (one lightweight extra job). Same contract: unique,
  * dense, deterministic under any input partitioning.
  *
  * Where only uniqueness matters, callers can use
  * `monotonically_increasing_id()` instead (documented trade-off: sparse).
  */
object IdMinter {

  /** Mint dense ids ordered by `orderCols` starting at `base + 1`.
    * Deterministic: same input rows → same ids, regardless of partitioning
    * (ties in `orderCols` would make ids nondeterministic — order by a key).
    */
  def mintIds(df: DataFrame, base: Long, idCol: String, orderCols: Column*): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(orderCols: _*)
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (base + i + 1L))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Dictionary-encode a name column (reference problem_data map, I2):
    * returns a (name, id) dimension where previously-seen names keep their
    * ids (from `existing`) and new names extend densely past the max.
    *
    * Dictionaries are broadcast-join-sized by contract (every consumer
    * broadcast-joins the result), so the new names are collected and
    * numbered driver-side: one sort job, a local-relation result, and no
    * zipWithIndex job pair — measurably cheaper per ETL batch than the
    * distributed mint, which remains available as `mintIds` for unbounded
    * inputs.
    */
  def dictionaryEncode(
      names: DataFrame,
      nameCol: String,
      idCol: String,
      existing: Option[DataFrame] = None): DataFrame = {
    val spark = names.sparkSession
    val distinctNames = names.select(col(nameCol)).distinct()
    def mintLocal(df: DataFrame, base: Long): DataFrame = {
      val out = df.orderBy(col(nameCol)).collect().zipWithIndex
        .map { case (r, i) => Row(r.get(0), base + i + 1L) }
      spark.createDataFrame(
        java.util.Arrays.asList(out: _*),
        StructType(df.schema.fields :+ StructField(idCol, LongType, nullable = false)))
    }
    existing match {
      case None => mintLocal(distinctNames, 0L)
      case Some(dim) =>
        val maxId = dim.agg(max(col(idCol))).head() match {
          case r if r.isNullAt(0) => 0L
          case r                  => r.getLong(0)
        }
        val newNames = distinctNames.join(dim.select(col(nameCol)), Seq(nameCol), "left_anti")
        dim.select(col(nameCol), col(idCol))
          .unionByName(mintLocal(newNames, maxId))
    }
  }

  /** Spark's string sort order (UTF8String binary comparison) as a Scala
    * Ordering: unsigned byte-wise over the UTF-8 encoding. Lets driver-side
    * minting order names EXACTLY like [[dictionaryEncode]]'s `orderBy`, so
    * the two arms are interchangeable (parity spec pins it).
    */
  private[graft] val utf8BinaryOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** Pure driver-side twin of [[dictionaryEncode]] for callers that already
    * hold the name list (LogPipeline.tablesFromStatuses derives names from
    * the listed paths): same get-or-create contract,
    * same ordering (UTF8-binary), ZERO Spark jobs. The DataFrame arm costs
    * 3-4 jobs per call (distinct, anti-join, max, sort-collect) — pure
    * fixed overhead when the dictionary is name-cardinality tiny, which it
    * is by contract (LogPipeline inlines it as a map literal).
    */
  def dictionaryEncodeLocal(
      names: Seq[String],
      existing: Seq[(String, Long)] = Nil): Seq[(String, Long)] = {
    val known = existing.iterator.map(_._1).toSet
    val maxId = existing.iterator.map(_._2).foldLeft(0L)(math.max)
    existing ++ names.distinct.filterNot(known)
      .sorted(utf8BinaryOrder).zipWithIndex
      .map { case (n, i) => (n, maxId + i + 1L) }
  }
}
