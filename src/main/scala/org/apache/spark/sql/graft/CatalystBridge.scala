package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so custom
  * Catalyst expressions need one accessor inside the sql package tree —
  * this is the engine's only file outside the graft namespace.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The FileStatus of every file behind a file-source DataFrame,
    * straight from the relation's FileIndex — the listing the scan already
    * materialized. Saves one FileSystem RPC per file vs re-statting
    * (`df.inputFiles` exposes only paths).
    */
  def fileStatuses(df: DataFrame): Seq[org.apache.hadoop.fs.FileStatus] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
    }.flatten

  /** A long-array literal backed by UnsafeArrayData instead of the boxed
    * GenericArrayData that `lit(Array[Long])` builds. Identical plan node
    * (a Literal) and values; the difference is task-closure serialization:
    * UnsafeArrayData ships as one raw byte blob, where the boxed form
    * java-serializes every element through the ObjectInputStream handle
    * table — measured 26 s (10×) / 71 s (100×) of per-task deserialize
    * time on the preflight gate's ≤1M-word bitmaps, and the allocation
    * burst behind its flaky 100× executor OOM (BENCH_SCALE
    * r22_preflight_fix).
    */
  def longArrayLit(a: Array[Long]): Column =
    column(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)))

  /** Block until the listener bus has delivered all queued events —
    * `private[spark]` in SparkContext, needed by dev probes that read
    * task metrics (shuffle bytes) right after an action returns.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
