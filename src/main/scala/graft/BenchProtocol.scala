package graft

import org.apache.spark.sql.DataFrame

/** THE bench forcing idiom — one definition so every measuring tool runs
  * the same protocol (perfbench, `tools.BenchTune`). Noop sink, NOT
  * `count()`: under count(), ColumnPruning/EliminateSorts strip work that
  * doesn't affect the row count (q1's decimal aggregates and every final
  * sort were absent from counted plans; x_pii_redact collapsed to a bare
  * scan) — the round-8 protocol discontinuity. The noop writer consumes
  * every output row with all columns materialized.
  */
object BenchProtocol {
  def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
