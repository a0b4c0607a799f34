package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from the per-module QueryDef groups
  * (graft.queries.*); each declared operator from SURVEY.md §2 has an entry
  * here, and each SQL-expressible one carries DuckDB oracle SQL.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. As of round 8 EVERY query carries oracle
    * SQL (zero rows-only): approximate ops derive their randomness from
    * the md5 hash family DuckDB can recompute (see
    * graft.functions.Md5Hash64), and sketch-valued built-ins emit
    * bounded-agreement flags the oracle asserts. */
  def oracleSql: Map[String, String] =
    QueryDef.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline subset timed by `BenchTune probe bench` and `headlinebk`. */
  def benchQueries: Seq[String] = QueryDef.all.filter(_.bench).map(_.name)
}
