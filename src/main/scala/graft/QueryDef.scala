package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query (the SURVEY.md §2 surface).
  *
  * @param name    stable key; shows up in CORRECTNESS_r{N}.json / BENCH_r{N}.json
  * @param run     Spark implementation; takes (session, sfDir)
  * @param oracle  equivalent ANSI SQL for DuckDB over the same parquet tables
  *                (bare table names). None => driver runs a rows-only check
  *                (for ops not expressible in portable SQL, e.g. MinHash-LSH).
  * @param bench   include in the headline timing set
  *                ([[SparkEntry.benchQueries]], `BenchTune probe bench`).
  *
  * Cross-engine determinism rules used by every query here:
  *  - every query ends in an ORDER BY over enough columns for a total order;
  *  - DuckDB sorts ASC NULLS LAST by default while Spark sorts ASC NULLS FIRST,
  *    so nullable sort keys carry explicit NULLS FIRST in the oracle SQL;
  *  - sums/avgs over double columns are order-of-accumulation-dependent, so
  *    both sides cast to DECIMAL first (exact arithmetic) and cast the final
  *    result back to DOUBLE — bit-identical across engines;
  *  - pure per-row double arithmetic (a*b, lag diffs) is bit-deterministic
  *    given identical parquet input, so it needs no decimal detour.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object QueryDef {
  /** Registry assembled from the per-module query groups. */
  def all: Seq[QueryDef] =
    queries.Relational.defs ++
      queries.Analytics.defs ++
      queries.Windows.defs ++
      queries.Events.defs ++
      queries.Text.defs ++
      queries.Curation.defs ++
      queries.Similarity.defs ++
      queries.DedupQueries.defs ++
      queries.ParserQueries.defs ++
      queries.GraphQueries.defs
}
