package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** At-rest layout for DERIVED graph edge tables (r13 verdict item 4).
  *
  * Every iterative graph operator here (PageRank/PPR/LPA/SSSP/k-core)
  * re-joins a small mutating state table against the SAME static edge
  * list each iteration, and the gate queries re-derive that edge list
  * from `documents` each run (md5 link graph, MinHash near-dup graph).
  * `r13_graph_query_cache` showed per-query caching fixes the per-run
  * recompute (20.3 s → 0.50 s at 10×) and recorded the at-scale reading:
  * the static edge table is the thing to MATERIALIZE AND BUCKET while
  * the small iterate mutates. This module is that layout:
  *
  *  - [[write]] persists a prepared (src, dst, deg) frame
  *    (graft.ext.Graphs.prepareEdges) bucketed + sorted by `src` — the
  *    join key every iteration uses — via the same catalog mechanics as
  *    the star-table layouts (Bucketing/Tables). The static out-degree
  *    rides along, so readers also skip the per-run degree groupBy.
  *  - [[read]] re-attaches the bucketed table in a fresh session (bucket
  *    ids ride in file names — the Tables.resolve re-registration
  *    pattern), failing loudly if the layout was never written.
  *
  * Effect on the iteration plan (measured, BENCH_SCALE r14_edge_store): the
  * edges ⋈ ranks join keeps its bucketed-scan partitioning on the edge
  * side — the per-iteration exchange of the O(edges) operand disappears
  * and only the O(nodes) rank table shuffles. At 100 TB that is the
  * difference between moving the corpus-derived graph every iteration
  * and moving 16 bytes a node.
  */
object EdgeStore {

  /** Same bucket count as the star layouts: aligned with the session
    * shuffle partitioning so bucketed scans line up with shuffle output. */
  val BucketCount: Int = graft.Tables.BucketCount

  def tableName(name: String): String = s"graft_edges_$name"

  /** Persist `ed` — a prepared (src, dst, deg) frame — as the bucketed
    * at-rest edge table `name`. Overwrites any previous layout. */
  def write(ed: DataFrame, name: String): Unit = {
    val spark = ed.sparkSession
    val t = tableName(name)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // saveAsTable would collide with a dead catalog entry's directory
    // after a crashed writer; clear the location first (same discipline
    // as SparkTestSession.dropManagedTable)
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$t")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    Bucketing.writeBucketed(ed, t, "src", BucketCount)
  }

  /** Read the at-rest edge table `name`, re-registering the external
    * bucketed table if this session's in-memory catalog has not seen it
    * (the writing session's metadata dies with it; bucket ids survive in
    * the file names). Fails loudly if the layout was never written — a
    * silent re-derivation would invalidate any A/B read off it. */
  def read(spark: SparkSession, name: String): DataFrame = {
    val t = tableName(name)
    if (!spark.catalog.tableExists(t)) {
      val loc = s"${spark.conf.get("spark.sql.warehouse.dir")}/$t"
      val fsPath = new org.apache.hadoop.fs.Path(loc)
      val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
      require(fs.exists(fsPath),
        s"edge layout '$name' selected but neither catalog table $t nor " +
          s"its warehouse dir $loc exists — EdgeStore.write it first " +
          "(no silent re-derivation)")
      val cols = spark.read.parquet(loc).schema
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE $t ($cols) USING parquet CLUSTERED BY (src) " +
        s"SORTED BY (src) INTO $BucketCount BUCKETS LOCATION '$loc'")
    }
    spark.table(t)
  }
}
