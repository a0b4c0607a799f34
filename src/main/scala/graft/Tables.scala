package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Canonical table access for the driver-generated parquet corpus
  * (`/root/testdata/sf*`, see TESTDATA.md). One parquet file per table.
  *
  * All engine queries read through here so that scan options (and, at real
  * cluster scale, things like bucketing metadata or a catalog) live in one
  * place. Reads are plain `spark.read.parquet` — Catalyst handles column
  * pruning + predicate pushdown into the parquet scan — UNLESS an opt-in
  * bucketed at-rest layout is selected (below).
  *
  * ==Bucketed at-rest layouts (opt-in)==
  * At 100 TB the recurring cost of the star-join workload is re-shuffling
  * the SAME fact tables on the SAME keys every query; bucketing pays that
  * shuffle once at write time (the r9 A/B: forced-SMJ j7 below-join
  * exchanges 2→0, join wall halved). Set `SPARK_GRAFT_BUCKETED=<layout>`
  * (env, or the `graft.bucketed` JVM property for in-process probes) and
  * the three star tables resolve to bucketed+sorted catalog tables written
  * by `BenchTune bucketwrite <layout>`:
  *
  *  - `orderkey`: lineitem/orders by the ORDERKEY join key (zero-exchange
  *    orders⋈lineitem — the j7/a6/q5 shape), customer by c_custkey.
  *  - `custkey`: orders by o_custkey (zero-exchange customer⋈orders — the
  *    q3 crossover shuffle — and zero-exchange custkey windows — the w3
  *    shape), lineitem by l_orderkey, customer by c_custkey.
  *
  * One bucketing per table per layout — choosing between them is the
  * workload call a warehouse makes (or it maintains both, as projections).
  * A selected-but-unwritten layout FAILS LOUDLY: a silent parquet fallback
  * would invalidate any A/B read off the bench numbers.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** 32 buckets everywhere (= the session shuffle partitions, so bucketed
    * scans line up with shuffle output). */
  val BucketCount = 32

  /** layout -> (table -> bucket key). Both layouts also bucket `events`
    * by `user_id` (r13 verdict item 5): the event-analytics family
    * (t4_session, t_funnel, t_retention_cohorts, t_session_paths,
    * x_gap_detection) shuffles events by user_id every run — the
    * r9_bucketed_window lesson (windows+joins over one key want that
    * key's bucketing) applied to the second fact table. The events
    * bucketed table is written from the ADAPTED frame (ts normalized to
    * TimestampType at write time), so bucketed reads skip the per-scan
    * ts-type dispatch too. */
  val BucketedLayouts: Map[String, Map[String, String]] = Map(
    "orderkey" -> Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "customer" -> "c_custkey", "events" -> "user_id"),
    "custkey" -> Map("lineitem" -> "l_orderkey", "orders" -> "o_custkey",
      "customer" -> "c_custkey", "events" -> "user_id"))

  /** Catalog-safe tag for a corpus dir: bucketed tables are per-corpus.
    * The readable leaf alone is NOT unique (any two corpora named sf0.1
    * would silently share tables — wrong rows, no error), so the tag
    * carries an 8-hex digest of the FULL path; the leaf stays for
    * human-readable table names. Tables written before this scheme
    * resolve() as missing and fail loudly asking for a bucketwrite —
    * the documented no-silent-fallback contract, not a regression. */
  def dirTag(d: String): String = {
    val leaf =
      d.split('/').filter(_.nonEmpty).last.replaceAll("[^A-Za-z0-9]", "_")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${leaf}_$digest"
  }

  def bucketedName(layout: String, table: String, d: String): String =
    s"graft_bk_${layout}_${table}_${dirTag(d)}"

  /** Active layout: JVM property wins (in-process probes), then env. */
  def activeLayout: Option[String] =
    Option(System.getProperty("graft.bucketed"))
      .orElse(sys.env.get("SPARK_GRAFT_BUCKETED")).filter(_.nonEmpty)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private def resolve(s: SparkSession, d: String, name: String): DataFrame =
    activeLayout match {
      case Some(layout) =>
        val keys = BucketedLayouts.getOrElse(layout, throw new IllegalArgumentException(
          s"unknown bucketed layout '$layout' (known: ${BucketedLayouts.keys.mkString(", ")})"))
        if (!keys.contains(name)) apply(s, d, name)
        else {
          val t = bucketedName(layout, name, d)
          // the default session catalog is in-memory: `bucketwrite`'s
          // saveAsTable leaves the bucketed FILES in the warehouse but its
          // metadata dies with the writing session — re-register the
          // external bucketed table over them on first touch (bucket ids
          // ride in the file names, so the layout survives re-attachment)
          if (!s.catalog.tableExists(t)) {
            val loc = s"${s.conf.get("spark.sql.warehouse.dir")}/$t"
            val fsPath = new org.apache.hadoop.fs.Path(loc)
            val fs = fsPath.getFileSystem(s.sessionState.newHadoopConf())
            require(fs.exists(fsPath), s"bucketed layout '$layout' selected " +
              s"but neither catalog table $t nor its warehouse dir $loc exists — " +
              s"run `BenchTune bucketwrite $layout` against $d first " +
              s"(no silent parquet fallback: it would invalidate the A/B)")
            val key = keys(name)
            // bucketed CREATE TABLE demands an explicit column list —
            // infer it from the files themselves (one footer read)
            val cols = s.read.parquet(loc).schema
              .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
            s.sql(s"CREATE TABLE $t ($cols) USING parquet CLUSTERED BY ($key) " +
              s"SORTED BY ($key) INTO $BucketCount BUCKETS LOCATION '$loc'")
          }
          s.table(t)
        }
      case None => apply(s, d, name)
    }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = resolve(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = resolve(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = resolve(s, d, "lineitem")
  /** `events.ts` has not had a stable parquet type across corpus
    * generations: some fixtures store TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — readable only as a raw long via the legacy
    * conf), the current ones TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (which Spark 4 infers as TIMESTAMP_NTZ). The accessor therefore
    * adapts to the SCANNED type rather than assuming a unit:
    *
    *  - `LongType` (nanos-as-long legacy read): truncate to micros — the
    *    same truncation DuckDB's `CAST(ts AS TIMESTAMP)` performs, so
    *    oracle comparisons stay bit-exact;
    *  - `TimestampNTZType`: cast to the session timestamp type (session TZ
    *    is pinned to UTC everywhere, so the micros value is unchanged and
    *    downstream window/event-time queries keep the TimestampType they
    *    were built against);
    *  - `TimestampType`: pass through.
    *
    * One footer read decides; anything else fails loudly rather than
    * letting ~15 event-time queries break at analysis time (the r11
    * regression this guards against).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val viaLayout = activeLayout
      .exists(l => BucketedLayouts.get(l).exists(_.contains("events")))
    if (viaLayout) resolve(s, d, "events") // ts adapted at WRITE time
    else {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      adaptEventsTs(apply(s, d, "events"), d)
    }
  }

  /** The frame a bucketed-layout writer must persist for `table` — ONE
    * definition shared by BenchTune.writeBucketedTables and the specs so
    * the events adaptation cannot drift: events persists ADAPTED (ts
    * normalized to TimestampType), everything else raw. */
  def bucketedSource(s: SparkSession, sfDir: String, table: String): DataFrame =
    if (table == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      adaptEventsTs(apply(s, sfDir, "events"), sfDir)
    } else apply(s, sfDir, table)

  /** The ts-type dispatch shared by the raw accessor and the bucketed
    * writer (which persists the adapted frame so bucketed reads are
    * dispatch-free). Callers must set `spark.sql.legacy.parquet
    * .nanosAsLong` BEFORE the scan that produced `df` (the accessor
    * above does). */
  def adaptEventsTs(df: DataFrame, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", expr("cast(ts as timestamp)"))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts scanned as unsupported type $other in $d — " +
          "expected long (nanos), timestamp_ntz, or timestamp")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
