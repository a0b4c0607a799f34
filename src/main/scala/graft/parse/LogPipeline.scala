package graft.parse

import graft.ids.IdMinter
import graft.model._
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Spark wrapper for the Clojush log-load pipeline (reference
  * src/db_loader.clj:228-243 / SURVEY.md §3.1), Spark-first:
  *
  *  - one row per file via `wholetext` text source — segmentation is
  *    file-local and order-sensitive, so parsing runs inside one task per
  *    file with ZERO shuffles on the parse path; parallelism is across files;
  *  - provenance (`_metadata.file_path`) and run date
  *    (`_metadata.file_modification_time`, reference src/db_loader.clj:106-109)
  *    come from file metadata columns, not driver-side File calls;
  *  - `.gz` logs decompress transparently in the source (no gunzip shell-out,
  *    reference src/db_loader.clj:339-341);
  *  - ids are minted deterministically per batch, driver-side, from the
  *    scan's own sorted file listing (dense by path, no Spark job); the
  *    (path → id) map ships as a broadcast variable that each parse task
  *    looks up, so file payloads never join or shuffle;
  *  - one ingest core, [[dispatch]] (ids, big/small split, wholetext
  *    re-read), serves this load, the ECJ load and IngestStream;
  *  - problem ids come from dictionary encoding (reference problem_data map,
  *    src/db_loader.clj:82-84), built from the listing and looked up as a
  *    map literal ([[problemIdCol]]), not joined.
  */
object LogPipeline {

  /** @param bigFileBytes files larger than this bypass the one-task
    *        `wholetext` path and parse chunked (BigLogParse): byte-range
    *        line splits + segment-keyed parallelism, so one multi-GB log
    *        cannot skew or OOM a task. Default 256 MB ≈ two HDFS blocks —
    *        the point where a single wholetext task stops being the
    *        cheapest correct plan.
    */
  final case class LoadConfig(
      user: String = "spark",
      skipNils: Boolean = true,
      baseId: Long = 0L,
      problemName: Option[String] = None,
      bigFileBytes: Long = 256L * 1024 * 1024)

  /** @param problemDim the (problem_name, problem_id) dictionary this load
    *                    used — a restarted stream seeds IngestStream.run's
    *                    `initialProblemDim` with it so ids stay stable
    * @param release returns cached intermediates to the block manager —
    *                 call once the tables have been consumed (sunk/collected)
    */
  final case class LoadedTables(
      experiments: DataFrame,
      experiment: DataFrame,
      generations: DataFrame,
      summary: DataFrame,
      problemDim: DataFrame,
      release: () => Unit = () => ())

  private val DateFmt = "yyyy-MM-dd HH:mm:ss"

  /** Flat single-pass parse output: one narrow row per fact, tagged by
    * `kind` (0 = file header, 1 = experiment param, 2 = generation cell,
    * 3 = summary). Unused fields are ""/0/false — the columnar cache
    * run-length-encodes them away. Caching THIS instead of the nested
    * `ParsedRun` struct is the ETL hot-path fix: the nested encoder's
    * per-row serialization of Seq[(String,String)] trees cost more than
    * re-parsing; flat primitive columns cache at memory bandwidth.
    */
  private[graft] final case class FlatRow(
      id: Long, kind: Int, gennum: Int, parameter: String, value: String,
      path: String, mtime: String, version: String, successp: Boolean)

  /** Full load: the four Clojush tables (reference src/db_loader.clj:36-39).
    * Ids AND the problem dictionary are minted driver-side from the scan's
    * own file listing ([[listStatuses]]) at zero extra Spark jobs, since
    * the file-source listing already materialized every FileStatus in the
    * driver's InMemoryFileIndex. The corpus is then scanned, parsed and
    * flattened exactly once (see [[tablesFromStatuses]]).
    */
  def load(spark: SparkSession, logDir: String, cfg: LoadConfig = LoadConfig())
      : LoadedTables = {
    val df = spark.read.option("wholetext", "true").text(logDir)
    tablesFromStatuses(spark, listStatuses(df), cfg.baseId, cfg,
      knownDim = Nil, prelisted = Some(df))._1
  }

  /** The one file dispatch of the ingest path, shared by both log formats
    * in batch and streaming (`load`, `EcjPipeline.loadGenerations`,
    * `IngestStream.run`/`runEcj`). For a sorted (path, size, mtimeMillis)
    * listing it mints the ids, dense by path from `base + 1`, then splits
    * the files: those over `bigFileBytes` (gz-adjusted, [[effectiveSize]])
    * go one by one to `chunked` (BigLogParse) as (path, id, mtimeMillis),
    * and the rest ride one wholetext task per file through `wholetext`.
    * Paths must be in the `_metadata.file_path` rendering ([[renderPath]])
    * so the id-map keys match byte-for-byte.
    *
    * @param prelisted the already-listed wholetext frame covering EXACTLY
    *        the listed paths, if the caller has one (the batch loads) —
    *        reused so the no-big-files fast path re-lists nothing
    * @param wholetext gets the wholetext frame of the small files and the
    *        broadcast (path → id) map, which each task reads through
    *        [[idFor]] — no join, no broadcast job
    * @return the rows, and the id broadcast if the wholetext arm ran, for
    *         the caller to unpersist once the rows are consumed
    */
  private[graft] def dispatch[R: Encoder](
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      base: Long,
      bigFileBytes: Long,
      prelisted: Option[DataFrame])(
      wholetext: (DataFrame, Broadcast[Map[String, Long]]) => Dataset[R],
      chunked: (String, Long, Long) => Dataset[R])
      : (Dataset[R], Option[Broadcast[Map[String, Long]]]) = {
    val paths = statuses.map(_._1)
    if (paths.isEmpty) return (spark.emptyDataset[R], None)
    val idOf = paths.zipWithIndex.map { case (p, i) => (p, base + i + 1L) }.toMap

    // big-file dispatch: the rare oversized log must not ride the one-task
    // wholetext path
    val big = statuses.filter(s => effectiveSize(s._1, s._2) > bigFileBytes)
    val small = paths.diff(big.map(_._1))
    val smallRows = if (small.isEmpty) None else Some {
      val src = prelisted
        .filter(_ => small == paths) // same scan the ids came from: parity by construction
        .getOrElse {
          val reread = spark.read.option("wholetext", "true")
            .text(small.map(hadoopPath): _*)
          // drift guard for the re-listed scan: its FileIndex rendering
          // must reproduce the id map's keys exactly, else every parse
          // task of a drifted file would fail its id lookup.
          // Driver-side (the listing is already materialized): zero jobs.
          val rerePaths = listStatuses(reread).map(_._1)
          require(rerePaths.toSet == small.toSet, "re-read path rendering drift: " +
            s"${rerePaths.diff(small).take(3)} vs ${small.diff(rerePaths).take(3)}")
          reread
        }
      val ids = spark.sparkContext.broadcast(small.map(p => p -> idOf(p)).toMap)
      (wholetext(src, ids), ids)
    }
    val bigRows = big.map { case (p, _, mtimeMillis) =>
      chunked(p, idOf(p), mtimeMillis) }
    ((smallRows.map(_._1).toSeq ++ bigRows).reduce(_ union _), smallRows.map(_._2))
  }

  /** The id minted for `path` by [[dispatch]]. A path the listing did not
    * mint — its rendering drifted from `_metadata.file_path` — fails the
    * task and names the file; it is never dropped or given a stand-in id.
    */
  private[parse] def idFor(ids: Map[String, Long], path: String): Long =
    ids.getOrElse(path, throw new IllegalStateException(
      s"no id minted for $path: path rendering drift between the listing " +
        "and _metadata.file_path"))

  /** Flat Clojush parse rows for a sorted listing: [[dispatch]] with the
    * per-file parser (`LogParser.parseClojush`) and the chunked one
    * (`BigLogParse.flatRows`).
    */
  private[graft] def flatFromStatuses(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      base: Long,
      cfg: LoadConfig,
      prelisted: Option[DataFrame] = None): Dataset[FlatRow] =
    flatDispatch(spark, statuses, base, cfg, prelisted)._1

  /** [[flatFromStatuses]] plus the id broadcast [[dispatch]] made. */
  private def flatDispatch(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      base: Long,
      cfg: LoadConfig,
      prelisted: Option[DataFrame])
      : (Dataset[FlatRow], Option[Broadcast[Map[String, Long]]]) = {
    import spark.implicits._
    lazy val fmt = java.time.format.DateTimeFormatter.ofPattern(DateFmt)
      .withZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)))
    val skipNils = cfg.skipNils
    dispatch[FlatRow](spark, statuses, base, cfg.bigFileBytes, prelisted)(
      // one typed pass: look the id up, parse, emit the flat rows
      wholetext = (src, ids) => src
        .select(
          $"value",
          $"_metadata.file_path".as("path"),
          date_format($"_metadata.file_modification_time", DateFmt).as("mtime"))
        .as[(String, String, String)]
        .flatMap { case (content, path, mtime) =>
          val id = idFor(ids.value, path)
          val run = LogParser.parseClojush(content, skipNils)
          val header = FlatRow(id, 0, 0, "", "", path, mtime,
            run.clojushVersion.getOrElse(""), successp = false)
          val params = run.headerParams.iterator.map { case (k, v) =>
            FlatRow(id, 1, 0, k, v, "", "", "", successp = false) }
          val gens = run.generations.iterator.flatMap { case (gennum, kvs) =>
            kvs.iterator.map { case (k, v) =>
              FlatRow(id, 2, gennum, k, v, "", "", "", successp = false) } }
          val sum = run.summary.iterator.map { case (s, maxgen) =>
            FlatRow(id, 3, maxgen, "", "", "", "", "", successp = s) }
          Iterator.single(header) ++ params ++ gens ++ sum
        },
      chunked = (path, id, mtimeMillis) => BigLogParse.flatRows(spark, path, id,
        fmt.format(java.time.Instant.ofEpochMilli(mtimeMillis)), cfg))
  }

  /** (path, size, mtime-millis) for every file behind `df`, sorted by
    * path — straight from the scan's own FileIndex: zero extra jobs AND
    * zero per-file stat RPCs (a 500-file re-stat loop cost ~0.5s). Paths
    * are rendered by [[renderPath]], the form `_metadata.file_path`
    * yields, so id-map keys match byte-for-byte (LogPipelineSpec
    * pins the parity for names with spaces and `%`). Every caller passes
    * a `wholetext` text scan, so the plan always holds a HadoopFsRelation.
    */
  private[parse] def listStatuses(df: DataFrame): Seq[(String, Long, Long)] =
    org.apache.spark.sql.graft.CatalystBridge.fileStatuses(df)
      .map(st => (renderPath(st.getPath), st.getLen, st.getModificationTime))
      .sortBy(_._1)

  /** A file's path as `_metadata.file_path` renders it: the URL-encoded
    * URI string (`file:/d/run%20B_u2.log` for the file `run B_u2.log`),
    * where Hadoop's `Path.toString` prints the name unescaped. Paths
    * without spaces, `%` or other characters a URI must escape render
    * identically either way. The re-parse of `toString` is needed: a
    * listed path's own `toUri` does not print in the scan's form. */
  private[graft] def renderPath(p: Path): String = new Path(p.toString).toUri.toString

  /** The Hadoop path string behind a [[renderPath]] rendering — the form
    * a re-read takes, since Hadoop parses path strings unescaped. */
  private[graft] def hadoopPath(rendered: String): String =
    new Path(new java.net.URI(rendered)).toString

  /** Size to compare against the big-file threshold: stat sizes of gzip
    * files are COMPRESSED bytes, and a .gz log expands ~5-15× — without
    * this a 100 MB .gz (≈1-2 GB of text) would ride the one-task wholetext
    * path the threshold exists to prevent. ×10 is a conservative text
    * ratio; an over-estimate merely sends a mid-size file down the chunked
    * path, which is correct (just serial per gz split).
    */
  private[parse] def effectiveSize(path: String, len: Long): Long =
    if (path.endsWith(".gz") || path.endsWith(".tgz")) len * 10 else len

  /** Problem name: explicit config or the log folder leaf (reference arg
    * :problemname, src/db_loader.clj:110-111).
    */
  def problemNameCol(cfg: LoadConfig): org.apache.spark.sql.Column =
    cfg.problemName
      .map(lit)
      .getOrElse(element_at(split(col("path"), "/"), -2))

  /** Driver-side twin of [[problemNameCol]] — same rule applied to one
    * path string (LogPipelineSpec pins the agreement). Lets `load` build
    * the complete problem dictionary from its already-collected path list
    * with zero extra jobs.
    */
  def problemNameOf(path: String, cfg: LoadConfig): String =
    cfg.problemName.getOrElse {
      val parts = path.split("/")
      parts(parts.length - 2)
    }

  /** `problem_id` for the `problem_name` column: a lookup in the
    * dictionary `dim` built from the listing, inlined as a map literal. A
    * name the dictionary lacks fails the query and names the problem —
    * never a null id, never a dropped row.
    */
  private[parse] def problemIdCol(dim: Seq[(String, Long)]): Column =
    coalesce(element_at(typedLit(dim.toMap), col("problem_name")),
      raise_error(concat(lit("problem name missing from the dictionary: "),
        col("problem_name"))))

  /** The four tables for a sorted listing, ids dense by path from
    * `base + 1` — the one body of the batch `load` and of each streaming
    * micro-batch (IngestStream.run). Parses through [[flatFromStatuses]]
    * and caches the flat rows in at most one partition per core, so each
    * table over the cache runs as one wave of tasks; `release()`
    * unpersists the cache and the id broadcast.
    *
    * @param knownDim (problem_name, problem_id) rows from earlier batches
    * @return the tables and the problem dictionary extended past
    *         `knownDim` with this listing's names
    */
  private[graft] def tablesFromStatuses(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      base: Long,
      cfg: LoadConfig,
      knownDim: Seq[(String, Long)],
      prelisted: Option[DataFrame]): (LoadedTables, Seq[(String, Long)]) = {
    import spark.implicits._
    val paths = statuses.map(_._1)
    // get-or-create the problem dictionary (I2/J1): the tables below need a
    // COMPLETE dim — a stale one fails the problemIdCol lookup. Names come
    // free from the listed paths
    // (problemNameOf is the driver-side twin of problemNameCol), and the
    // get-or-create runs driver-side (zero jobs): seen names keep their
    // ids, new names extend past the max. Ordering parity with the
    // DataFrame arm is pinned by IdMinterSpec.
    val dimSeq = IdMinter.dictionaryEncodeLocal(
      paths.map(problemNameOf(_, cfg)), knownDim)
    val problemDim = dimSeq.toDF("problem_name", "problem_id")

    // coalesce only merges: a corpus packed into fewer bins keeps its count
    val (parsed, ids) = flatDispatch(spark, statuses, base, cfg, prelisted)
    val flat = parsed.coalesce(spark.sparkContext.defaultParallelism).cache()

    // runtime drift guard: every listed file must surface as exactly one
    // kind=0 row (a file listed but gone by read time, say). This count is
    // the action that builds the cache the tables then scan.
    val got = flat.filter($"kind" === 0).count()
    require(got == paths.length,
      s"parsed file-row count $got != listed file count ${paths.length} — path " +
        "rendering drift between the driver id map and _metadata.file_path")

    val files = flat.filter($"kind" === 0)
      .select($"id", $"path", $"mtime", $"version")
      .withColumn("problem_name", problemNameCol(cfg))

    val experiments = files
      .select(
        col("id"),
        lit(cfg.user).as("user"),
        col("mtime").as("rundate"),
        col("problem_name"),
        problemIdCol(dimSeq).as("problem_id"),
        col("version").as("clojush_version"),
        col("path").as("logfile_location"),
        date_format(current_timestamp(), DateFmt).as("csv_write_time"))

    val experiment = flat.filter($"kind" === 1)
      .select($"id", $"parameter", $"value")

    val generations = flat.filter($"kind" === 2)
      .select($"id", $"gennum", $"parameter", $"value")

    val summary = flat.filter($"kind" === 3)
      .select($"id", $"successp", $"gennum".as("maxgen"))

    (LoadedTables(experiments, experiment, generations, summary, problemDim,
      release = () => { flat.unpersist(); ids.foreach(_.unpersist()) }), dimSeq)
  }

  /** EDN sidecar join (S4/J6, reference src/db_loader.clj:269-298): read
    * `index.clj` next to the logs (driver-side — one tiny file per folder),
    * join command-map argmaps to runs by filename-embedded uuid, and emit the
    * extra `experiment` EAV rows.
    *
    * @param experiments [[load]]'s `experiments` table (its `id` and
    *        `logfile_location` columns)
    */
  def sidecarParams(
      spark: SparkSession,
      logDir: String,
      experiments: DataFrame): DataFrame = {
    import spark.implicits._
    val indexFile = new java.io.File(logDir, "index.clj")
    val cms: Seq[CommandMap] =
      if (indexFile.isFile)
        Edn.commandMaps(new String(
          java.nio.file.Files.readAllBytes(indexFile.toPath), "UTF-8"))
      else Seq.empty
    if (cms.isEmpty) return spark.emptyDataset[ParamRow].toDF()

    val sidecar = cms.flatMap(cm => cm.argmap.map { case (k, v) => (cm.uuid, k, v) })
      .toDF("uuid", "parameter", "value")
    val runs = experiments.select($"id", $"logfile_location").as[(Long, String)]
      .map { case (id, path) =>
        (id, LogParser.uuidFromFilename(path).getOrElse(""))
      }.toDF("id", "uuid")

    runs.join(broadcast(sidecar), Seq("uuid"))
      .select(col("id"), col("parameter"), col("value"))
  }
}
