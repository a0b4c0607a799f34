package graft.parse

import graft.ids.IdMinter
import graft.model._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  *    scan's own sorted file listing (dense by path, no Spark job), and the
  *    (path → id) map broadcast-joins back, so file payloads never shuffle;
  *  - problem ids come from dictionary encoding (reference problem_data map,
  *    src/db_loader.clj:82-84) as a broadcast-joined dimension.
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
    *                    used — incremental callers (IngestStream) thread it
    *                    into the next batch so ids stay stable across batches
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

  private def flatten(parsed: Dataset[(Long, String, String, ParsedRun)])
      : Dataset[FlatRow] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.flatMap { case (id, path, mtime, run) =>
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
    }
  }

  /** Full load: the four Clojush tables (reference src/db_loader.clj:36-39).
    * Ids AND the problem dictionary are minted driver-side from
    * the scan's file listing, rendered as `_metadata.file_path` renders
    * it ([[listStatuses]]; LogPipelineSpec pins the parity for names with
    * spaces and `%`) at zero extra Spark jobs,
    * since the file-source listing already materialized every FileStatus
    * in the driver's InMemoryFileIndex. The corpus is then scanned, parsed
    * and flattened exactly once (see [[tablesFromFlat]]).
    */
  def load(spark: SparkSession, logDir: String, cfg: LoadConfig = LoadConfig())
      : LoadedTables = {
    import spark.implicits._
    val df = spark.read.option("wholetext", "true").text(logDir)
    val statuses = listStatuses(spark, df)
    val paths = statuses.map(_._1)
    val idOf = paths.zipWithIndex
      .map { case (p, i) => (p, cfg.baseId + i + 1L) }.toMap
    // dictionary minted fully driver-side (zero jobs) — ordering parity
    // with the DataFrame arm is pinned by IdMinterSpec
    val dim = IdMinter
      .dictionaryEncodeLocal(paths.map(problemNameOf(_, cfg)))
      .toDF("problem_name", "problem_id")

    val flat = flatFromStatuses(spark, statuses, idOf, cfg, prelisted = Some(df))
    tablesFromFlat(flat, cfg, Some(dim), expectedFiles = Some(paths.length))
  }

  /** Flat parse rows for an explicit, sorted (path, size, mtimeMillis)
    * listing with caller-minted ids — the big/small dispatch shared by the
    * batch `load` and the streaming per-micro-batch path (IngestStream):
    * files over `cfg.bigFileBytes` (gz-adjusted, [[effectiveSize]]) parse
    * chunked via BigLogParse, the rest ride one wholetext task per file.
    * Paths must be in the `_metadata.file_path` rendering ([[renderPath]])
    * so the id-map join keys match byte-for-byte.
    *
    * @param prelisted the already-listed wholetext frame covering EXACTLY
    *        the listed paths, if the caller has one (batch `load`) — reused
    *        so the no-big-files fast path re-lists nothing
    */
  private[graft] def flatFromStatuses(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      idOf: Map[String, Long],
      cfg: LoadConfig,
      prelisted: Option[DataFrame] = None): Dataset[FlatRow] = {
    import spark.implicits._
    val paths = statuses.map(_._1)
    if (paths.isEmpty) return spark.emptyDataset[FlatRow]

    // big-file dispatch: the rare oversized log must not ride the one-task
    // wholetext path
    val big = statuses
      .filter(s => effectiveSize(s._1, s._2) > cfg.bigFileBytes).map(_._1)

    def wholetextFlat(input: Seq[String]): Dataset[FlatRow] = {
      val src = prelisted
        .filter(_ => input == paths) // unchanged fast path: no re-listing
        .getOrElse(spark.read.option("wholetext", "true")
          .text(input.map(hadoopPath): _*))
      val idMap = input.map(p => (p, idOf(p))).toDF("path", "id")
      val parsed = src
        .select(
          $"value",
          $"_metadata.file_path".as("path"),
          date_format($"_metadata.file_modification_time", DateFmt).as("mtime"))
        .as[(String, String, String)]
        .map { case (content, path, mtime) =>
          (path, mtime, LogParser.parseClojush(content, cfg.skipNils))
        }
        .toDF("path", "mtime", "run")
        .join(broadcast(idMap), Seq("path"))
        .select($"id", $"path", $"mtime", $"run")
        .as[(Long, String, String, ParsedRun)]
      flatten(parsed)
    }

    if (big.isEmpty) wholetextFlat(paths)
    else {
      val tz = java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone",
          java.util.TimeZone.getDefault.getID))
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern(DateFmt).withZone(tz)
      val mtimeMillis = statuses.map(s => s._1 -> s._3).toMap
      val bigFlats = big.map { p =>
        val mtime = fmt.format(
          java.time.Instant.ofEpochMilli(mtimeMillis(p)))
        BigLogParse.flatRows(spark, p, idOf(p), mtime, cfg)
      }
      val small = paths.diff(big)
      val parts =
        (if (small.nonEmpty) Seq(wholetextFlat(small)) else Nil) ++ bigFlats
      parts.reduce(_ union _)
    }
  }

  /** (path, size, mtime-millis) for every file behind `df`, sorted by
    * path — straight from the scan's own FileIndex: zero extra jobs AND
    * zero per-file stat RPCs (a 500-file re-stat loop cost ~0.5s). Paths
    * are rendered by [[renderPath]], the form `_metadata.file_path`
    * yields, so id-map join keys match byte-for-byte (LogPipelineSpec
    * pins the parity for names with spaces and `%`).
    * Falls back to inputFiles + stat for non-HadoopFsRelation plans.
    * Shared by the Clojush and ECJ load paths.
    */
  private[parse] def listStatuses(spark: SparkSession, df: DataFrame)
      : Seq[(String, Long, Long)] = {
    val fromIndex = org.apache.spark.sql.graft.CatalystBridge.fileStatuses(df)
    val statuses =
      if (fromIndex.nonEmpty || df.inputFiles.isEmpty) fromIndex
      else {
        val conf = spark.sessionState.newHadoopConf()
        df.inputFiles.toSeq.map { u =>
          val hp = new Path(new java.net.URI(u))
          hp.getFileSystem(conf).getFileStatus(hp)
        }
      }
    statuses.map(st => (renderPath(st.getPath), st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

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

  /** The four tables from an already-flattened Dataset — the common tail of
    * the wholetext, chunked-big-file and streaming paths. Caches `flat`;
    * `release()` unpersists it. */
  private[graft] def tablesFromFlat(
      flatIn: Dataset[FlatRow],
      cfg: LoadConfig,
      prebuiltProblemDim: Option[DataFrame] = None,
      expectedFiles: Option[Int] = None): LoadedTables = {
    val spark = flatIn.sparkSession
    import spark.implicits._

    val flat = flatIn.cache()

    // runtime drift guard: every listed file must surface as exactly one
    // kind=0 row — a silent mismatch between the driver-minted id map's
    // path rendering and `_metadata.file_path` would otherwise drop whole
    // files at the inner broadcast join. Costs one scan of the cache the
    // first table consumption was about to build anyway.
    expectedFiles.foreach { n =>
      val got = flat.filter($"kind" === 0).count()
      require(got == n,
        s"parsed file-row count $got != listed file count $n — path " +
          "rendering drift between the driver id map and _metadata.file_path")
    }

    val files = flat.filter($"kind" === 0)
      .select($"id", $"path", $"mtime", $"version")
      .withColumn("problem_name", problemNameCol(cfg))

    // dictionary-encode problem names (I2/J1): tiny dim, broadcast join
    val problemDim = prebuiltProblemDim.getOrElse(
      IdMinter.dictionaryEncode(files, "problem_name", "problem_id"))

    val experiments = files
      .join(broadcast(problemDim), Seq("problem_name"))
      .select(
        col("id"),
        lit(cfg.user).as("user"),
        col("mtime").as("rundate"),
        col("problem_name"),
        col("problem_id"),
        col("version").as("clojush_version"),
        col("path").as("logfile_location"),
        date_format(current_timestamp(), DateFmt).as("csv_write_time"))

    val experiment = flat.filter($"kind" === 1)
      .select($"id", $"parameter", $"value")

    val generations = flat.filter($"kind" === 2)
      .select($"id", $"gennum", $"parameter", $"value")

    val summary = flat.filter($"kind" === 3)
      .select($"id", $"successp", $"gennum".as("maxgen"))

    LoadedTables(experiments, experiment, generations, summary, problemDim,
      release = () => { flat.unpersist(); () })
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
