package graft.parse

import graft.ids.IdMinter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ECJ star-schema load pipeline (reference src/parse_logs_ecj.clj /
  * SURVEY.md §3.3): dimension lookups + get-or-create, LIKE-join problem
  * resolution, per-file parse into generations EAV.
  *
  * The reference drives this REPL-style with per-statement JDBC; here each
  * step is a DataFrame transform: dimensions are broadcast get-or-create
  * (J5 = anti-join + union), the problem lookup is the reference's
  * `probname LIKE '%<folder-leaf>%'` theta join (J3), and the parse path is
  * per-file in-task (zero shuffle), like the Clojush pipeline.
  */
object EcjPipeline {

  /** J5 get-or-create (reference new-batch, :51-60): keep existing
    * (name → id) rows, mint dense ids past the max for unseen names.
    */
  def getOrCreate(existing: DataFrame, incoming: DataFrame,
      nameCol: String, idCol: String): DataFrame =
    IdMinter.dictionaryEncode(incoming, nameCol, idCol, Some(existing))

  /** J3 LIKE-join (reference :43-46): resolve each folder leaf to problem
    * ids whose probname contains it.
    */
  def resolveProblems(problems: DataFrame, folders: DataFrame): DataFrame =
    folders.join(broadcast(problems),
      col("probname").contains(col("folder_leaf")))

  /** One cleaned ECJ group → EAV rows. gennum comes from the group-head
    * `Generation: N` (−1 for the `End of Run` group). Shared by the
    * wholetext and chunked (BigLogParse.ecjGenerations) paths so row
    * semantics cannot diverge.
    */
  private[parse] def genRows(expid: Long,
      group: Vector[(String, Option[String])]): Vector[(Long, Int, String, String)] = {
    val gennum = group.collectFirst {
      case ("Generation", Some(n)) if n.forall(_.isDigit) => n.toInt
    }.getOrElse(-1)
    group.map { case (k, v) => (expid, gennum, k, v.orNull) }
  }

  /** Parse every ECJ stat file under `glob` into generations EAV:
    * (expid, gennum, parameter, value); expid is minted per file, dense by
    * sorted path from `baseId`. Files above `bigFileBytes` bypass the
    * one-task wholetext read and parse chunked
    * (BigLogParse.ecjGenerations) — the reference's cluster-folder stat
    * files are exactly this multi-GB shape (src/parse_logs_ecj.clj:11-18).
    */
  def loadGenerations(spark: SparkSession, glob: String, baseId: Long = 0L,
      bigFileBytes: Long = 256L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", "true").text(glob)
      .select($"value", $"_metadata.file_path".as("path"))
    // ids + sizes driver-side via the shared FileIndex helper (paths in
    // _metadata's rendering, stat-fallback included — see
    // LogPipeline.listStatuses): dense by sorted path
    val statuses = LogPipeline.listStatuses(spark, raw)
    val idOf = statuses.map(_._1).zipWithIndex
      .map { case (p, i) => (p, baseId + i + 1L) }.toMap
    gensFromStatuses(spark, statuses, idOf, bigFileBytes, prelisted = Some(raw))
  }

  /** Generations EAV for an explicit, sorted (path, size, mtimeMillis)
    * listing with caller-minted expids — the big/small dispatch shared by
    * the batch [[loadGenerations]] and the streaming per-micro-batch path
    * (IngestStream.runEcj). Mirrors LogPipeline.flatFromStatuses.
    */
  private[graft] def gensFromStatuses(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      idOf: Map[String, Long],
      bigFileBytes: Long,
      prelisted: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val paths = statuses.map(_._1)
    if (paths.isEmpty)
      return spark.emptyDataset[(Long, Int, String, String)]
        .toDF("expid", "gennum", "parameter", "value")
    val big = statuses
      .filter(s => LogPipeline.effectiveSize(s._1, s._2) > bigFileBytes)
      .map(_._1)
    val small = paths.diff(big)

    val smallRows =
      if (small.isEmpty) None
      else {
        val idMap = small.map(p => (p, idOf(p))).toDF("path", "expid")
        val src = prelisted
          .filter(_ => small == paths) // same scan the ids came from: parity by construction
          .getOrElse {
            val reread = spark.read.option("wholetext", "true")
              .text(small.map(LogPipeline.hadoopPath): _*)
            // drift guard for the re-listed scan: its FileIndex rendering
            // must reproduce the id map's keys exactly, else the inner
            // broadcast join below would silently drop whole files.
            // Driver-side (the listing is already materialized): zero jobs.
            val rerePaths = LogPipeline.listStatuses(spark, reread).map(_._1)
            require(rerePaths.toSet == small.toSet,
              s"re-read path rendering drift: ${rerePaths.toSet.diff(small.toSet).take(3)}" +
                s" vs ${small.toSet.diff(rerePaths.toSet).take(3)}")
            reread.select($"value", $"_metadata.file_path".as("path"))
          }
        Some(
          src
            .join(broadcast(idMap), Seq("path"))
            .select($"expid", $"value")
            .as[(Long, String)]
            .flatMap { case (expid, content) =>
              LogParser.parseEcj(content).flatMap(genRows(expid, _))
            })
      }
    val bigRows = big.map(p => BigLogParse.ecjGenerations(spark, p, idOf(p)))
    (smallRows.toSeq ++ bigRows).reduce(_ union _)
      .toDF("expid", "gennum", "parameter", "value")
  }

  /** Parse a flat `key=value` parameter file (the reference's broken
    * exp-param-vals, src/parse_logs_ecj.clj:62-65 — intended behavior) into
    * experiment EAV rows for `expid`.
    */
  def paramFileRows(spark: SparkSession, path: String, expid: Long): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .filter(_.contains("="))
      .map { l =>
        val kv = l.split("=", 2)
        (expid, kv(0).trim, if (kv.length > 1) kv(1).trim else "")
      }
      .toDF("expid", "parameter", "value")
  }
}
