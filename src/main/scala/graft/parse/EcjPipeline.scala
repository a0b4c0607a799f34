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
  * the Clojush load's file dispatch (LogPipeline.dispatch): per-file
  * in-task (zero shuffle), oversized files chunked (BigLogParse).
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
    * sorted path from `baseId`. Files above `bigFileBytes` (default: the
    * Clojush load's) bypass the one-task wholetext read and parse chunked
    * (BigLogParse.ecjGenerations) — the reference's cluster-folder stat
    * files are exactly this multi-GB shape (src/parse_logs_ecj.clj:11-18).
    */
  def loadGenerations(spark: SparkSession, glob: String, baseId: Long = 0L,
      bigFileBytes: Long = LogPipeline.LoadConfig().bigFileBytes): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(glob)
    gensFromStatuses(spark, LogPipeline.listStatuses(raw), baseId,
      bigFileBytes, prelisted = Some(raw))
  }

  /** Generations EAV for a sorted (path, size, mtimeMillis) listing, expids
    * dense by path from `base + 1`, for [[loadGenerations]] and each
    * micro-batch of IngestStream.runEcj: LogPipeline.dispatch with the
    * per-file parser (`LogParser.parseEcj`) and `BigLogParse.ecjGenerations`.
    * The frame may be consumed long after this returns, so its id broadcast
    * is left to Spark's ContextCleaner.
    */
  private[graft] def gensFromStatuses(
      spark: SparkSession,
      statuses: Seq[(String, Long, Long)],
      base: Long,
      bigFileBytes: Long,
      prelisted: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    LogPipeline.dispatch[(Long, Int, String, String)](
      spark, statuses, base, bigFileBytes, prelisted)(
      wholetext = (src, ids) => src
        .select($"value", $"_metadata.file_path".as("path"))
        .as[(String, String)]
        .flatMap { case (content, path) =>
          val expid = LogPipeline.idFor(ids.value, path)
          LogParser.parseEcj(content).flatMap(genRows(expid, _))
        },
      chunked = (path, expid, _) => BigLogParse.ecjGenerations(spark, path, expid))
      ._1.toDF("expid", "gennum", "parameter", "value")
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
