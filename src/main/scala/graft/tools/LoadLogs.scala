package graft.tools

import graft.Sessions
import graft.parse.LogPipeline
import graft.sinks.CsvSink
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point for the log-load pipeline — the engine's equivalent of the
  * reference's `lein run -m db_loader :filename F …` (SURVEY.md §3.1).
  *
  * Usage:
  *   runMain graft.tools.LoadLogs <logGlob> <outDir> [user] [skipNils]  # Clojush
  *   runMain graft.tools.LoadLogs --ecj <statGlob> <outDir>             # ECJ
  * Writes the load tables as CSV under <outDir>/<table>/ and prints
  * per-table row counts. Runs on `Sessions.local` (`SPARK_MASTER` picks the
  * deployment, `SPARK_GRAFT_CPUS` the local core count).
  */
object LoadLogs {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-load-logs", Sessions.defaultCores)
    try run(spark, args) finally spark.stop()
  }

  /** Loads per `args` (the CLI usage above) and writes each table; returns
    * (table, row count) in write order. Leaves `spark` running. */
  def run(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    if (args.headOption.contains("--ecj")) return runEcj(spark, args.drop(1))
    require(args.length >= 2, "usage: LoadLogs <logGlob> <outDir> [user] [skipNils]")
    val Array(logGlob, outDir) = args.take(2)
    val user = if (args.length > 2) args(2) else "spark"
    val skipNils = if (args.length > 3) args(3).toBoolean else true

    val cfg = LogPipeline.LoadConfig(user = user, skipNils = skipNils)
    val tables = LogPipeline.load(spark, logGlob, cfg)
    try write(outDir, Seq(
      "experiments" -> tables.experiments,
      "experiment" -> tables.experiment,
      "generations" -> tables.generations,
      "summary" -> tables.summary))
    finally tables.release()
  }

  private def runEcj(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: LoadLogs --ecj <statGlob> <outDir>")
    val Array(statGlob, outDir) = args.take(2)
    write(outDir, Seq(
      "generations" -> graft.parse.EcjPipeline.loadGenerations(spark, statGlob)))
  }

  private def write(outDir: String, out: Seq[(String, DataFrame)])
      : Seq[(String, Long)] =
    out.map { case (name, df) =>
      CsvSink.append(df, s"$outDir/$name")
      val n = df.count()
      println(s"[load] $name: $n rows -> $outDir/$name")
      name -> n
    }
}
