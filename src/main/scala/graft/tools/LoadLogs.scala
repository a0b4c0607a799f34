package graft.tools

import graft.parse.LogPipeline
import graft.sinks.CsvSink
import org.apache.spark.sql.SparkSession

/** CLI entry point for the log-load pipeline — the engine's equivalent of the
  * reference's `lein run -m db_loader :filename F …` (SURVEY.md §3.1).
  *
  * Usage:
  *   runMain graft.tools.LoadLogs <logGlob> <outDir> [user] [skipNils]  # Clojush
  *   runMain graft.tools.LoadLogs --ecj <statGlob> <outDir>             # ECJ
  * Writes the load tables as CSV under <outDir>/<table>/ and prints
  * per-table row counts.
  */
object LoadLogs {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--ecj")) { ecjMain(args.drop(1)); return }
    require(args.length >= 2, "usage: LoadLogs <logGlob> <outDir> [user] [skipNils]")
    val Array(logGlob, outDir) = args.take(2)
    val user = if (args.length > 2) args(2) else "spark"
    val skipNils = if (args.length > 3) args(3).toBoolean else true

    val spark = session("graft-load-logs")

    val cfg = LogPipeline.LoadConfig(user = user, skipNils = skipNils)
    val tables = LogPipeline.load(spark, logGlob, cfg)

    val out = Seq(
      "experiments" -> tables.experiments,
      "experiment" -> tables.experiment,
      "generations" -> tables.generations,
      "summary" -> tables.summary)
    out.foreach { case (name, df) =>
      CsvSink.append(df, s"$outDir/$name")
      println(s"[load] $name: ${df.count()} rows -> $outDir/$name")
    }
    tables.release()
    spark.stop()
  }

  private def ecjMain(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LoadLogs --ecj <statGlob> <outDir>")
    val Array(statGlob, outDir) = args.take(2)
    val spark = session("graft-load-ecj")
    val gens = graft.parse.EcjPipeline.loadGenerations(spark, statGlob)
    CsvSink.append(gens, s"$outDir/generations")
    println(s"[load] generations: ${gens.count()} rows -> $outDir/generations")
    spark.stop()
  }

  /** SPARK_MASTER picks the deployment (default local[8]). */
  private def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
