package graft.tools

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** The CLI load end to end: logs in a temp dir → `LoadLogs.run` → one CSV
  * directory per table, with the row counts it reports. */
class LoadLogsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A Clojush log with three header params (one nil) and `gens`
    * generation reports of two metrics each. */
  private def clojushLog(gens: Int): String = {
    val reports = (0 until gens).map(g =>
      s"-*- Report at generation $g\nbest-fitness: ${10 - g}.5\nerror: $g")
    ("Clojush version = 1.2.3\npopulation-size = 1000\ntournament-size = nil" +:
      reports :+ s"SUCCESS at generation ${gens - 1}").mkString("\n;;;;;;;;;;\n")
  }

  private def tempDir(prefix: String): Path =
    Files.createTempDirectory(Paths.get("target"), prefix)

  /** Rows in the CSV directory `dir` (header per part-file skipped). */
  private def csvRows(dir: Path): Long =
    spark.read.option("header", "true").csv(dir.toString).count()

  test("Clojush logs: row counts of the four tables, as reported and as written") {
    val logs = tempDir("loadlogs")
    Seq(2, 3, 4).zipWithIndex.foreach { case (gens, i) =>
      Files.writeString(logs.resolve(s"run${i}_u$i.log"), clojushLog(gens))
    }
    val out = tempDir("loadlogs_out")
    val counts = LoadLogs.run(spark, Array(s"$logs/*.log", out.toString))
    val expected = Seq(
      "experiments" -> 3L,
      "experiment" -> 3L * 2,            // version + population-size; nil dropped
      "generations" -> (2L + 3 + 4) * 2, // two metrics per report
      "summary" -> 3L)
    assert(counts == expected)
    expected.foreach { case (t, n) => assert(csvRows(out.resolve(t)) == n, t) }

    // skipNils=false keeps the nil param as a row of its own
    val withNils = LoadLogs.run(spark,
      Array(s"$logs/*.log", tempDir("loadlogs_nils").toString, "spark", "false"))
    assert(withNils.toMap.apply("experiment") == 3L * 3)
  }

  test("--ecj: the generations table, as reported and as written") {
    val stats = tempDir("loadlogs_ecj")
    Seq("a", "b").foreach { n =>
      Files.writeString(stats.resolve(s"$n.stat"),
        """Generation: 0
          |Best Individual: Fitness: 0.82
          |Generation: 1
          |Best Individual: Fitness: 0.95
          |End of Run: found ideal individual""".stripMargin)
    }
    val out = tempDir("loadlogs_ecj_out")
    val counts = LoadLogs.run(spark, Array("--ecj", s"$stats/*.stat", out.toString))
    // per file: two generation groups of two rows each, plus End of Run
    assert(counts == Seq("generations" -> 2L * 5))
    assert(csvRows(out.resolve("generations")) == 2L * 5)
  }
}
