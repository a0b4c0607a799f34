package perfbench

import graft.{BenchProtocol, QueryDef}
import graft.parse.LogPipeline
import graft.sinks.{CsvSink, JdbcSink}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One workload: inputs made during set-up, then passes timed by the
  * caller. `pass` runs the timed work inside call spans; `reset` and `check`
  * run between passes and are not timed. */
trait Workload {
  /** Items one pass lands: logs for the ETL workloads, queries otherwise. */
  def items: Int
  def opsPerPass: Int
  /** Makes the inputs under `dir`; part of set-up. */
  def prepare(spark: SparkSession, dir: Path): Unit
  def reset(spark: SparkSession): Unit
  def pass(spark: SparkSession, t: Tracer): Unit
  /** One message per operation whose output is wrong. */
  def check(spark: SparkSession): Seq[String]
  /** Input description for the run record. */
  def describe: Seq[(String, Any)]
}

/** Log folders to tables: `LogPipeline.load`, the CSV sink for all four
  * tables, then the reference's database step into embedded in-memory Derby
  * (`mysqlimport --replace` for experiments/summary is `JdbcSink.upsert`
  * keyed on id; the other two tables append). */
final class EtlWorkload(logCount: Int, seed: Long) extends Workload {
  private var corpus: LogGen.Corpus = _
  private var csvDir: Path = _
  private var dbUrl: String = _
  private var schemas = Map.empty[String, StructType]
  private val cfg = LogPipeline.LoadConfig(user = "perfbench")
  private val tables = Seq("experiments", "experiment", "generations", "summary")

  def logs: LogGen.Corpus = corpus
  def items: Int = logCount
  /** One operation per table and sink. */
  def opsPerPass: Int = tables.length * 2

  def prepare(spark: SparkSession, dir: Path): Unit = {
    corpus = LogGen.write(dir.resolve("logs"), logCount, seed)
    csvDir = dir.resolve("csv")
    dbUrl = s"jdbc:derby:memory:${dir.getFileName};create=true"
    // `user` is reserved in Derby: the database column is run_user
    sql(Seq(
        "CREATE TABLE experiments (id BIGINT PRIMARY KEY, run_user VARCHAR(64)," +
          " rundate VARCHAR(32), problem_name VARCHAR(256), problem_id BIGINT," +
          " clojush_version VARCHAR(64), logfile_location VARCHAR(4096)," +
          " csv_write_time VARCHAR(32))",
        "CREATE TABLE experiment (id BIGINT, parameter VARCHAR(256)," +
          " value VARCHAR(256))",
        "CREATE TABLE generations (id BIGINT, gennum INT," +
          " parameter VARCHAR(256), value VARCHAR(256))",
        "CREATE TABLE summary (id BIGINT PRIMARY KEY, successp BOOLEAN," +
          " maxgen INT)"))
  }

  private def sql(stmts: Seq[String]): Unit = {
    val c = java.sql.DriverManager.getConnection(dbUrl)
    try stmts.foreach(s => c.createStatement().execute(s)) finally c.close()
  }

  def reset(spark: SparkSession): Unit = {
    FileTree.deleteTree(csvDir)
    sql(tables.map(t => s"TRUNCATE TABLE $t"))
  }

  def pass(spark: SparkSession, t: Tracer): Unit = {
    val loaded = t.span("parse.load") {
      LogPipeline.load(spark, corpus.glob, cfg)
    }
    try {
      val out = Seq("experiments" -> loaded.experiments,
        "experiment" -> loaded.experiment,
        "generations" -> loaded.generations, "summary" -> loaded.summary)
      schemas = out.map { case (n, df) => n -> df.schema }.toMap
      out.foreach { case (n, df) =>
        t.span(s"sinks.csv.$n") { CsvSink.append(df, csvDir.resolve(n).toString) }
      }
      t.span("sinks.jdbc.experiments") {
        JdbcSink.upsert(loaded.experiments.withColumnRenamed("user", "run_user"),
          dbUrl, "experiments", Seq("id"))
      }
      t.span("sinks.jdbc.summary") {
        JdbcSink.upsert(loaded.summary, dbUrl, "summary", Seq("id"))
      }
      t.span("sinks.jdbc.experiment") {
        JdbcSink.append(loaded.experiment, dbUrl, "experiment")
      }
      t.span("sinks.jdbc.generations") {
        JdbcSink.append(loaded.generations, dbUrl, "generations")
      }
    } finally loaded.release()
  }

  def check(spark: SparkSession): Seq[String] =
    corpus.expected.byTable.flatMap { case (table, want) =>
      val csv = scala.util.Try(CsvSink.read(spark,
        csvDir.resolve(table).toString, schemas(table)).count())
      val db = scala.util.Try {
        val c = java.sql.DriverManager.getConnection(dbUrl)
        try {
          val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
          rs.next(); rs.getLong(1)
        } finally c.close()
      }
      Seq("csv" -> csv, "jdbc" -> db).collect {
        case (sink, got) if !got.toOption.contains(want) =>
          s"$sink.$table: expected $want rows, got ${got.fold(_.toString, _.toString)}"
      }
    }

  /** Bytes the CSV sink stored (part files) after the last pass. */
  def csvBytes: Long = FileTree.sizeOf(csvDir, _.startsWith("part-"))

  /** Rows one pass lands across both sinks. */
  def rowsLanded: Long = corpus.expected.byTable.map(_._2).sum * 2

  def describe: Seq[(String, Any)] = Seq("logs" -> corpus.logs,
    "log_bytes" -> corpus.bytes,
    "expected_rows" -> corpus.expected.byTable.toMap)
}

/** Registry queries over a parquet fixture, each built by `QueryDef.run`
  * and forced by `BenchProtocol.force` on a cleared session cache. */
final class QueryWorkload(dataDir: Path, names: Seq[String],
    expected: Map[String, (Long, String)]) extends Workload {
  private val defs = QueryDef.all.map(q => q.name -> q).toMap
  private var seen = Map.empty[String, Observation]
  def items: Int = names.length
  def opsPerPass: Int = names.length

  def prepare(spark: SparkSession, dir: Path): Unit =
    require(Files.isDirectory(dataDir), s"missing query fixture $dataDir")

  def reset(spark: SparkSession): Unit = seen = Map.empty

  /** The fingerprint is observed while the forcing write consumes the rows
    * (`Dataset.observe`), so checking every pass costs no extra job. */
  def pass(spark: SparkSession, t: Tracer): Unit = names.foreach { q =>
    spark.catalog.clearCache()
    t.span(s"query.$q") {
      val df = t.span("queries.build") { defs(q).run(spark, dataDir.toString) }
      val obs = Observation(s"fingerprint_$q")
      t.span("queries.exec") { BenchProtocol.force(QueryWorkload.observed(df, obs)) }
      seen += q -> obs
    }
  }

  def check(spark: SparkSession): Seq[String] = names.flatMap { q =>
    val got = seen.get(q).map(o => scala.util.Try(QueryWorkload.fingerprint(o)))
    (got, expected.get(q)) match {
      case (Some(scala.util.Success(fp)), Some(want)) if fp == want => None
      case (_, None) => Some(s"$q: no expected fingerprint")
      case (g, Some(want)) => Some(s"$q: expected $want, got $g")
    }
  }

  def fingerprintOf(q: String): (Long, String) =
    QueryWorkload.fingerprint(seen(q))

  def describe: Seq[(String, Any)] =
    Seq("fixture" -> dataDir.getFileName.toString, "queries" -> names)
}

object QueryWorkload {
  /** Row count plus an order-independent hash of the rows: the sum of each
    * row's xxhash64, summed exactly as a decimal. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(20,0)")),
        lit(0).cast("decimal(38,0)")).as("hash"))
  }

  def fingerprint(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      m("hash").asInstanceOf[java.math.BigDecimal].toPlainString)
  }
}

object FileTree {
  def deleteTree(p: Path): Unit =
    if (p != null && Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def sizeOf(p: Path, keep: String => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var total = 0L
        s.filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
          .forEach(f => total += Files.size(f))
        total
      } finally s.close()
    }
}
