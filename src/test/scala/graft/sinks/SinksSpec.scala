package graft.sinks

import graft.SparkTestSession
import org.apache.spark.SparkException
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** CSV header/append semantics (K1), dead-letter split (K3), JDBC append +
  * idempotent upsert (K2/K4) against embedded Derby (SURVEY.md §5.4): each
  * JDBC call lands its table in one transaction through one writer task.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("CSV sink: header + append, read-back equals union (K1)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "csv").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    CsvSink.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    CsvSink.append(Seq((3L, "c")).toDF("id", "v"), dir)
    val back = CsvSink.read(spark, dir, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite = the reference's :clean + rewrite
    CsvSink.overwrite(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(CsvSink.read(spark, dir, schema).count() == 1)
  }

  test("dead-letter split: invalid rows diverted with reason, load continues (K3)") {
    val df = Seq(
      (1L, "ok", 10), (2L, null.asInstanceOf[String], 20),
      (3L, "ok", -5), (4L, "fine", 1)).toDF("id", "name", "qty")
    val (valid, rejected) = JdbcSink.deadLetterSplit(df, Seq(
      JdbcSink.Rule("null_name", col("name").isNotNull),
      JdbcSink.Rule("negative_qty", col("qty") >= 0)))
    assert(valid.select("id").as[Long].collect().toSet == Set(1L, 4L))
    val rej = rejected.select("id", "reject_reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rej == Map(2L -> "null_name", 3L -> "negative_qty"))
  }

  val derbyUrl = "jdbc:derby:memory:sinkdb;create=true"

  test("JDBC append writes all rows in txn batches (K2)") {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    conn.createStatement().execute(
      "CREATE TABLE t_append (id BIGINT PRIMARY KEY, v VARCHAR(20))")
    conn.close()
    JdbcSink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      derbyUrl, "t_append")
    val back = spark.read.jdbc(derbyUrl, "t_append", new java.util.Properties)
    assert(back.count() == 2)
  }

  test("JDBC upsert is idempotent and replaces by key (K4/T3)") {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    conn.createStatement().execute(
      "CREATE TABLE t_upsert (id BIGINT PRIMARY KEY, v VARCHAR(20))")
    conn.close()
    val batch1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    JdbcSink.upsert(batch1, derbyUrl, "t_upsert", Seq("id"))
    JdbcSink.upsert(batch1, derbyUrl, "t_upsert", Seq("id")) // re-run: no dupes
    JdbcSink.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"),
      derbyUrl, "t_upsert", Seq("id")) // replace + extend
    val back = spark.read.jdbc(derbyUrl, "t_upsert", new java.util.Properties)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("dialect SQL renderers") {
    val my = JdbcSink.mysqlUpsertSql("t", Seq("id", "v"), Seq("id"))
    assert(my.contains("ON DUPLICATE KEY UPDATE v = VALUES(v)"))
    val pg = JdbcSink.postgresUpsertSql("t", Seq("id", "v"), Seq("id"))
    assert(pg.contains("ON CONFLICT (id)") && pg.contains("EXCLUDED.v"))
  }

  private def ddl(stmt: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try conn.createStatement().execute(stmt) finally conn.close()
  }

  private def readBack(table: String) =
    spark.read.jdbc(derbyUrl, table, new java.util.Properties).collect()

  test("JDBC append is atomic: a failing row leaves the table as it was (K2)") {
    ddl("CREATE TABLE t_atomic (id BIGINT, v VARCHAR(4))")
    JdbcSink.append(Seq((-1L, "pre")).toDF("id", "v"), derbyUrl, "t_atomic")
    // 4 partitions; row 1250 (third partition, third batch of 500) is too
    // long for VARCHAR(4), after two batches have already been executed
    val df = spark.range(0, 2000, 1, 4)
      .selectExpr("id", "case when id = 1250 then 'toolong' else 'ok' end as v")
    intercept[SparkException](JdbcSink.append(df, derbyUrl, "t_atomic"))
    val ids = readBack("t_atomic").map(_.getLong(0)).toSet
    val kept = ids.size - 1
    assert(kept == 0, "rows of the failed append were kept")
    assert(ids == Set(-1L))
  }

  test("JDBC upsert keeps one row per key: the last in input order (K4)") {
    ddl("CREATE TABLE t_dups (k BIGINT PRIMARY KEY, v BIGINT)")
    // ids 3j..3j+2 share a key and 50 keys cycle, so keys repeat inside
    // each batch of 100 and across the 12 batches of 4 partitions
    val df = spark.range(0, 1200, 1, 4).selectExpr("(id div 3) % 50 as k", "id as v")
    assert(df.rdd.getNumPartitions == 4)
    JdbcSink.upsert(df, derbyUrl, "t_dups", Seq("k"), batchSize = 100)
    val want = (0L until 1200L).groupBy(i => (i / 3) % 50).map { case (k, ids) => k -> ids.max }
    val got = readBack("t_dups").map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 50)
    assert(got.toMap == want)
  }

  test("JDBC append and upsert round-trip a null in every column") {
    val df = Seq[(Option[Long], Option[Int], Option[Boolean], Option[String])](
      (Some(1L), None, Some(true), Some("a")), (Some(2L), Some(3), None, Some("b")),
      (Some(3L), Some(4), Some(false), None), (None, Some(5), Some(true), Some("d")))
      .toDF("id", "n", "b", "s")
    val want = df.collect().map(_.toSeq).toSet
    ddl("CREATE TABLE t_nulls_a (id BIGINT, n INT, b BOOLEAN, s VARCHAR(8))")
    ddl("CREATE TABLE t_nulls_u (id BIGINT, n INT, b BOOLEAN, s VARCHAR(8))")
    JdbcSink.append(df, derbyUrl, "t_nulls_a")
    JdbcSink.upsert(df, derbyUrl, "t_nulls_u", Seq("id"))
    assert(readBack("t_nulls_a").map(_.toSeq).toSet == want)
    assert(readBack("t_nulls_u").map(_.toSeq).toSet == want)
  }

  test("JDBC append and upsert each run 1 job, 1 stage, 1 task, no shuffle") {
    // jobs, run stages, tasks and shuffle bytes written of the Spark work
    // `body` starts; only jobs this thread tags count
    val tagKey = "graft.test.jobcount"
    def footprint(body: => Unit): (Int, Int, Int, Long) = {
      val tag = java.util.UUID.randomUUID().toString
      def tagged(p: java.util.Properties) = p != null && p.getProperty(tagKey) == tag
      val jobs, tasks = new AtomicInteger
      val shuffled = new AtomicLong
      val stages = ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (tagged(e.properties)) { jobs.incrementAndGet(); () }
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (tagged(e.properties)) { stages.add(e.stageInfo.stageId); () }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId)) {
            tasks.incrementAndGet()
            Option(e.taskMetrics).foreach(m =>
              shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
          }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setLocalProperty(tagKey, tag)
      try {
        body
        CatalystBridge.drainListenerBus(spark)
        (jobs.get, stages.size, tasks.get, shuffled.get)
      } finally {
        spark.sparkContext.setLocalProperty(tagKey, null)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    // a cached multi-partition frame, as the load's tables are; the key is
    // computed, so the range's own partitioning cannot stand in for a shuffle
    val df = spark.range(0, 2000, 1, 4)
      .selectExpr("id * 7 % 2000 as id", "cast(id % 7 as string) as v").cache()
    try {
      assert(df.count() == 2000 && df.rdd.getNumPartitions == 4)
      ddl("CREATE TABLE t_pin_u (id BIGINT PRIMARY KEY, v VARCHAR(8))")
      ddl("CREATE TABLE t_pin_a (id BIGINT, v VARCHAR(8))")
      assert(footprint(JdbcSink.upsert(df, derbyUrl, "t_pin_u", Seq("id"))) == ((1, 1, 1, 0L)))
      assert(footprint(JdbcSink.append(df, derbyUrl, "t_pin_a")) == ((1, 1, 1, 0L)))
      assert(readBack("t_pin_u").length == 2000 && readBack("t_pin_a").length == 2000)
    } finally { df.unpersist(); () }
  }
}
