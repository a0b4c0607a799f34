package graft.streaming

import graft.SparkTestSession
import graft.parse.LogPipeline
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Incremental ingest (T1–T3): files arriving across micro-batch runs are
  * processed exactly once; restart from checkpoint skips already-seen files.
  */
class IngestStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def log(maxGen: Int): String =
    s"""Clojush version = 1.0
       |alpha = 1
       |;;;;
       |-*- Report at generation $maxGen
       |f: 0.5
       |;;;;
       |SUCCESS at generation $maxGen""".stripMargin

  test("file-arrival micro-batches are exactly-once across restarts") {
    val dir = Files.createTempDirectory(Paths.get("target"), "stream").toString
    val ckpt = Files.createTempDirectory(Paths.get("target"), "ckpt").toString
    val seen = mutable.ArrayBuffer.empty[(Long, String)] // (maxgen, path)

    def drain(): Unit = {
      val q = IngestStream.run(spark, dir + "/*.log", ckpt) { (tables, _) =>
        seen ++= tables.summary.join(
          tables.experiments, "id")
          .select("maxgen", "logfile_location")
          .collect().map(r => (r.getInt(0).toLong, r.getString(1)))
      }
      q.awaitTermination()
    }

    Files.writeString(Paths.get(dir, "a_1.log"), log(3))
    Files.writeString(Paths.get(dir, "b_2.log"), log(5))
    drain()
    assert(seen.map(_._1).sorted == Seq(3L, 5L))

    // second run: one new file — old ones must NOT reprocess (T1/T3)
    Files.writeString(Paths.get(dir, "c_3.log"), log(8))
    drain()
    assert(seen.map(_._1).sorted == Seq(3L, 5L, 8L))
    assert(seen.map(_._2).distinct.length == 3)
  }

  test("names with a space or % stream every file with the batch paths") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pstream").toString
    val ckpt = Files.createTempDirectory(Paths.get("target"), "pstream_ck").toString
    Files.writeString(Paths.get(dir, "a_1.log"), log(3))
    Files.writeString(Paths.get(dir, "run B_2.log"), log(5))
    Files.writeString(Paths.get(dir, "r%41.log"), log(8))
    val seen = mutable.ArrayBuffer.empty[(Long, String)]
    IngestStream.run(spark, dir + "/*.log", ckpt) { (tables, _) =>
      seen ++= tables.summary.join(tables.experiments, "id")
        .select("maxgen", "logfile_location")
        .collect().map(r => (r.getInt(0).toLong, r.getString(1)))
    }.awaitTermination()
    assert(seen.map(_._1).sorted == Seq(3L, 5L, 8L))
    val batch = LogPipeline.load(spark, dir + "/*.log")
    try assert(seen.map(_._2).toSet ==
      batch.experiments.select("logfile_location").collect().map(_.getString(0)).toSet)
    finally batch.release()
  }

  test("streaming -> JDBC upsert is exactly-once end-to-end (T1+T2+T3)") {
    val url = "jdbc:derby:memory:streamdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE stream_summary (id BIGINT PRIMARY KEY, maxgen INT)")
    conn.close()

    val dir = Files.createTempDirectory(Paths.get("target"), "sjdbc").toString
    val ckpt = Files.createTempDirectory(Paths.get("target"), "sjdbc_ck").toString
    def drain(): Unit = {
      val q = IngestStream.run(spark, dir + "/*.log", ckpt) { (tables, _) =>
        graft.sinks.JdbcSink.upsert(
          tables.summary.select("id", "maxgen"), url, "stream_summary", Seq("id"))
      }
      q.awaitTermination()
    }
    Files.writeString(Paths.get(dir, "a_1.log"), log(3))
    drain()
    // reprocessing the SAME batch (sink re-fire) must not duplicate:
    // upsert is idempotent by key
    Files.writeString(Paths.get(dir, "b_2.log"), log(5))
    drain()
    val rows = spark.read.jdbc(url, "stream_summary", new java.util.Properties)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows.map(_._2) == Set(3, 5))
    assert(rows.size == 2, s"duplicated rows: $rows")
  }

  test("streaming provenance matches batch: rundate, ids, problem fields") {
    val root = Files.createTempDirectory(Paths.get("target"), "parity")
    val sub = Files.createDirectory(root.resolve("myprob"))
    Files.writeString(sub.resolve("a_1.log"), log(3))
    Files.writeString(sub.resolve("b_2.log"), log(5))
    val glob = sub.toString + "/*.log"

    val cols = Seq("id", "rundate", "problem_name", "problem_id",
      "clojush_version", "logfile_location")
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[String]("logfile_location").split('/').last
    def row(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[String]("rundate"),
        r.getAs[String]("problem_name"), r.getAs[Long]("problem_id"),
        r.getAs[String]("clojush_version"))

    val batchTables = LogPipeline.load(spark, glob)
    val batchRows = batchTables.experiments.select(cols.head, cols.tail: _*)
      .collect().map(r => key(r) -> row(r)).toMap
    batchTables.release()

    var streamRows = Map.empty[String, (Long, String, String, Long, String)]
    val ckpt = Files.createTempDirectory(Paths.get("target"), "parity_ck").toString
    val q = IngestStream.run(spark, glob, ckpt) { (tables, _) =>
      streamRows ++= tables.experiments.select(cols.head, cols.tail: _*)
        .collect().map(r => key(r) -> row(r))
    }
    q.awaitTermination()

    // same files drained in one micro-batch → identical ids, run dates
    // (driver-side stat == _metadata mtime), problem dims — the batch and
    // streaming paths may not diverge on the same table
    assert(streamRows == batchRows)
    assert(batchRows.values.forall(_._2.matches(
      "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}")), s"empty rundate: $batchRows")
  }

  test("oversized log in the watch folder parses chunked, matching batch exactly") {
    // threshold below the big file's size but above the small one's: the
    // stream must route the big file down BigLogParse while the small one
    // rides wholetext — and the resulting tables must equal the batch
    // path's (which dispatches identically), exactly once across drains
    def bigLog(gens: Int): String =
      (Seq("Clojush version = 9.9", "alpha = 1") ++
        (0 until gens).flatMap(g => Seq(";;;;",
          s"-*- Report at generation $g", s"f: 0.$g")) ++
        Seq(";;;;", s"SUCCESS at generation ${gens - 1}")).mkString("\n")
    val root = Files.createTempDirectory(Paths.get("target"), "bigstream")
    val sub = Files.createDirectory(root.resolve("bigprob"))
    val small = log(3)
    val big = bigLog(40)
    require(big.length > 400 && small.length < 400,
      s"fixture sizes drifted: big=${big.length} small=${small.length}")
    Files.writeString(sub.resolve("a_1.log"), small)
    Files.writeString(sub.resolve("b_2.log"), big)
    val glob = sub.toString + "/*.log"
    val cfg = LogPipeline.LoadConfig(bigFileBytes = 400)

    def snapshot(t: LogPipeline.LoadedTables): Set[(String, Any)] = {
      val ex = t.experiments
        .select("id", "rundate", "problem_name", "problem_id",
          "clojush_version", "logfile_location")
        .collect().map(r => "ex" -> r.toSeq).toSet
      val ep = t.experiment.collect().map(r => "ep" -> r.toSeq).toSet
      val ge = t.generations.collect().map(r => "ge" -> r.toSeq).toSet
      val su = t.summary.collect().map(r => "su" -> r.toSeq).toSet
      (ex ++ ep ++ ge ++ su).map { case (k, v) => (k, v: Any) }
    }

    val batchTables = LogPipeline.load(spark, glob, cfg)
    val batchSnap = snapshot(batchTables)
    batchTables.release()

    var streamSnap = Set.empty[(String, Any)]
    var drains = 0
    val ckpt = Files.createTempDirectory(Paths.get("target"), "bigstream_ck").toString
    def drain(): Unit = {
      val q = IngestStream.run(spark, glob, ckpt, cfg) { (tables, _) =>
        streamSnap ++= snapshot(tables); drains += 1
      }
      q.awaitTermination()
    }
    drain()
    assert(streamSnap == batchSnap,
      s"stream/batch diverged:\nonly-stream=${streamSnap -- batchSnap}\nonly-batch=${batchSnap -- streamSnap}")
    // generations from the CHUNKED file made it through the stream
    assert(streamSnap.count(_._1 == "ge") > 40)
    // re-drain: checkpoint must suppress reprocessing (exactly-once intact)
    val before = streamSnap.size
    drain()
    assert(streamSnap.size == before)
  }

  test("problem ids are get-or-create across micro-batches and restarts") {
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory(Paths.get("target"), "pdim")
    val pa = Files.createDirectory(root.resolve("probA"))
    val pb = Files.createDirectory(root.resolve("probB"))
    val ckpt = Files.createTempDirectory(Paths.get("target"), "pdim_ck").toString
    val got = mutable.Map.empty[String, mutable.Set[Long]]
    val rowsPerDrain = mutable.ArrayBuffer.empty[Long]
    var dim: Option[DataFrame] = None

    def drain(): Unit = {
      var rows = 0L
      val q = IngestStream.run(spark, root.toString + "/*/*.log", ckpt,
        initialProblemDim = dim) { (tables, _) =>
        val batchRows = tables.experiments
          .select("problem_name", "problem_id").collect()
        rows += batchRows.length
        batchRows.foreach(r => got.getOrElseUpdate(r.getString(0),
          mutable.Set.empty) += r.getLong(1))
        dim = Some(tables.problemDim.localCheckpoint())
      }
      q.awaitTermination()
      rowsPerDrain += rows
    }

    Files.writeString(pa.resolve("a_1.log"), log(3))
    drain()
    // second batch re-sees probA (must keep id 1) and introduces probB
    Files.writeString(pa.resolve("a_2.log"), log(4))
    Files.writeString(pb.resolve("b_1.log"), log(5))
    drain()
    assert(got("probA") == mutable.Set(1L), s"probA id drifted: $got")
    assert(got("probB") == mutable.Set(2L), s"probB id wrong: $got")
    // a NEW problem name in a later batch must not drop experiments rows:
    // the second drain saw exactly its two files (one per problem)
    assert(rowsPerDrain.toSeq == Seq(1L, 2L), s"dropped rows: $rowsPerDrain")
  }

  test("ECJ stat stream matches batch loadGenerations, chunked path included") {
    def stat(gens: Int): String =
      ("ignore this preamble" +: (0 until gens).flatMap(g => Seq(
        s"Generation: $g", s"Best Individual: Fitness: 0.$g",
        "Tree: (+ x", "  (* x x))")) :+ "End of Run: done").mkString("\n")
    val dir = Files.createTempDirectory(Paths.get("target"), "ecjstream")
    Files.writeString(dir.resolve("a.stat"), stat(2))
    Files.writeString(dir.resolve("b.stat"), stat(30)) // > 400 B: chunked
    val glob = dir.toString + "/*.stat"
    require(stat(30).length > 400 && stat(2).length < 400)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        Option(r.getString(3)))).toSet

    val batch = rows(graft.parse.EcjPipeline.loadGenerations(
      spark, glob, bigFileBytes = 400))

    var streamed = Set.empty[(Long, Int, String, Option[String])]
    val ckpt = Files.createTempDirectory(Paths.get("target"), "ecjstream_ck").toString
    def drain(): Unit = {
      val q = IngestStream.runEcj(spark, glob, ckpt, bigFileBytes = 400) {
        (gens, _) => streamed ++= rows(gens)
      }
      q.awaitTermination()
    }
    drain()
    assert(streamed == batch,
      s"only-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    assert(streamed.count(_._2 >= 0) > 60) // chunked file's generations arrived
    // exactly-once across drains
    val before = streamed.size
    drain()
    assert(streamed.size == before)
  }

  test("windowed streaming agg matches the batch oracle query (T4)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batchResult = graft.SparkEntry.queries("t4_tumbling_hour")(spark, sf)
      .select("w_start", "event_type", "n").collect().toSet

    // same expression, driven through the streaming API in one batch
    val events = graft.Tables.events(spark, sf)
    val streamed = IngestStream.windowedCounts(events, "10 minutes", "1 hour")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batchSet = batchResult.map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(streamed == batchSet)
  }

  test("session streaming agg matches the batch oracle query (T4 sessions)") {
    val sf = "/root/testdata/sf0.001"
    val batchSet = graft.SparkEntry.queries("t4_session")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    val events = graft.Tables.events(spark, sf)
    val streamed = IngestStream.sessionCounts(events)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(streamed == batchSet && batchSet.nonEmpty)
  }

  test("left-outer attribution emits NULL row only after the click watermark passes") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = Files.createTempDirectory(Paths.get("target"), "attribL")
    val vDir = Files.createDirectory(root.resolve("views")).toString
    val cDir = Files.createDirectory(root.resolve("clicks")).toString
    def write(dir: String, name: String, rows: Seq[String]): Unit =
      Files.writeString(Paths.get(dir, name), rows.mkString("\n"))

    // view for user 1 (will click in-gap) and user 2 (never clicks)
    write(vDir, "v1.csv", Seq(
      "10,1,2026-01-01 10:00:00", "20,2,2026-01-01 10:00:00"))
    write(cDir, "c1.csv", Seq("30,1,2026-01-01 10:10:00"))
    val views = spark.readStream
      .schema("view_id LONG, user_id LONG, view_ts TIMESTAMP").csv(vDir + "/*.csv")
    val clicks = spark.readStream
      .schema("click_id LONG, user_id LONG, click_ts TIMESTAMP").csv(cDir + "/*.csv")
    val q = IngestStream.attributionJoinLeft(views, clicks,
      watermark = "10 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attribl_out")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    q.processAllAvailable()
    // the matched pair may emit, but user 2's NULL row must NOT — its
    // in-gap click could still arrive (watermark 09:55..10:00-ish)
    val early = spark.table("attribl_out")
      .collect().map(r => (r.getLong(0), r.isNullAt(3)))
    assert(!early.exists(_._2), s"premature NULL emission: ${early.toSeq}")

    // advance BOTH watermarks far past view_ts + gap (the global
    // watermark is the MIN across streams, so a click alone cannot
    // expire view-side state) → the unmatched view flushes with NULL
    // click columns; the fresh user-9 view stays held (still joinable)
    write(cDir, "c2.csv", Seq("40,9,2026-01-01 13:00:00"))
    write(vDir, "v2.csv", Seq("90,9,2026-01-01 13:00:00"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attribl_out")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(rows.contains((10L, 30L)), s"matched pair missing: $rows")
    assert(rows.contains((20L, -1L)), s"unmatched view never flushed: $rows")
  }

  test("session windows stitch across micro-batches; emit only past watermark") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = Files.createTempDirectory(Paths.get("target"), "sess")
    val dir = Files.createDirectory(root.resolve("ev")).toString
    def write(name: String, rows: Seq[String]): Unit =
      Files.writeString(Paths.get(dir, name), rows.mkString("\n"))

    // batch 1: two events 10 min apart — ONE open session (gap 30 min)
    write("e1.csv", Seq("1,2026-01-01 10:00:00", "1,2026-01-01 10:10:00"))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").csv(dir + "/*.csv")
    val q = IngestStream.sessionCounts(stream, watermark = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    q.processAllAvailable()
    // open session cannot emit: watermark has not passed its end
    assert(spark.table("sess_out").count() == 0)

    // batch 2: an in-gap event EXTENDS the session (stitching), then a
    // far-future event advances the watermark past the merged end
    write("e2.csv", Seq("1,2026-01-01 10:25:00", "1,2026-01-02 09:00:00"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
    // one merged session: 10:00 → 10:25 + 30 min gap, 3 events
    assert(rows.toSeq == Seq(
      (1L, "2026-01-01 10:00:00.0", "2026-01-01 10:55:00.0", 3L)), rows.toSeq)
  }

  test("stream-stream attribution join fires across micro-batches, respects gap") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = Files.createTempDirectory(Paths.get("target"), "attrib")
    val vDir = Files.createDirectory(root.resolve("views")).toString
    val cDir = Files.createDirectory(root.resolve("clicks")).toString
    def write(dir: String, name: String, rows: Seq[String]): Unit =
      Files.writeString(Paths.get(dir, name), rows.mkString("\n"))

    // batch 1: a view with NO click yet — the view must buffer in state
    write(vDir, "v1.csv", Seq("10,1,2026-01-01 10:00:00"))
    write(cDir, "c0.csv", Seq("90,9,2026-01-01 09:00:00")) // unrelated user

    val views = spark.readStream
      .schema("view_id LONG, user_id LONG, view_ts TIMESTAMP").csv(vDir + "/*.csv")
    val clicks = spark.readStream
      .schema("click_id LONG, user_id LONG, click_ts TIMESTAMP").csv(cDir + "/*.csv")
    val q = IngestStream.attributionJoin(views, clicks)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attrib_out")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("attrib_out").count() == 0)

    // batch 2: one click inside the 30-min gap, one outside — only the
    // in-gap click joins the batch-1 view still held in state
    write(cDir, "c1.csv", Seq(
      "20,1,2026-01-01 10:10:00",
      "21,1,2026-01-01 11:30:00"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attrib_out")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((10L, 20L)))
  }

  test("streaming attribution pair set matches the batch join (parity)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    // same expression through the streaming API in one batch (the pattern
    // windowedCounts' parity test uses)
    val streamed = IngestStream.attributionJoin(views, clicks)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val batch = views.join(clicks, Seq("user_id"))
      .filter(col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL '30' MINUTE"))
      .collect().map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("session windows merge across micro-batches under watermark") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sessionwin").toString
    def writeBatch(name: String, rows: Seq[(String, String)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, name),
        rows.map { case (u, ts) => s"$u,$ts" }.mkString("\n"))
    // two events 10 min apart (same 30-min session), then a third in the
    // NEXT micro-batch still within the gap → all one session
    writeBatch("b1.csv", Seq(
      ("u1", "2026-01-01 10:00:00"), ("u1", "2026-01-01 10:10:00"),
      ("u2", "2026-01-01 10:00:00")))
    val stream = spark.readStream
      .schema("user STRING, ts TIMESTAMP").csv(dir + "/*.csv")
    val sessions = stream
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("session_out")
      .option("checkpointLocation", dir + "/ckpt")
      .start()
    q.processAllAvailable()
    writeBatch("b2.csv", Seq(("u1", "2026-01-01 10:25:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("session_out")
      .select(col("user"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("u1", 3L), ("u2", 1L)))
  }
}
