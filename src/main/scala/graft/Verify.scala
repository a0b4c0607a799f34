package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (local iteration
    // only — the driver always passes two args and gets the full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the bench profile, so the gate checks the plans the benchmark times
    val spark = Sessions.local("graft-verify", Sessions.defaultCores)
    new java.io.File(outDir).mkdirs()
    // A failed query must NOT silently vanish from the correctness artifact
    // (r11: the whole event-time family broke at analysis and the round
    // read as clean because failures only went to stderr). On failure we
    // still write outDir/<name> — a one-row sentinel whose schema can never
    // match any oracle — so the driver's compare records a RED row under
    // the query's own name, and we dump errors.json + a stdout summary.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // caches declared inside QueryDef closures are per-invocation
        // lineages — drop them so a 178-query dump doesn't accumulate
        // storage blocks (r13 ADVICE; no cross-query cache sharing exists)
        spark.sharedState.cacheManager.clearCache()
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq((name, msg.take(500))).toDF("__graft_failed_query", "__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val ran = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    if (failures.nonEmpty) {
      println(s"[verify] FAILED ${failures.size}/$ran queries: " +
        failures.keys.mkString(", "))
    } else {
      println(s"[verify] all $ran queries dumped OK")
    }
    spark.stop()
  }
}
