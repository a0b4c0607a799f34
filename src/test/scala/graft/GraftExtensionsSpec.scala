package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extension-registered functions work from a session built ONLY with
  * `withExtensions(new graft.plans.GraftExtensions)` — the deployment shape
  * a library user gets via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (distinct from plans.GraftExtensionsSpec, which exercises the shared
  * test session).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // force a NEW session (extensions apply at session construction):
    // getOrCreate would silently reuse the shared test session. The
    // SparkContext is still reused under the hood.
    SparkTestSession.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("cosine_sim from SQL") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head()
    assert(r.getDouble(0) == 1.0)
  }

  test("minhash_signature from SQL") {
    val r = spark.sql(
      "SELECT minhash_signature(array('a b c', 'b c d'), 8) AS sig").head()
    assert(r.getSeq[Long](0).length == 8)
  }

  test("simhash64 from SQL matches the Column API (xx family)") {
    val viaSql = spark.sql(
      "SELECT simhash64(split('hello world spark', ' ')) AS h").head().getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viaCol = Seq("hello world spark").toDF("text")
      .select(graft.functions.SimHash64.simhash64(split($"text", " ")))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("md5_simhash64 from SQL matches the product path") {
    val viaSql = spark.sql(
      "SELECT md5_simhash64(split('hello world spark', ' ')) AS h").head().getLong(0)
    import spark.implicits._
    val viaCol = Seq("hello world spark").toDF("text")
      .select(graft.ext.SimHash.simhash($"text")).head().getLong(0)
    assert(viaSql == viaCol)
  }
}
