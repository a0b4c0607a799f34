package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Registry outputs must not depend on the session profile. AQE re-plans
  * stages at runtime, and the shuffle-partition count and file-split size
  * change which rows share a task, so a query whose result depends on
  * partitioning or evaluation order would diverge between the bench profile
  * and any other deployment. Each arm is a `newSession()` of the shared
  * bench-profile session with one group of settings overridden; every
  * query's collected rows must equal the base run's. The queries cover every
  * `QueryDef` module. `ClusterProfileSpec` runs the AQE arm,
  * `ProfileInvarianceSpec` the partitioning arms.
  */
object ProfileInvariance {
  import org.scalatest.Assertions._

  private def spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val names = Seq(
    "q1_pricing_summary",     // partial+final agg
    "q5_local_supplier",      // 6-way join
    "w3_moving_avg",          // window frames
    "r3_continuation_merge",  // order-sensitive stream reshaping
    "t_asof_join",            // union + carry-forward window
    "x_tfidf_top_terms",      // Text: tf ⋈ df, per-doc top-k
    "x_kmv_onepass",          // Curation: KMV sketches over a union
    "x4_cosine_topk",         // Similarity: native cosine, top-k
    "d_minhash_pairs",        // DedupQueries: LSH candidates, cached inside
    "r4_kv_explode",          // ParserQueries: key/value explode
    "x_pagerank",             // GraphQueries: iterative rank sums
    "t4_session")             // Events: gap sessionization

  /** Runs `n` on `s` from an empty cache: queries `.cache()` intermediates
    * and every session of the context shares one CacheManager, so a warm
    * cache would hand an arm the base run's rows. */
  private def rows(s: SparkSession, n: String): Seq[Row] = {
    s.sharedState.cacheManager.clearCache()
    SparkEntry.queries(n)(s, sfDir).collect().toSeq
  }

  private lazy val base: Map[String, Seq[Row]] =
    names.map(n => n -> rows(spark, n)).toMap

  /** Asserts every query returns the base rows under `conf`. */
  def check(arm: String, conf: Map[String, String]): Unit = {
    // an arm equal to the base profile would pass vacuously
    assert(conf.exists { case (k, v) => spark.conf.get(k) != v },
      s"$arm sets nothing the bench profile does not already set")
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    names.foreach { n =>
      assert(rows(s, n) == base(n), s"query $n diverges under $arm")
    }
  }
}

class ProfileInvarianceSpec extends AnyFunSuite {
  private val arms: Seq[(String, Map[String, String])] = Seq(
    "shuffle.partitions=1" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "shuffle.partitions=200" -> Map("spark.sql.shuffle.partitions" -> "200"),
    "64 KiB file splits" -> Map(
      "spark.sql.files.maxPartitionBytes" -> "64k",
      "spark.sql.files.openCostInBytes" -> "0"))

  arms.foreach { case (arm, conf) =>
    test(s"$arm: every query matches the bench profile row for row") {
      ProfileInvariance.check(arm, conf)
    }
  }
}
