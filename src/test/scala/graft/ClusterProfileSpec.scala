package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cluster profile (AQE on, skew-join splitting) must return the same
  * rows as the AQE-off bench profile: AQE re-plans stages at runtime, so a
  * query whose output depends on partitioning or evaluation order would
  * silently diverge on a real cluster. Same query set as
  * `ProfileInvarianceSpec`.
  */
class ClusterProfileSpec extends AnyFunSuite {
  test("AQE-enabled runs match AQE-off runs row for row") {
    ProfileInvariance.check("AQE with skew-join splitting", Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true"))
  }
}
