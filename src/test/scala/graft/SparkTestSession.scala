package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (per-suite sessions would pay
  * ~10s startup each): the bench profile on 4 cores, so the suite pins the
  * plans the benchmark times. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4)

  /** Drop a managed table AND its warehouse directory: a fresh JVM's
    * in-memory catalog has no entry for a leftover directory from a
    * crashed earlier run, so DROP alone is a no-op and the next
    * saveAsTable throws on the existing location. Shared by every spec
    * that creates managed tables. */
  def dropManagedTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(loc)
    }
  }
}
