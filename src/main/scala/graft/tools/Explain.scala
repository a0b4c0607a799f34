package graft.tools

import graft.SparkEntry

/** Dev harness: print the formatted physical plan of named queries under
  * the bench session profile (`Sessions.local` on every host core).
  * Usage: runMain graft.tools.Explain <query> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("explain",
      Runtime.getRuntime.availableProcessors)
    args.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
