package graft.tools

import graft.ext.Bpe

/** Generator for the LONG BPE merge table (r14 verdict item 3): trains
  * `n` merges on the sf0.01 corpus word frequencies (same deterministic
  * trainer + tie-breaks as FixedMerges) and emits the Scala constant
  * source for ext/BpeLongMerges.scala on stdout. Provenance is pinned by
  * BpeSpec, which retrains and asserts equality — running this generator
  * against a changed corpus and committing the diff is the ONLY sanctioned
  * way to change the table.
  *
  * Usage: runMain graft.tools.BpeTrainGen [n] [sfDir]
  */
object BpeTrainGen {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 512
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.Sessions.local("bpe-train-gen", graft.Sessions.defaultCores)
    spark.sparkContext.setLogLevel("ERROR")
    val counts = Bpe.wordCounts(graft.Tables.documents(spark, sfDir))
      .orderBy(org.apache.spark.sql.functions.col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"// vocab words: ${counts.size}")
    val t0 = System.nanoTime()
    val merges = Bpe.trainMerges(counts, n)
    println(s"// trained ${merges.size}/$n merges in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs")
    val body = merges.grouped(3).map(g =>
      "    " + g.map(m => s"""Merge("${m.l}", "${m.r}")""").mkString(", "))
      .mkString(",\n")
    println(s"  val LongMerges: Seq[Merge] = Seq(\n$body)")
    spark.stop()
  }
}
