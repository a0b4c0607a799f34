package perfbench

import graft.ids.IdMinter
import graft.parse.{LogParser, LogPipeline}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Standalone layer probes. They run after the timed passes, never inside
  * them, and each reports the median of a few repetitions. */
object Probes {

  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def medianOf(reps: Int)(body: => Unit): Double =
    median(Seq.fill(reps)(timeS(body)))

  /** `sources.list_s`: building the file-source relation, which lists the
    * files (and, for parquet, reads the footers for the schema). */
  def listS(read: => Unit): Double = medianOf(3)(read)

  /** `ids.mint_s`: the problem dictionary plus the path-to-id map that
    * `LogPipeline.load` builds from the listed paths. */
  def mintS(paths: Seq[String]): Double = {
    val cfg = LogPipeline.LoadConfig()
    medianOf(21) {
      val sorted = paths.sorted
      IdMinter.dictionaryEncodeLocal(sorted.map(LogPipeline.problemNameOf(_, cfg)))
      sorted.zipWithIndex.map { case (p, i) => (p, i + 1L) }.toMap
    }
  }

  /** `parse.kernel_ns_per_byte`: `LogParser.parseClojush` on one thread over
    * the given logs. */
  def kernelNsPerByte(paths: Seq[Path]): Double = {
    val texts = paths.map(p =>
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    val bytes = texts.map(_.length.toLong).sum
    medianOf(3)(texts.foreach(LogParser.parseClojush(_))) * 1e9 / bytes
  }

  /** `functions.<k>.ns_per_row`: each native column function over a fixed
    * cached frame, minus the same plan projecting its inputs unchanged. */
  def functionNsPerRow(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    val rows = 10000
    import graft.functions.BpeTokenCount.bpe_token_count
    import graft.functions.CosineSim.cosine_sim
    import graft.functions.Md5Hash64.md5_le64
    import graft.functions.MinHashSignature.minhash_signature
    import graft.functions.SimHash64.simhash64
    import graft.functions.Sq8.{cosine_sim_sq8, sq8_pack}
    val words = "the of and to in for is on that by with as at from " +
      "data model log run value error time query table score"
    val vocab = lit(words.split(' '))
    def vec(salt: Int) = expr(
      s"transform(sequence(0, 63), j -> " +
        s"CAST(pmod(xxhash64($seed, $salt, id, j), 2000) - 1000 AS DOUBLE) / 1000.0)")
    val frame = spark.range(rows)
      .select(
        array_join(transform(sequence(lit(0), lit(29)), j =>
          element_at(vocab, (pmod(xxhash64(lit(seed), col("id"), j), lit(24)) + 1)
            .cast("int"))), " ").as("text"),
        vec(1).as("a"), vec(2).as("b"))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("qa", sq8_pack(col("a")))
      .withColumn("qb", sq8_pack(col("b")))
      .cache()
    frame.count()
    def run(cols: Column*): Unit = graft.BenchProtocol.force(frame.select(cols: _*))
    val cases: Seq[(String, Seq[Column], Column)] = Seq(
      ("md5_le64", Seq(col("text")), md5_le64(col("text"))),
      ("minhash_signature", Seq(col("tokens")), minhash_signature(col("tokens"), 64)),
      ("simhash64", Seq(col("tokens")), simhash64(col("tokens"))),
      ("cosine_sim", Seq(col("a"), col("b")), cosine_sim(col("a"), col("b"))),
      ("cosine_sim_sq8", Seq(col("qa"), col("qb")), cosine_sim_sq8(col("qa"), col("qb"))),
      ("bpe_token_count", Seq(col("text")), bpe_token_count(col("text"))))
    val out = cases.map { case (k, inputs, f) =>
      run(f); run(inputs: _*) // warm both plans
      val withF = medianOf(3)(run(f))
      val pass = medianOf(3)(run(inputs: _*))
      k -> (withF - pass) * 1e9 / rows
    }
    frame.unpersist()
    out
  }
}
