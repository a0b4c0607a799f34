package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** Seeded generator of Clojush run logs in the grammar `LogParser` reads
  * (FIXTURES.md §1): a header of `param = value` lines, one segment per
  * generation opened by `-*- Report at generation N`, and a closing
  * `SUCCESS|FAILURE at generation N` line. Some values are the literal `nil`
  * (dropped by the loader) and some lines match no grammar rule (also
  * dropped), so the expected row counts below are what the loader must land,
  * not just what was written.
  */
object LogGen {

  /** Rows the four load tables must hold after loading a corpus. */
  final case class Expected(experiments: Long, experiment: Long,
      generations: Long, summary: Long) {
    def byTable: Seq[(String, Long)] = Seq("experiments" -> experiments,
      "experiment" -> experiment, "generations" -> generations,
      "summary" -> summary)
    def +(o: Expected): Expected = Expected(experiments + o.experiments,
      experiment + o.experiment, generations + o.generations,
      summary + o.summary)
  }

  final case class Corpus(glob: String, paths: Seq[Path], bytes: Long,
      expected: Expected) {
    def logs: Int = paths.length
  }

  // about 7 KB per log: 21 generations x 10 metric lines
  private val Gens = 21
  private val Metrics = 10
  private val HeaderParams = 24
  private val NilFrac = 0.05
  private val JunkFrac = 0.01
  private val Problems = 8
  private val Epoch = 1700000000000L

  /** Writes `logs` logs under `dir`, spread over problem folders. */
  def write(dir: Path, logs: Int, seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
    var total = Expected(0, 0, 0, 0)
    var bytes = 0L
    val paths = (0 until logs).map { i =>
      val problem = f"problem-${i % Problems}%02d"
      val uuid = f"${rng.nextLong()}%016x-${rng.nextInt(1 << 16)}%04x"
      val p = dir.resolve(problem).resolve(f"run$i%05d_$uuid.log")
      Files.createDirectories(p.getParent)
      val (text, exp) = log(rng)
      val b = text.getBytes(StandardCharsets.UTF_8)
      Files.write(p, b)
      Files.setLastModifiedTime(p,
        FileTime.fromMillis(Epoch + rng.nextInt(86400 * 365) * 1000L))
      total += exp
      bytes += b.length
      p
    }
    Corpus(dir.toString + "/*/*.log", paths, bytes, total)
  }

  private def log(rng: SplittableRandom): (String, Expected) = {
    val sb = new java.lang.StringBuilder(Gens * Metrics * 24 + 2048)
    var params = 0L
    var cells = 0L
    def junk(): Unit =
      if (rng.nextDouble() < JunkFrac)
        sb.append("stray output from worker ").append(rng.nextInt(64))
          .append(" without any separator\n")
    def value(): String =
      if (rng.nextDouble() < NilFrac) "nil"
      else (rng.nextInt(2000000) / 1000.0).toString

    sb.append("Clojush version = 3.").append(rng.nextInt(20)).append(".0\n")
    params += 1
    for (k <- 0 until HeaderParams) {
      val v = value()
      sb.append("param-").append(k).append(" = ").append(v).append('\n')
      if (v != "nil") params += 1
      junk()
    }
    sb.append(";;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;\n")
    for (g <- 0 until Gens) {
      sb.append("-*- Report at generation ").append(g).append('\n')
      for (m <- 0 until Metrics) {
        val v = value()
        sb.append("metric-").append(m).append(": ").append(v).append('\n')
        if (v != "nil") cells += 1
        junk()
      }
      sb.append(";;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;;\n")
    }
    sb.append(if (rng.nextBoolean()) "SUCCESS" else "FAILURE")
      .append(" at generation ").append(Gens - 1).append('\n')
    (sb.toString, Expected(1, params, cells, 1))
  }
}
