package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicate the sf0.1 corpus R× with consistent key
  * shifting, producing an sf1-equivalent corpus for bench runs (no sf1
  * driver data exists; ARCHITECTURE.md's "Spark's floor dominates at
  * sf0.1" claim needs a bigger-scale measurement to stand on).
  *
  * Each replica i shifts every primary/foreign key family by i × stride
  * (stride = max(key) + 1 from the source), so join cardinalities scale
  * linearly exactly as a real sfN corpus would: every orders row still
  * matches exactly one customer, every lineitem its one order/part/supp.
  * region/nation stay single-copy (fixed-size dimensions, as in TPC-H).
  *
  * events.ts has varied across fixture generations (TIMESTAMP(NANOS) vs
  * TIMESTAMP(MICROS, ntz)): the nanosAsLong conf makes a nanos fixture
  * read (and replicate) as a plain long, a micros fixture passes through
  * as-is — `Tables.events` adapts to whichever type the scaled corpus
  * ends up carrying.
  *
  * DISTINCT-CONTENT MODE (4th arg `distinct`, r16 verdict item 5): the
  * plain replication copies text/vectors VERBATIM, so collapse-first
  * dedup and rep-set ANN are scale-INVARIANT on the scaled corpus — the
  * 100× probes could not see distinct-content scaling. In distinct mode
  * replica i > 0 additionally perturbs content deterministically
  * (oracle-free by design — this is a bench corpus, not a gate):
  *  - documents.text: each token t at position p is tagged `t<i>` when
  *    xxhash64(i, doc_id, p) ≡ 0 (mod 7) — ~14% token swaps, so every
  *    replica's shingle/sentence sets are DISTINCT from every other's
  *    (exact/content/sentence dedup can no longer collapse replicas;
  *    minhash sees real near-dup structure across replicas instead of
  *    clones); n_chars is recomputed to stay consistent.
  *  - embeddings.embedding: component j gets uniform ±0.05 noise from
  *    xxhash64(i, vec_id, j) — ~0.97 cosine to the source vector (unit
  *    64-dim corpus, noise norm ≈ 0.23), so cluster structure survives
  *    (IVF stays meaningful) while every vector is distinct.
  * All key shifting is unchanged — join cardinalities scale identically
  * in both modes.
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir] [destDir] [factor] [distinct]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.drop(1).headOption.getOrElse("/tmp/graft_sf1")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val distinct = args.drop(3).headOption.contains("distinct")
    val spark = graft.Sessions.local("scale-gen", graft.Sessions.defaultCores)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def strideOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    val custStride = strideOf(read("customer"), "c_custkey")
    val orderStride = strideOf(read("orders"), "o_orderkey")
    val partStride = strideOf(read("part"), "p_partkey")
    val suppStride = strideOf(read("supplier"), "s_suppkey")
    val eventStride = strideOf(read("events"), "event_id")
    val userStride = strideOf(read("events"), "user_id")
    val docStride = strideOf(read("documents"), "doc_id")
    val vecStride = strideOf(read("embeddings"), "vec_id")

    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }

    // distinct-mode content perturbations (scaladoc): identity for
    // replica 0 and in plain mode, so the 1× slice of a distinct corpus
    // is bit-identical to the source
    def perturb(t: String, i: Int, df: DataFrame): DataFrame =
      if (!distinct || i == 0) df
      else t match {
        case "documents" =>
          df.withColumn("text",
              when(col("text").isNotNull, array_join(
                expr(s"transform(split(text, ' '), (t, p) -> " +
                  s"IF(pmod(xxhash64($i, doc_id, p), 7) = 0, " +
                  s"concat(t, '$i'), t))"), " ")))
            .withColumn("n_chars", length(coalesce(col("text"), lit(""))))
        case "embeddings" =>
          df.withColumn("embedding",
            expr(s"transform(embedding, (x, j) -> CAST(x + " +
              s"(CAST(pmod(xxhash64($i, vec_id, j), 1000) AS DOUBLE) " +
              s"/ 1000.0 - 0.5) * 0.1 AS FLOAT))"))
        case _ => df
      }

    def replicate(t: String, shifts: (String, Long)*): Unit = {
      val base = read(t)
      val out = (0 until factor).map { i =>
        perturb(t, i,
          shifts.foldLeft(base) { case (df, (c, stride)) =>
            df.withColumn(c, col(c) + lit(i.toLong * stride))
          })
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t x$factor done" +
        (if (distinct) " (distinct-content)" else ""))
    }

    replicate("customer", "c_custkey" -> custStride)
    replicate("supplier", "s_suppkey" -> suppStride)
    replicate("part", "p_partkey" -> partStride)
    replicate("orders", "o_orderkey" -> orderStride, "o_custkey" -> custStride)
    replicate("lineitem", "l_orderkey" -> orderStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride)
    replicate("events", "event_id" -> eventStride, "user_id" -> userStride)
    replicate("documents", "doc_id" -> docStride)
    replicate("embeddings", "vec_id" -> vecStride)
    println(s"[scalegen] wrote $dest at ${factor}x $src")
    spark.stop()
  }
}
