package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable

/** Streaming semantic dedup: a near-parallel vector of one KEPT in any
  * earlier micro-batch never reaches the sink; orthogonal vectors always
  * do; within a batch the lexicographically-smaller path wins; the store
  * holds kept vectors only; re-fired batches re-emit identically.
  */
class SemDedupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  private def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  // two orthogonal cells: mass in dims 0-1 vs dims 2-3; the codebook is
  // the canonical axes so cell assignment is unambiguous for every vector
  private val cents: Array[Array[Double]] = Array(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
  private def vec(v: Double*): String = v.mkString(" ")

  test("semantic near-dups suppress across and within batches") {
    val dir = tmp("sdstream")
    val ckpt = tmp("sdstream_ck")
    val store = tmp("sdstream_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]

    def drain(): Unit = {
      val q = SemDedupStream.run(spark, dir, ckpt, store, cents, tau = 0.95) {
        (kept, bid) =>
          emitted ++= kept.select("path").collect()
            .map(r => (bid, r.getString(0).split('/').last))
      }
      q.awaitTermination()
    }

    // batch 0: a and b are near-parallel in cell 0 (in-batch: a wins by
    // path order), c is cell 1 — kept
    Files.writeString(Paths.get(dir, "a.txt"), vec(1.0, 0.0, 0.0, 0.0))
    Files.writeString(Paths.get(dir, "b.txt"), vec(0.999, 0.01, 0.0, 0.0))
    Files.writeString(Paths.get(dir, "c.txt"), vec(0.0, 0.0, 1.0, 0.0))
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt"),
      s"batch 0 emitted: $emitted")

    // batch 1: d is a near-parallel of KEPT a (store suppresses);
    // e is near-parallel of c (store suppresses); f is a genuinely new
    // direction inside cell 0, below tau vs a — kept
    Files.writeString(Paths.get(dir, "d.txt"), vec(0.998, 0.02, 0.0, 0.0))
    Files.writeString(Paths.get(dir, "e.txt"), vec(0.0, 0.01, 0.999, 0.0))
    Files.writeString(Paths.get(dir, "f.txt"), vec(0.6, 0.8, 0.0, 0.0))
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt", "f.txt"),
      s"after batch 1: $emitted")

    // store holds exactly the kept vectors (a, c, f), cluster-keyed
    val stored = spark.read.parquet(store)
      .select("cluster", "path").collect()
      .map(r => (r.getInt(0), r.getString(1).split('/').last)).toSet
    assert(stored == Set((0, "a.txt"), (1, "c.txt"), (0, "f.txt")),
      s"store: $stored")
    rmTree(dir); rmTree(ckpt)
  }

  test("suppression is cell-local: a tau-similar vector in ANOTHER cell passes") {
    // cosine(g, h) = 1 but they land in different cells only if their
    // mass differs; instead pin the converse — a vector similar to a
    // cell-0 resident but assigned to cell 1 is NOT suppressed by it.
    // (0.6, 0, 0.8, 0) has cos 0.6 with cell0's axis and 0.8 with
    // cell1's -> assigned cell 1; vs stored cell-1 vector (0,0,1,0) its
    // cosine is 0.8 < tau -> kept. vs hypothetical cell-0 store it is
    // never compared at all.
    val dir = tmp("sdcell")
    val ckpt = tmp("sdcell_ck")
    val store = tmp("sdcell_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = SemDedupStream.run(spark, dir, ckpt, store, cents, tau = 0.95) {
        (kept, _) =>
          emitted ++= kept.select("path").collect()
            .map(_.getString(0).split('/').last)
      }
      q.awaitTermination()
    }
    Files.writeString(Paths.get(dir, "base.txt"), vec(0.0, 0.0, 1.0, 0.0))
    drain()
    Files.writeString(Paths.get(dir, "diag.txt"), vec(0.6, 0.0, 0.8, 0.0))
    drain()
    assert(emitted.sorted == Seq("base.txt", "diag.txt"), s"emitted: $emitted")
    rmTree(dir); rmTree(ckpt)
  }

  test("multi-batch divergence: similar only to a DROPPED vector => stream keeps it") {
    // The documented asymmetry between the forms, pinned test-visibly:
    // the batch operator drops on ANY lower-id similar vector INCLUDING
    // dropped ones, while the stream's cross-batch check compares only
    // against KEPT (registered) vectors — so a similarity chain split
    // across batches keeps a vector the single-batch rule would drop.
    // Geometry (cell 0, tau = 0.95 ~ 18.19 deg): a at 0 deg, b at 18 deg
    // (cos 0.9511 >= tau, dropped by a), x at 36 deg — cos(x,b) = 0.9511
    // >= tau but cos(x,a) = 0.809 < tau: x's ONLY suppressor is b.
    val a = vec(1.0, 0.0, 0.0, 0.0)
    val b = vec(0.9510565, 0.3090170, 0.0, 0.0)
    val x = vec(0.8090170, 0.5877853, 0.0, 0.0)

    def emittedBy(batches: Seq[Seq[(String, String)]]): Seq[String] = {
      val dir = tmp("sdchain")
      val ckpt = tmp("sdchain_ck")
      val store = tmp("sdchain_store") + "/store"
      val emitted = mutable.ArrayBuffer.empty[String]
      batches.foreach { files =>
        files.foreach { case (name, v) =>
          Files.writeString(Paths.get(dir, name), v) }
        val q = SemDedupStream.run(spark, dir, ckpt, store, cents, tau = 0.95) {
          (kept, _) =>
            emitted ++= kept.select("path").collect()
              .map(_.getString(0).split('/').last)
        }
        q.awaitTermination()
      }
      rmTree(dir); rmTree(ckpt)
      emitted.toSeq.sorted
    }

    // chain split across batches: b is dropped in batch 0 and never
    // registers, so batch 1's x sees only KEPT {a} -> kept
    assert(emittedBy(Seq(Seq("a.txt" -> a, "b.txt" -> b), Seq("x.txt" -> x)))
      == Seq("a.txt", "x.txt"))
    // the same three vectors in ONE batch: the in-batch rule (any
    // smaller-path similar vector, dropped or not) suppresses x via b —
    // the batch-operator semantics the stream deliberately diverges from
    assert(emittedBy(Seq(Seq("a.txt" -> a, "b.txt" -> b, "x.txt" -> x)))
      == Seq("a.txt"))
  }

  test("one-batch streaming verdicts equal the batch operator's on real vectors") {
    // parity across forms: same codebook, path order aligned with vec_id
    // order (zero-padded names), tau above the corpus pair ceiling would
    // be vacuous — use tau = 0.3 which actually drops vectors (the batch
    // spec's setting). Batch kept-set == streaming kept-set.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 120)
    val index = graft.ext.IvfAnn.build(e, nCentroids = 4, lloydIters = 0)
    val batchKept = graft.ext.SemDedup.semanticDedup(e, nCentroids = 4, tau = 0.3)
      .filter($"kept").select($"vec_id").collect().map(_.getLong(0)).toSet

    val dir = tmp("sdparity")
    val ckpt = tmp("sdparity_ck")
    val store = tmp("sdparity_store") + "/store"
    e.collect().foreach { r =>
      Files.writeString(Paths.get(dir, f"v${r.getLong(0)}%06d.txt"),
        r.getSeq[Double](1).mkString(" "))
    }
    val emitted = mutable.ArrayBuffer.empty[String]
    val cents = index.centroids.map(_._2.toArray)
    val q = SemDedupStream.run(spark, dir, ckpt, store, cents, tau = 0.3) {
      (kept, _) =>
        emitted ++= kept.select("path").collect()
          .map(_.getString(0).split('/').last)
    }
    q.awaitTermination()
    val streamKept = emitted.map(_.stripPrefix("v").stripSuffix(".txt").toLong).toSet
    assert(streamKept == batchKept,
      s"stream-only: ${streamKept -- batchKept}; batch-only: ${batchKept -- streamKept}")
    assert(batchKept.size < 120, "tau must actually drop something")
    rmTree(dir); rmTree(ckpt)
  }

  test("re-fired batch re-emits identically against its own store partition") {
    val dir = tmp("sdrefire")
    val ckpt1 = tmp("sdrefire_ck1")
    val ckpt2 = tmp("sdrefire_ck2")
    val store = tmp("sdrefire_store") + "/store"
    def runOnce(ckpt: String): Seq[String] = {
      val emitted = mutable.ArrayBuffer.empty[String]
      val q = SemDedupStream.run(spark, dir, ckpt, store, cents, tau = 0.95) {
        (kept, _) =>
          emitted ++= kept.select("path").collect()
            .map(_.getString(0).split('/').last)
      }
      q.awaitTermination()
      emitted.toSeq.sorted
    }
    Files.writeString(Paths.get(dir, "a.txt"), vec(1.0, 0.0, 0.0, 0.0))
    Files.writeString(Paths.get(dir, "b.txt"), vec(0.999, 0.01, 0.0, 0.0))
    val first = runOnce(ckpt1)
    // fresh checkpoint => batch 0 re-fires over the same files; its store
    // partition is overwritten, prior batches (< 0) are empty — identical
    val second = runOnce(ckpt2)
    assert(first == Seq("a.txt") && second == first,
      s"first: $first second: $second")
    rmTree(dir)
  }

  test("auto-k run overload: the stream under a bootstrapCodebook-derived " +
      "codebook suppresses exactly like the explicit-codebook stream") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    // bootstrap corpus = the real embeddings table; target 50 derives the
    // same k the d_semdedup_incremental_auto gate pins (500 vecs -> 10)
    val boot = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double"))
        .as("ev"))
      .localCheckpoint(true)
    val cents = SemDedupStream.bootstrapCodebook(boot, 50)
    assert(cents.length == graft.ext.SemDedup.autoK(boot.count(), 50))

    val dir = tmp("sdauto")
    val ckpt1 = tmp("sdauto_ck1")
    val ckpt2 = tmp("sdauto_ck2")
    // two corpus vectors rendered as stream files, plus a near-parallel
    // of the first — the explicit and auto streams must agree on all
    val rows = boot.filter($"vec_id" < 2).collect()
    def render(v: Seq[Double]) = v.mkString(" ")
    Files.writeString(Paths.get(dir, "a.txt"),
      render(rows(0).getSeq[Double](1)))
    Files.writeString(Paths.get(dir, "b.txt"),
      render(rows(0).getSeq[Double](1).map(_ * 1.001)))
    Files.writeString(Paths.get(dir, "c.txt"),
      render(rows(1).getSeq[Double](1)))
    def drain(ckpt: String, store: String,
        useAuto: Boolean): Seq[String] = {
      val emitted = mutable.ArrayBuffer.empty[String]
      val sink = (kept: org.apache.spark.sql.DataFrame, _: Long) => {
        emitted ++= kept.select("path").collect()
          .map(_.getString(0).split('/').last); ()
      }
      val q =
        if (useAuto) SemDedupStream.run(spark, dir, ckpt, store,
          boot, 50, 0.95)(sink)
        else SemDedupStream.run(spark, dir, ckpt, store, cents, 0.95)(sink)
      q.awaitTermination()
      emitted.toSeq.sorted
    }
    val explicit = drain(ckpt1, tmp("sdauto_st1") + "/s", useAuto = false)
    val auto = drain(ckpt2, tmp("sdauto_st2") + "/s", useAuto = true)
    assert(explicit == auto && auto == Seq("a.txt", "c.txt"),
      s"explicit: $explicit auto: $auto")
    rmTree(dir)
  }
}
