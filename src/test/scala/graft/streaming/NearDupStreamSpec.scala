package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable

/** Streaming MinHash-LSH near-dup suppression: a near-duplicate (one token
  * changed) of a document kept in ANY earlier micro-batch never reaches the
  * sink; unrelated documents always do; re-fired batches re-emit
  * identically against their own store partition.
  */
class NearDupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  private def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  // high-Jaccard corpus: a one-token edit of `base` keeps J ≈ 0.95, so at
  // 32 hashes × 8 bands the band-collision probability is ~1 and, being
  // fully deterministic (md5 family), the collisions below are pinned facts
  private val base =
    ("the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew hot coffee at midnight near the old stone bridge ") * 5
  private val nearA = base.replace("lazy", "sleepy")
  private val nearB = base.replace("coffee", "tea")
  private val unrelated =
    ("completely different subject matter entirely about spacecraft " +
      "navigation systems and orbital mechanics textbooks ") * 5

  test("near-dups are suppressed across and within batches; unrelated pass") {
    val dir = tmp("ndstream")
    val ckpt = tmp("ndstream_ck")
    val store = tmp("ndstream_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]

    def drain(): Unit = {
      val q = NearDupStream.run(spark, dir, ckpt, store) { (kept, bid) =>
        emitted ++= kept.select("path").collect()
          .map(r => (bid, r.getString(0).split('/').last))
      }
      q.awaitTermination()
    }

    Files.writeString(Paths.get(dir, "a.txt"), base)
    Files.writeString(Paths.get(dir, "b.txt"), nearA) // in-batch near-dup of a
    Files.writeString(Paths.get(dir, "c.txt"), unrelated)
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt"),
      s"batch 0 emitted: $emitted")

    // cross-batch: another near-dup of a (suppressed by the store), one new
    Files.writeString(Paths.get(dir, "d.txt"), nearB)
    Files.writeString(Paths.get(dir, "e.txt"), "tiny") // <3 tokens: always kept
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt", "e.txt"),
      s"after batch 1: $emitted")

    // store registers bands for KEPT signature-bearing docs only (a, c):
    // 8 bands each, all distinct
    val bandRows = spark.read.parquet(store).count()
    assert(bandRows == 16L, s"store rows: $bandRows")
  }

  test("SimHash stream suppresses hamming-close docs across batches") {
    val dir = tmp("shstream")
    val ckpt = tmp("shstream_ck")
    val store = tmp("shstream_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]

    def drain(): Unit = {
      val q = NearDupStream.runSimHash(spark, dir, ckpt, store) { (kept, bid) =>
        emitted ++= kept.select("path").collect()
          .map(r => (bid, r.getString(0).split('/').last))
      }
      q.awaitTermination()
    }

    // one changed token OCCURRENCE (not all repeats) keeps hamming ≤ 3
    // under the md5 family (pinned in ExtSpec) — pigeonhole guarantees a
    // clean band among the 4×16, so suppression is a deterministic fact
    val unit = "alpha beta gamma delta epsilon zeta eta theta "
    val shBase = (unit * 10).trim
    val shNearA = (unit * 9 + unit.replace("zeta", "rho")).trim
    // NOT "eta"->… : "eta" substrings beta/zeta/theta and replace() would
    // rewrite them all (hamming 7, no clean band)
    val shNearB = (unit * 9 + unit.replace("beta", "nu")).trim
    val shOther = ("other thing entirely unrelated words " * 10).trim

    Files.writeString(Paths.get(dir, "a.txt"), shBase)
    Files.writeString(Paths.get(dir, "b.txt"), shNearA) // in-batch near-dup
    Files.writeString(Paths.get(dir, "c.txt"), shOther)
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt"),
      s"batch 0 emitted: $emitted")

    Files.writeString(Paths.get(dir, "d.txt"), shNearB) // cross-batch near-dup
    drain()
    assert(emitted.map(_._2).sorted == Seq("a.txt", "c.txt"),
      s"after batch 1: $emitted")

    // every kept doc fingerprints: a and c registered 4 bands each
    assert(spark.read.parquet(store).count() == 8L)
  }

  test("re-fired batch re-emits identically against its own store partition") {
    val dir = tmp("ndfire")
    val ckpt = tmp("ndfire_ck")
    val store = tmp("ndfire_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]

    def drain(): Unit = {
      val q = NearDupStream.run(spark, dir, ckpt, store) { (kept, bid) =>
        emitted ++= kept.select("path").collect()
          .map(r => (bid, r.getString(0).split('/').last))
      }
      q.awaitTermination()
    }

    Files.writeString(Paths.get(dir, "a.txt"), base)
    Files.writeString(Paths.get(dir, "b.txt"), unrelated)
    drain()
    val first = emitted.toSet
    assert(first.map(_._2) == Set("a.txt", "b.txt"))

    rmTree(ckpt) // lost checkpoint commit: batch 0 replays against warm store
    drain()
    assert(emitted.size == 4, s"re-fire dropped rows: $emitted")
    assert(emitted.toSet == first, s"re-fire diverged: $emitted")
    // batch=0 partition overwritten, not appended: still 16 band rows
    assert(spark.read.parquet(store).count() == 16L)
  }

  test("compactStore preserves verdicts exactly; ttlEpochs forgets " +
      "pre-horizon registrations so their near-dups re-enter") {
    val spark2 = spark
    import spark2.implicits._
    val bandify =
      NearDupStream.minhashBandify(32, 8)
    val topic2 = ("orchestra rehearsals feature brass woodwind strings " +
      "percussion sections tuning carefully before the conductor arrives " +
      "onstage for tonight ") * 5
    val topic3 = ("gardening manuals recommend composting kitchen scraps " +
      "alongside autumn leaves to enrich vegetable beds before spring " +
      "planting begins again ") * 5
    val fresh = ("deep sea hydrothermal vents host chemosynthetic bacteria " +
      "sustaining tube worms crabs and shrimp in total darkness below " +
      "crushing pressure zones ") * 5
    // one doc per epoch, four epochs; the probe batch carries a near-dup
    // of each epoch's doc plus one fresh doc
    val epochDocs = IndexedSeq(base, unrelated, topic2, topic3)
    val batches = epochDocs.zipWithIndex.map { case (t, i) =>
      Seq((t, s"doc$i")).toDF("value", "path").localCheckpoint(true)
    }
    val probe = Seq(
      (base.replace("lazy", "sleepy"), "p0"),
      (unrelated.replace("spacecraft", "rocket"), "p1"),
      (topic2.replace("brass", "silver"), "p2"),
      (topic3.replace("autumn", "fall"), "p3"),
      (fresh, "pf")).toDF("value", "path").localCheckpoint(true)
    val noSink = (_: org.apache.spark.sql.DataFrame, _: Long) => ()

    def run(st: String, compact: Option[Option[Long]]): Map[String, Boolean] = {
      batches.zipWithIndex.foreach { case (b, i) =>
        NearDupStream.processBanded(b, i.toLong, st, bandify, noSink) }
      compact.foreach(ttl => NearDupStream.compactStore(spark, st, ttl))
      var kept = Set.empty[String]
      NearDupStream.processBanded(probe, 4L, st, bandify,
        (df: org.apache.spark.sql.DataFrame, _: Long) => {
          kept = df.select("path").collect().map(_.getString(0)).toSet; ()
        })
      probe.select("path").collect().map(_.getString(0))
        .map(n => n -> kept.contains(n)).toMap
    }

    val expect = Map("p0" -> false, "p1" -> false, "p2" -> false,
      "p3" -> false, "pf" -> true)
    assert(run(tmp("ndc_plain") + "/s", None) == expect)
    // compaction must be verdict-invisible
    val cst = tmp("ndc_comp") + "/s"
    assert(run(cst, Some(None)) == expect)
    // layout: epochs 0..2 collapsed into one band_idx-partitioned
    // snapshot, the newest epoch (3) per-partition, then the probe's own
    val cParts = Option(new java.io.File(cst).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted
    assert(cParts.exists(_.stripPrefix("batch=").toLong >=
      EpochStore.CompactedBase) && cParts.contains("batch=3"),
      s"unexpected compacted layout: $cParts")

    // ttlEpochs = 2 at newest = 3 keeps only epoch 2 of the absorbed
    // range: epoch-0/1 registrations are forgotten — their near-dups
    // RE-ENTER (the stated trade); epoch-2 (kept) and epoch-3 (newest,
    // never absorbed) still suppress
    assert(run(tmp("ndc_ttl") + "/s", Some(Some(2L))) ==
      Map("p0" -> true, "p1" -> true, "p2" -> false,
        "p3" -> false, "pf" -> true))
  }
}
