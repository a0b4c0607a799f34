package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable

/** Incremental exact dedup over a document stream: content seen in ANY
  * earlier micro-batch never reaches the sink again, in-batch duplicates
  * collapse to a deterministic winner, and a re-fired batch (lost
  * checkpoint commit) re-emits identically instead of being swallowed by
  * its own partial store write.
  */
class DedupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  private def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  test("only never-seen content reaches the sink; in-batch dups pick lowest path") {
    val dir = tmp("dstream")
    val ckpt = tmp("dstream_ck")
    val store = tmp("dstream_store") + "/store" // must not pre-exist
    val emitted = mutable.ArrayBuffer.empty[(Long, String, String)]

    def drain(): Unit = {
      val q = DedupStream.run(spark, dir, ckpt, store) { (fresh, bid) =>
        emitted ++= fresh.select("path", "value").collect()
          .map(r => (bid, r.getString(0), r.getString(1)))
      }
      q.awaitTermination()
    }

    Files.writeString(Paths.get(dir, "a.txt"), "alpha doc")
    Files.writeString(Paths.get(dir, "b.txt"), "beta doc")
    Files.writeString(Paths.get(dir, "c.txt"), "alpha doc") // in-batch dup
    drain()
    assert(emitted.map(_._3).sorted == Seq("alpha doc", "beta doc"))
    // deterministic in-batch winner: lexicographically lowest path
    assert(emitted.find(_._3 == "alpha doc").get._2.endsWith("a.txt"))

    // next drain: one cross-batch dup (suppressed) + one new doc (passes)
    Files.writeString(Paths.get(dir, "d.txt"), "beta doc")
    Files.writeString(Paths.get(dir, "e.txt"), "gamma doc")
    drain()
    assert(emitted.map(_._3).sorted == Seq("alpha doc", "beta doc", "gamma doc"))
    assert(emitted.find(_._3 == "gamma doc").get._1 > 0L) // later batch

    // store: exactly one hash per distinct content, ever
    val hashes = spark.read.parquet(store)
      .select("content_hash").collect().map(_.getLong(0)).toSeq
    assert(hashes.length == 3 && hashes.distinct.length == 3, s"store: $hashes")

    // a re-run with no new files returns and changes nothing: the folder
    // watch is a re-run of the drain on the same checkpoint
    val emittedBefore = emitted.toList
    drain()
    assert(emitted.toList == emittedBefore, s"empty re-run emitted: $emitted")
    assert(spark.read.parquet(store).count() == 3L, "empty re-run wrote the store")
  }

  test("path is _metadata.file_path, the form the batch loads key on") {
    val dir = tmp("dpath")
    val ckpt = tmp("dpath_ck")
    val store = tmp("dpath_store") + "/store"
    // a space and a `%` are where input_file_name() and _metadata differ
    Files.writeString(Paths.get(dir, "a.txt"), "alpha")
    Files.writeString(Paths.get(dir, "run B.txt"), "beta")
    Files.writeString(Paths.get(dir, "r%41.txt"), "gamma")
    val emitted = mutable.ArrayBuffer.empty[String]
    DedupStream.run(spark, dir, ckpt, store) { (fresh, _) =>
      emitted ++= fresh.select("path").collect().map(_.getString(0))
    }.awaitTermination()
    val batchPaths = spark.read.option("wholetext", "true").text(dir)
      .select("_metadata.file_path").collect().map(_.getString(0)).toSet
    assert(batchPaths.size == 3, s"batch paths: $batchPaths")
    assert(emitted.toSet == batchPaths && emitted.size == 3,
      s"stream paths $emitted != batch paths $batchPaths")
  }

  test("re-fired batch re-emits identically; store partition overwrite, not append") {
    // simulate a lost checkpoint commit: wipe the CHECKPOINT but keep the
    // STORE -> the same files replay as batch 0, whose own batch=0 store
    // partition must NOT suppress them (anti-join is strictly batch < id)
    val dir = tmp("dfire")
    val ckpt = tmp("dfire_ck")
    val store = tmp("dfire_store") + "/store"
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]

    def drain(): Unit = {
      val q = DedupStream.run(spark, dir, ckpt, store) { (fresh, bid) =>
        emitted ++= fresh.select("value").collect().map(r => (bid, r.getString(0)))
      }
      q.awaitTermination()
    }

    Files.writeString(Paths.get(dir, "a.txt"), "alpha")
    Files.writeString(Paths.get(dir, "b.txt"), "beta")
    drain()
    val first = emitted.toSet
    assert(first.map(_._2) == Set("alpha", "beta"))

    rmTree(ckpt) // replay: batch 0 fires again against a warm store
    drain()
    assert(emitted.size == 4, s"re-fire dropped rows: $emitted")
    assert(emitted.toSet == first, s"re-fire diverged: $emitted")
    // batch=0 partition was overwritten, not appended: still 2 hashes total
    val n = spark.read.parquet(store).count()
    assert(n == 2L, s"store duplicated on re-fire: $n rows")
  }
}
