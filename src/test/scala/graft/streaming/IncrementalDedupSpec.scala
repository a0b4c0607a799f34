package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkTestSession, Tables}
import graft.ext.{IncrementalDedup, MinHashDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHashDedup.incrementalKeeps is DOCUMENTED as the batch form of
  * NearDupStream's per-epoch semantics — this spec makes that claim a
  * pinned equivalence: the same two-wave corpus driven through the REAL
  * streaming body (processBanded, the exact foreachBatch code) must keep
  * exactly the docs the batch form flags kept, wave for wave. Clones are
  * planted across waves so every suppression arm (in-wave bucket winner,
  * cross-wave store hit) actually fires.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  // doc_id-keyed corpus with planted exact clones (+100000, same text):
  // clone pairs land in DIFFERENT waves whenever their md5 nibbles differ,
  // exercising the store arm; same-wave clones exercise the greedy arm.
  private lazy val corpus: DataFrame = {
    val base = Tables.documents(spark, sf).filter($"doc_id" < 200)
      .select($"doc_id", $"text")
    base.union(base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .localCheckpoint(true)
  }

  private def waveOf(c: org.apache.spark.sql.Column) =
    when(substring(md5(c.cast("string")), 1, 1).between("0", "7"), 0)
      .otherwise(1)

  test("incrementalKeeps == NearDupStream.processBanded, wave for wave") {
    val audit = MinHashDedup.incrementalKeeps(
      corpus, waveOf($"doc_id"), waves = Seq(0, 1),
      numHashes = 32, bands = 8).collect()
    val batchKept = audit.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("wave"))).toSet
    // both suppression arms must actually fire for the pin to mean much
    assert(audit.exists(_.getAs[Boolean]("hit_batch")), "no in-wave hits")
    assert(audit.exists(_.getAs[Boolean]("hit_store")), "no store hits")

    // stream the same corpus: zero-padded path preserves doc_id order so
    // the streaming module's lexicographic min == the batch form's numeric
    // min; one micro-batch per wave, ascending
    val streamed = corpus
      .select(format_string("d%09d", $"doc_id").as("path"), $"text".as("value"),
        waveOf($"doc_id").as("wave"))
      .localCheckpoint(true)
    val store = tmp("incdedup_store")
    val keptPaths = scala.collection.mutable.Map[Long, Set[String]]()
    val sink = (df: DataFrame, id: Long) => {
      keptPaths(id) = df.select($"path").collect().map(_.getString(0)).toSet
      ()
    }
    for (w <- Seq(0, 1))
      NearDupStream.processBanded(
        streamed.filter($"wave" === w).select($"value", $"path"),
        w.toLong, store,
        NearDupStream.minhashBandify(32, 8), sink)

    val streamKept = (for ((id, paths) <- keptPaths.toSeq; p <- paths)
      yield (p.stripPrefix("d").toLong, id.toInt)).toSet
    assert(streamKept == batchKept,
      s"stream/batch keep-sets differ: only-stream=${
        (streamKept -- batchKept).take(5)}, only-batch=${
        (batchKept -- streamKept).take(5)}")
  }

  test("incrementalKeepsSimHash == NearDupStream SimHash processBanded, " +
      "wave for wave") {
    val audit = IncrementalDedup.incrementalKeepsSimHash(
      corpus, waveOf($"doc_id"), waves = Seq(0, 1)).collect()
    val batchKept = audit.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("wave"))).toSet
    assert(audit.exists(_.getAs[Boolean]("hit_batch")), "no in-wave hits")
    assert(audit.exists(_.getAs[Boolean]("hit_store")), "no store hits")

    val streamed = corpus
      .select(format_string("d%09d", $"doc_id").as("path"), $"text".as("value"),
        waveOf($"doc_id").as("wave"))
      .localCheckpoint(true)
    val store = tmp("incsim_store")
    val keptPaths = scala.collection.mutable.Map[Long, Set[String]]()
    val sink = (df: DataFrame, id: Long) => {
      keptPaths(id) = df.select($"path").collect().map(_.getString(0)).toSet
      ()
    }
    for (w <- Seq(0, 1))
      NearDupStream.processBanded(
        streamed.filter($"wave" === w).select($"value", $"path"),
        w.toLong, store,
        NearDupStream.simhashBandify, sink)
    val streamKept = (for ((id, paths) <- keptPaths.toSeq; p <- paths)
      yield (p.stripPrefix("d").toLong, id.toInt)).toSet
    assert(streamKept == batchKept,
      s"simhash stream/batch keep-sets differ: only-stream=${
        (streamKept -- batchKept).take(5)}, only-batch=${
        (batchKept -- streamKept).take(5)}")
  }

  test("exact-dedup keepsBanded (single md5 band) == DedupStream" +
      ".processBatch, wave for wave") {
    import graft.ext.IncrementalDedup
    val audit = IncrementalDedup.keepsBanded(
      corpus, waveOf($"doc_id"), waves = Seq(0, 1)) { labeled =>
      labeled.select($"doc_id", $"wave",
        lit(0).as("band_idx"), md5($"text").as("band_key"))
    }.collect()
    val batchKept = audit.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("wave"))).toSet
    assert(audit.exists(_.getAs[Boolean]("hit_batch")), "no in-wave hits")
    assert(audit.exists(_.getAs[Boolean]("hit_store")), "no store hits")

    // DedupStream keys its store on xxhash64; kept-sets must still agree
    // because both hashes are injective content identities here
    val streamed = corpus
      .select(format_string("d%09d", $"doc_id").as("path"), $"text".as("value"),
        waveOf($"doc_id").as("wave"))
      .localCheckpoint(true)
    val store = tmp("incexact_store")
    val keptPaths = scala.collection.mutable.Map[Long, Set[String]]()
    val sink = (df: DataFrame, id: Long) => {
      keptPaths(id) = df.select($"path").collect().map(_.getString(0)).toSet
      ()
    }
    for (w <- Seq(0, 1))
      DedupStream.processBatch(
        streamed.filter($"wave" === w).select($"value", $"path"),
        w.toLong, store, sink)
    val streamKept = (for ((id, paths) <- keptPaths.toSeq; p <- paths)
      yield (p.stripPrefix("d").toLong, id.toInt)).toSet
    assert(streamKept == batchKept,
      s"exact stream/batch keep-sets differ: only-stream=${
        (streamKept -- batchKept).take(5)}, only-batch=${
        (batchKept -- streamKept).take(5)}")
  }

  test("incrementalSemDedup == SemDedupStream.processBatch under the " +
      "same codebook, wave for wave") {
    import graft.ext.{IvfAnn, SemDedup}
    val e = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", transform($"embedding", x => x.cast("double"))
        .as("ev"))
      .localCheckpoint(true)
    val audit = SemDedup.incrementalSemDedup(
      e, waveOf($"vec_id"), waves = Seq(0, 1),
      nCentroids = 8, tau = 0.35).collect()
    val batchKept = audit.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("wave"))).toSet
    assert(audit.exists(_.getAs[Boolean]("hit_batch")), "no in-wave hits")
    assert(audit.exists(_.getAs[Boolean]("hit_store")), "no store hits")

    // the stream gets the SAME codebook the batch form derives (full-corpus
    // md5 seeds, lloydIters = 0), vectors rendered as whitespace text the
    // way SemDedupStream's file source delivers them
    val cents = IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
      .centroids.sortBy(_._1).map(_._2.toArray)
    val streamed = e
      .select(format_string("v%09d", $"vec_id").as("path"),
        array_join(transform($"ev", _.cast("string")), " ").as("value"),
        waveOf($"vec_id").as("wave"))
      .localCheckpoint(true)
    val store = tmp("incsem_store")
    val keptPaths = scala.collection.mutable.Map[Long, Set[String]]()
    val sink = (df: DataFrame, id: Long) => {
      keptPaths(id) = df.select($"path").collect().map(_.getString(0)).toSet
      ()
    }
    for (w <- Seq(0, 1))
      SemDedupStream.processBatch(
        streamed.filter($"wave" === w).select($"value", $"path"),
        w.toLong, store, cents, 0.35, sink)
    val streamKept = (for ((id, paths) <- keptPaths.toSeq; p <- paths)
      yield (p.stripPrefix("v").toLong, id.toInt)).toSet
    assert(streamKept == batchKept,
      s"semantic stream/batch keep-sets differ: only-stream=${
        (streamKept -- batchKept).take(5)}, only-batch=${
        (batchKept -- streamKept).take(5)}")
  }

  test("auto-k incremental semantic dedup: derived k matches the integer " +
      "rule, audit matches the explicit-k fold, and the stream under " +
      "bootstrapCodebook keeps the same set") {
    import graft.ext.{IvfAnn, SemDedup}
    val e = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", transform($"embedding", x => x.cast("double"))
        .as("ev"))
      .localCheckpoint(true)
    val n = e.count()
    val target = 50
    val kExpected = math.max(8L, (n + target - 1) / target).toInt
    assert(kExpected != 8, "corpus must derive a k that differs from the " +
      "fixed-k gate or the auto rule is untested")

    val auto = SemDedup.incrementalSemDedup(
      e, waveOf($"vec_id"), waves = Seq(0, 1),
      tau = 0.35, targetClusterSize = target).collect()
    assert(auto.forall(_.getAs[Int]("k_auto") == kExpected),
      s"k_auto must equal max(8, ceil($n/$target)) = $kExpected")

    // the auto overload IS the explicit-k fold at the derived k
    val explicit = SemDedup.incrementalSemDedup(
      e, waveOf($"vec_id"), waves = Seq(0, 1),
      nCentroids = kExpected, tau = 0.35).collect()
    assert(auto.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("wave"),
        r.getAs[Int]("cluster"), r.getAs[Boolean]("hit_batch"),
        r.getAs[Boolean]("hit_store"), r.getAs[Boolean]("kept"))).toSeq ==
      explicit.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("wave"),
        r.getAs[Int]("cluster"), r.getAs[Boolean]("hit_batch"),
        r.getAs[Boolean]("hit_store"), r.getAs[Boolean]("kept"))).toSeq,
      "auto overload must be row-identical to the explicit-k fold")

    // bootstrapCodebook derives the SAME codebook the batch auto path
    // seeds, so stream verdicts agree with the batch auto verdicts
    val cents = SemDedupStream.bootstrapCodebook(e, target)
    assert(cents.length == kExpected,
      "stream bootstrap must derive the same k as the batch auto rule")
    val expected = IvfAnn.build(e, kExpected, lloydIters = 0)
      .centroids.sortBy(_._1).map(_._2.toArray)
    assert(cents.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq,
      "stream bootstrap codebook must equal the batch auto seeding")

    val batchKept = auto.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("wave"))).toSet
    val streamed = e
      .select(format_string("v%09d", $"vec_id").as("path"),
        array_join(transform($"ev", _.cast("string")), " ").as("value"),
        waveOf($"vec_id").as("wave"))
      .localCheckpoint(true)
    val store = tmp("incsemauto_store")
    val keptPaths = scala.collection.mutable.Map[Long, Set[String]]()
    val sink = (df: DataFrame, id: Long) => {
      keptPaths(id) = df.select($"path").collect().map(_.getString(0)).toSet
      ()
    }
    for (w <- Seq(0, 1))
      SemDedupStream.processBatch(
        streamed.filter($"wave" === w).select($"value", $"path"),
        w.toLong, store, cents, 0.35, sink)
    val streamKept = (for ((id, paths) <- keptPaths.toSeq; p <- paths)
      yield (p.stripPrefix("v").toLong, id.toInt)).toSet
    assert(streamKept == batchKept,
      s"auto-k semantic stream/batch keep-sets differ: only-stream=${
        (streamKept -- batchKept).take(5)}, only-batch=${
        (batchKept -- streamKept).take(5)}")
  }

  test("three waves: the store accumulates across ALL earlier waves, " +
      "suppressed docs never register") {
    val docs = Seq(
      (1L, "x y z w", 0), // wave-0 keeper: registers
      (2L, "x y z w", 0), // wave-0 clone: in-wave hit, registers NOTHING
      (3L, "x y z w", 1), // wave-1: store hit via doc 1
      (4L, "p q r s", 1), // wave-1 keeper: registers
      (5L, "p q r s", 2), // wave-2: store hit via WAVE-1's registration
      (6L, "x y z w", 2), // wave-2: store hit via WAVE-0's registration
      (7L, "a b c d", 2)  // wave-2: fresh, kept
    ).toDF("doc_id", "text", "w")
    val rows = MinHashDedup.incrementalKeeps(
      docs, $"w", waves = Seq(0, 1, 2), numHashes = 32, bands = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("hit_batch"), r.getAs[Boolean]("hit_store"),
          r.getAs[Boolean]("kept"))).toMap
    assert(rows(1L) == ((false, false, true)))
    assert(rows(2L) == ((true, false, false)))
    assert(rows(3L) == ((false, true, false)))
    assert(rows(4L) == ((false, false, true)))
    assert(rows(5L) == ((false, true, false)), "wave-1 registration must " +
      "be visible to wave 2")
    assert(rows(6L) == ((false, true, false)), "wave-0 registration must " +
      "still be visible to wave 2")
    assert(rows(7L) == ((false, false, true)))
  }

  test("TTL horizon: pre-horizon registrations are forgotten and " +
      "re-entries are flagged (r20)") {
    val docs = Seq(
      (1L, "x y z w", 0), // wave-0 keeper: registers
      (2L, "p q r s", 1), // wave-1 keeper: registers
      (3L, "x y z w", 2), // near-dups the FORGOTTEN wave-0 keep → re-enters
      (4L, "p q r s", 2), // dups the in-window wave-1 keep → suppressed
      (5L, "a b c d", 2)  // fresh: kept, NOT a re-entry
    ).toDF("doc_id", "text", "w")
    val rows = MinHashDedup.incrementalKeepsTtl(
      docs, $"w", waves = Seq(0, 1, 2), ttlEpochs = 1,
      numHashes = 32, bands = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("hit_batch"), r.getAs[Boolean]("hit_store"),
          r.getAs[Boolean]("kept"), r.getAs[Boolean]("reentered")))).toMap
    assert(rows(1L) == ((false, false, true, false)))
    assert(rows(2L) == ((false, false, true, false)),
      "wave-1 doc must still see wave-0's registration horizon-free " +
        "(ids > 0 - 1 keeps wave 0) — but 'p q r s' is fresh anyway")
    assert(rows(3L) == ((false, false, true, true)),
      "wave-0's registration is beyond the ttl=1 horizon at wave 2 — " +
        "doc 3 must re-enter and be flagged")
    assert(rows(4L) == ((false, true, false, false)))
    assert(rows(5L) == ((false, false, true, false)))

    // at wave 1 the horizon (ids > 0 − 1) still covers wave 0: a wave-1
    // dup of a wave-0 keep is suppressed, never a re-entry
    val two = Seq((1L, "x y z w", 0), (2L, "x y z w", 1))
      .toDF("doc_id", "text", "w")
    val r2 = MinHashDedup.incrementalKeepsTtl(
      two, $"w", waves = Seq(0, 1), ttlEpochs = 1, numHashes = 32, bands = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("hit_store"), r.getAs[Boolean]("kept"),
          r.getAs[Boolean]("reentered")))).toMap
    assert(r2(2L) == ((true, false, false)))
  }

  test("TTL >= |waves| degrades to the horizon-free fold, reentered " +
      "all-false (r20)") {
    val plain = MinHashDedup.incrementalKeeps(
      corpus, waveOf($"doc_id"), waves = Seq(0, 1),
      numHashes = 32, bands = 8).collect().toSeq
    val ttl = MinHashDedup.incrementalKeepsTtl(
      corpus, waveOf($"doc_id"), waves = Seq(0, 1), ttlEpochs = 5,
      numHashes = 32, bands = 8)
    assert(ttl.filter($"reentered").count() == 0)
    assert(ttl.drop("reentered").collect().toSeq == plain)
  }

  test("audit flags are consistent: kept == !(hit_batch || hit_store), " +
      "and bandless docs are always kept") {
    val tiny = Seq((1L, "a b"), (2L, "x y z w"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val rows = MinHashDedup.incrementalKeeps(
      tiny, lit(0), waves = Seq(0), numHashes = 32, bands = 8).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("kept") ==
        !(r.getAs[Boolean]("hit_batch") || r.getAs[Boolean]("hit_store")))
    }
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Boolean]("kept"), "2-token doc must be kept")
    assert(byId(2L).getAs[Boolean]("kept"), "bucket winner must be kept")
    assert(byId(3L).getAs[Boolean]("hit_batch") && !byId(3L).getAs[Boolean]("kept"),
      "exact clone with larger id must lose its buckets")
  }
}
