package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** North-star extension ops: MinHash-LSH finds planted near-dups, SimHash
  * hamming locality, multimodal plumbing (stubbed codec).
  */
class ExtSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("MinHash-LSH surfaces planted near-duplicates first") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val nearDup = base.replace("lazy", "sleepy") // one token changed
    val unrelated = "completely different words forming another document " +
      "with nothing shared at all between the two texts " * 3
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated), (3L, base + " tail"))
      .toDF("doc_id", "text")
    val pairs = MinHashDedup
      .candidatePairs(docs, numHashes = 32, bands = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)), "near-dup pair must collide")
    assert(pairs.contains((0L, 3L)))
    assert(pairs((0L, 1L)) > 0.5)
    assert(!pairs.contains((0L, 2L)) || pairs((0L, 2L)) < 0.2)
  }

  test("collapse-first pairs equal representative-level pairs on a cloned corpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = ("totally different content about orbital mechanics " * 6).trim
    // 3 distinct texts, each with clones: reps must be the min ids
    val docs = Seq(
      (0L, base), (10L, base), (20L, base),          // rep 0
      (1L, nearDup), (11L, nearDup),                 // rep 1
      (2L, unrelated), (12L, unrelated), (22L, unrelated)) // rep 2
      .toDF("doc_id", "text")
    val (pairs, repMap) =
      MinHashDedup.candidatePairsCollapsed(docs, numHashes = 32, bands = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the representative-level near-dup pair survives; the 3+1+3
    // intra-group clone pairs are gone by construction
    assert(got == Set((0L, 1L)), s"pairs: $got")
    val m = repMap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 10L -> 0L, 20L -> 0L, 1L -> 1L, 11L -> 1L,
      2L -> 2L, 12L -> 2L, 22L -> 2L), s"repMap: $m")
  }

  test("MinHash signature is deterministic across evaluations") {
    val docs = Seq((0L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val sig1 = docs.select(MinHashDedup.signature(
      MinHashDedup.shingles(col("text")), 16)).head().getSeq[Long](0)
    val sig2 = docs.select(MinHashDedup.signature(
      MinHashDedup.shingles(col("text")), 16)).head().getSeq[Long](0)
    assert(sig1 == sig2 && sig1.length == 16)
  }

  test("native MinHash signatures are bit-identical to their HOF folds (both families)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    val sh = MinHashDedup.shingles(col("text"))
    val both = docs.select(
      graft.functions.MinHashSignature.minhash_signature(sh, 32).as("native_xx"),
      MinHashDedup.signatureHof(sh, 32).as("hof_xx"),
      MinHashDedup.signature(sh, 32).as("native_md5"),
      MinHashDedup.signatureHofMd5(sh, 32).as("hof_md5")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "xx family")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "md5 family")
    }
  }

  test("SimHash: near-identical texts land within small hamming distance") {
    val base = "spark engine query plan optimizer shuffle partition join " * 8
    val near = base.replace("join", "merge")
    val far = "totally unrelated vocabulary about cooking pasta recipes " * 8
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val fp = SimHash.withSimHash(df, col("text"))
      .select($"doc_id", $"simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(1L)) < ham(fp(0L), fp(2L)))
    assert(ham(fp(0L), fp(1L)) <= 16)
  }

  test("native SimHash64s are bit-identical to their HOF folds (both families)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    docs.select(
      graft.functions.SimHash64.simhash64(split(col("text"), " ")).as("native_xx"),
      SimHash.simhashHof(col("text")).as("hof_xx"),
      SimHash.simhash(col("text")).as("native_md5"),
      SimHash.simhashHofMd5(col("text")).as("hof_md5"))
      .collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1), "xx family")
        assert(r.getLong(2) == r.getLong(3), "md5 family")
      }
  }

  test("SimHash nearDupPairs returns banded close pairs") {
    val unit = "alpha beta gamma delta epsilon zeta eta theta "
    val base = unit * 10
    // one occurrence changed → hamming 3 under the md5 family, inside the
    // 4×16 pigeonhole guarantee (≤3 flipped bits always leave a clean band)
    val near = unit * 9 + unit.replace("zeta", "rho")
    val df = Seq((0L, base.trim), (1L, near.trim),
      (2L, ("other thing entirely unrelated words " * 10).trim)).toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(df, maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("SemDedup drops the near-identical twin, keeps the canonical id") {
    // vec 1 is a tiny perturbation of vec 0 (cos ≈ 1); vec 2 is orthogonal;
    // vec 3 is a perturbation of 2 that stays EXACTLY orthogonal to vecs 0
    // and 1 (its mass lives in dims 2–3, theirs in dims 0–1), so {2,3}
    // co-locate and {0,1} co-locate for every choice of seeds — the rule
    // must keep {0, 2} and drop {1, 3} seed-invariantly.
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.999, 0.01, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.999, 0.01))).toDF("vec_id", "ev")
    val out = SemDedup.semanticDedup(e, nCentroids = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> true, 3L -> false))
  }

  test("SemDedup at tau above the corpus ceiling keeps everything") {
    val docs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 100)
    val out = SemDedup.semanticDedup(docs, nCentroids = 4, tau = 0.99)
    assert(out.filter(!$"kept").count() == 0)
    assert(out.count() == 100)
  }

  test("SpanDedup masks exactly the cross-doc repeated run") {
    val docs = Seq(
      (0L, "a b c d e f g h x y"),          // run at pos 1, 10 tokens
      (1L, "q w e r a b c d e f g h"),      // same 8-run at pos 5, 12 tokens
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),   // no shared span
      (3L, "too short")                     // < width ⇒ no spans at all
    ).toDF("doc_id", "text")
    val rows = SpanDedup.repeatedSpanStats(docs, width = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows(0L) == ((1L, 8L, 0.2)))   // 8 of 10 tokens masked
    assert(rows(1L) == ((1L, 8L, round6(4.0 / 12))))
    assert(rows(2L) == ((0L, 0L, 1.0)))
    assert(rows(3L) == ((0L, 0L, 1.0)))
  }

  test("SpanDedup overlapping hits union their masked intervals") {
    // two docs share a 9-token run ⇒ two overlapping width-8 spans each;
    // the union masks 9 positions, not 16
    val docs = Seq(
      (0L, "a b c d e f g h i"),
      (1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val rows = SpanDedup.repeatedSpanStats(docs, width = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0L) == ((2L, 9L)) && rows(1L) == ((2L, 9L)))
  }

  test("SpanDedup md5-keyed shuffle path produces identical statistics") {
    // the 100 TB key mode: span text replaced by its 16-byte digest on
    // both shuffles — output must be bit-identical to text keys
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"doc_id" < 300)
    def stats(hashKeys: Boolean) =
      SpanDedup.repeatedSpanStats(docs, width = 8, minDocs = 2,
          hashKeys = hashKeys)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
    assert(stats(hashKeys = true) == stats(hashKeys = false))
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("spanStatsCollapsed equals repeatedSpanStats on a clone-free corpus") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"doc_id" < 300).select($"doc_id", $"text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // the corpus subset has no exact duplicates ⇒ every doc is its own rep
    // and the collapsed path must be EXACTLY the direct one
    assert(docs.groupBy($"text").count().filter($"count" > 1).count() == 0)
    assert(rows(SpanDedup.spanStatsCollapsed(docs, width = 8, minDocs = 2))
      == rows(SpanDedup.repeatedSpanStats(docs, width = 8, minDocs = 2)))
  }

  test("spanStatsCollapsed: clones inherit rep stats; minDocs counts distinct texts") {
    // doc 0 and its clones 10/11 share an 8-run with doc 1 (cross-TEXT
    // repetition ⇒ masked); docs 2/12 are clones with a span repeated
    // ONLY via cloning ⇒ NOT a repeated span under distinct-text counting
    val docs = Seq(
      (0L, "a b c d e f g h x y"),
      (1L, "q w e r a b c d e f g h"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (10L, "a b c d e f g h x y"),   // clone of 0
      (11L, "a b c d e f g h x y"),   // clone of 0
      (12L, "u1 u2 u3 u4 u5 u6 u7 u8 u9") // clone of 2
    ).toDF("doc_id", "text")
    val rows = SpanDedup.spanStatsCollapsed(docs, width = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L), "every doc present")
    assert(rows(0L) == ((1L, 8L, 0.2)))
    assert(rows(10L) == rows(0L) && rows(11L) == rows(0L), "clones inherit")
    assert(rows(1L) == ((1L, 8L, round6(4.0 / 12))))
    // clone-only repetition is NOT cross-document boilerplate
    assert(rows(2L) == ((0L, 0L, 1.0)) && rows(12L) == rows(2L))
  }

  test("SpanDedup matches a brute-force reference on seeded random corpora") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    for (_ <- 1 to 3) {
      val docs = (0L until 30L).map(id =>
        (id, Seq.fill(rnd.nextInt(21))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")))
      val width = 4
      // brute force: span -> docs containing it; per doc mask the union of
      // repeated-span intervals
      val spanMap = docs.map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> (toks.length, (0 to toks.length - width)
          .map(i => (i + 1, toks.slice(i, i + width).mkString(" "))))
      }.toMap
      val docsOf = spanMap.toSeq
        .flatMap { case (id, (_, sp)) => sp.map { case (_, s) => (s, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expected = spanMap.map { case (id, (n, sp)) =>
        val hits = sp.filter { case (_, s) => docsOf(s) >= 2 }
        val masked = hits.flatMap { case (p, _) => p until p + width }.distinct.size
        id -> ((n.toLong, hits.size.toLong, masked.toLong))
      }
      val got = SpanDedup.repeatedSpanStats(
          docs.toDF("doc_id", "text"), width = width, minDocs = 2)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1).toLong, r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected)
    }
  }

  test("SemDedup verdicts satisfy the any-similar-lower-id drop rule exactly") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 200)
    val tau = 0.3
    val out = SemDedup.semanticDedup(e, nCentroids = 4, tau = tau).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e4) / 1e4
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, c, kept) =>
      val hasLowerNeighbor = byCluster(c).exists { case (other, _, _) =>
        other < id && cos(vecs(other), vecs(id)) >= tau }
      assert(kept == !hasLowerNeighbor, s"vec $id cluster $c kept=$kept")
    }
    assert(out.length == 200 && out.exists(!_._3))
  }

  test("SemDedup auto-k path equals the explicit-k path at the derived k") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 300)
    // n = 300, target 50 ⇒ derived k = 6 < kMin 8 ⇒ k = 8; target 20 ⇒ k = 15
    val auto = SemDedup.semanticDedup(e, tau = 0.3, targetClusterSize = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    val explicit = SemDedup.semanticDedup(e, nCentroids = 15, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(auto == explicit)
    val floored = SemDedup.semanticDedup(e, tau = 0.3, targetClusterSize = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    val flooredExplicit = SemDedup.semanticDedup(e, nCentroids = 8, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(floored == flooredExplicit)
  }

  test("SemDedup default dispatches to coarse assignment above CoarseDispatchK") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 400)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    // n = 400, target 5 ⇒ derived k = 80 > CoarseDispatchK = 64 ⇒ the
    // default path must be EXACTLY the coarse-quantized path …
    assert(SemDedup.CoarseDispatchK == 64)
    val dflt = rows(SemDedup.semanticDedup(e, tau = 0.3, targetClusterSize = 5))
    val coarse = rows(SemDedup.semanticDedupCoarse(e, tau = 0.3, targetClusterSize = 5))
    assert(dflt == coarse, "default above threshold must equal the coarse path")
    // … while exact = true forces the flat O(n·k) scan at the same k
    val exact = rows(SemDedup.semanticDedup(e, tau = 0.3, targetClusterSize = 5,
      exact = true))
    val flat = rows(SemDedup.semanticDedup(e, nCentroids = 80, tau = 0.3))
    assert(exact == flat, "exact=true above threshold must equal flat explicit-k")
    // below the threshold (k = 80 only with target 5; target 20 ⇒ k = 20)
    // the default stays flat — pinned by the auto-k test above; re-assert
    // here against the coarse path NOT being taken
    val below = rows(SemDedup.semanticDedup(e, tau = 0.3, targetClusterSize = 20))
    val belowFlat = rows(SemDedup.semanticDedup(e, nCentroids = 20, tau = 0.3))
    assert(below == belowFlat, "default below threshold must stay flat")
  }

  test("incremental SemDedup auto dispatches like the batch path (r20)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 400)
    val wv = (col("vec_id") % 2).cast("int")
    val waves = Seq(0, 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("k_auto").collect().toSeq
    // n = 400, target 5 ⇒ derived k = 80 > CoarseDispatchK ⇒ the default
    // must be EXACTLY the coarse-assigned fold at the derived k …
    val dflt = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      tau = 0.3, targetClusterSize = 5))
    val coarse = rows(SemDedup.incrementalSemDedupCoarse(e, wv, waves,
      nCentroids = 80, tau = 0.3))
    assert(dflt == coarse,
      "incremental default above threshold must equal the coarse fold")
    // … exact = true forces the flat SQL-derivable assignment at the same k
    val exact = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      tau = 0.3, targetClusterSize = 5, exact = true))
    val flat = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      nCentroids = 80, tau = 0.3))
    assert(exact == flat,
      "incremental exact=true must equal flat explicit-k")
    // below the threshold (target 50 ⇒ k = 8) the default stays flat —
    // this is the gate arm's regime (d_semdedup_incremental_auto, k = 8)
    val below = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      tau = 0.3, targetClusterSize = 50))
    val belowFlat = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      nCentroids = 8, tau = 0.3))
    assert(below == belowFlat,
      "incremental default below threshold must stay flat")
    // the coarse fold must differ from flat ONLY via cluster membership.
    // This parameterization is deliberately pathological (target 5 ⇒
    // ~5-vector cells over synthetic near-uniform embeddings, so MANY
    // vectors sit on cell boundaries) — verdicts still agree on ≥ 80%
    // (observed 85%); the production-regime assignment agreement pin
    // (≥ 95% on clustered embeddings) lives in SkewAndIvfSpec
    val flatKept = flat.map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val agree = dflt.count(r => flatKept(r.getLong(0)) == r.getBoolean(5))
    assert(agree >= (0.8 * flat.size).toInt,
      s"coarse/flat verdict agreement too low: $agree/${flat.size}")
  }

  test("incremental SemDedup kernel fold is row-identical to the " +
      "relational fold (r20)") {
    // n = 400 ⇒ target 50 derives k = 8 (flat regime), target 5 derives
    // k = 80 (coarse regime) — the RELATIONAL twins are reconstructed
    // from the explicit-k oracle-documented overloads at those k, since
    // the shipped auto overload now routes through the kernel
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 400)
    val wv = ($"vec_id" % 3).cast("int")
    val waves = Seq(0, 1, 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    // flat regime: kernel (shipped default AND exact=true — k ≤ 64 keeps
    // assignment flat either way) == relational explicit-k fold
    val relFlat8 = rows(SemDedup.incrementalSemDedup(e, wv, waves,
      nCentroids = 8, tau = 0.3).withColumn("k_auto", lit(8)))
    assert(rows(SemDedup.incrementalSemDedup(e, wv, waves,
      tau = 0.3, targetClusterSize = 50)) == relFlat8)
    assert(rows(SemDedup.incrementalSemDedupKernel(e, wv, waves,
      tau = 0.3, targetClusterSize = 50, exact = true)) == relFlat8)
    // coarse regime: kernel and relational share assignLabeled, so rows
    // stay bit-identical THROUGH the approximate assignment too
    assert(rows(SemDedup.incrementalSemDedup(e, wv, waves,
        tau = 0.3, targetClusterSize = 5)) ==
      rows(SemDedup.incrementalSemDedupCoarse(e, wv, waves,
        nCentroids = 80, tau = 0.3).withColumn("k_auto", lit(80))))
    assert(rows(SemDedup.incrementalSemDedup(e, wv, waves,
        tau = 0.3, targetClusterSize = 5, exact = true)) ==
      rows(SemDedup.incrementalSemDedup(e, wv, waves,
        nCentroids = 80, tau = 0.3).withColumn("k_auto", lit(80))))
  }

  test("incremental SemDedup kernel routes hot clusters to the relational " +
      "fold with identical verdicts (r21, r20 verdict item 4)") {
    // same fixture as the row-identical pin above; target 50 ⇒ k = 8 ⇒
    // ~50-row clusters. A cap of 30 forces SOME clusters hot (routed to
    // the relational fold) and leaves others on the kernel; a cap of 1
    // routes EVERYTHING. Both must be row-identical to the uncapped
    // kernel — the cap is a memory guard, never a semantics knob.
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
      .filter($"vec_id" < 400)
    val wv = ($"vec_id" % 3).cast("int")
    val waves = Seq(0, 1, 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val uncapped = rows(SemDedup.incrementalSemDedupKernel(e, wv, waves,
      tau = 0.3, targetClusterSize = 50, exact = false,
      hotClusterCap = Long.MaxValue))
    val mixed = rows(SemDedup.incrementalSemDedupKernel(e, wv, waves,
      tau = 0.3, targetClusterSize = 50, exact = false, hotClusterCap = 30L))
    assert(mixed == uncapped, "mixed kernel/relational routing changed verdicts")
    val allHot = rows(SemDedup.incrementalSemDedupKernel(e, wv, waves,
      tau = 0.3, targetClusterSize = 50, exact = false, hotClusterCap = 1L))
    assert(allHot == uncapped, "all-hot relational routing changed verdicts")
  }

  test("batch semdedup kernel fold is row-identical to the relational " +
      "fold across every hot-cluster route (r21)") {
    // r20 built the typed kernel only for the incremental family; r21
    // routes the BATCH fold through it too (d_semdedup_auto was the
    // worst 10x factor in r20's sweep). Default cap (16 x mean size),
    // a forced mixed route, and an all-relational route must all be
    // row-identical to the oracle-documented relational fold, and the
    // shipped explicit-k entry point must match through the routing.
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
    val assigned = IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
      .assigned.localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val rel = rows(SemDedup.verdictsRelational(assigned, 0.35))
    assert(rows(SemDedup.verdictsRouted(assigned, 0.35, None)) == rel,
      "kernel route changed batch verdicts")
    assert(rows(SemDedup.verdictsRouted(assigned, 0.35, Some(30L))) == rel,
      "mixed kernel/relational route changed batch verdicts")
    assert(rows(SemDedup.verdictsRouted(assigned, 0.35, Some(1L))) == rel,
      "all-hot relational route changed batch verdicts")
    assert(rows(SemDedup.semanticDedup(e, nCentroids = 8, tau = 0.35)) == rel,
      "shipped explicit-k entry diverged through the routing")
  }

  test("batch guard: a skew-hot cluster routes relationally instead of " +
      "refusing (r22, r21 ADVICE)") {
    // 32 two-row clusters + one 4500-row hot cluster: total pair volume
    // is ~2200 pairs/row — past the 2000 bound, so the r21 pre-routing
    // guard refused this shape even though the hot-cluster router was
    // built to absorb exactly it (and named the auto-k remedy the caller
    // may already be on). The r22 guard measures the KERNEL-BOUND slice
    // only (1 pair/row here): the hot cluster routes to the spilling
    // relational fold and the fold completes. The uniform fixed-k cliff
    // (no hot cluster ⇒ guarded slice = everything) still refuses —
    // pinned by the r21 test below on the 40k fixed-k=8 fixture.
    val rows = (0 until 64).map(i =>
      (i.toLong, Seq(1.0, i.toDouble), i / 2)) ++
      (0 until 4500).map(i => (1000L + i, Seq(1.0, 0.0), 999))
    val assigned = rows.toDF("vec_id", "ev", "cluster").localCheckpoint(true)
    val out = SemDedup.verdictsRouted(assigned, 0.9999, None)
    assert(out.count() == 4564, "skew-hot batch fold must complete")
  }

  test("relational semdedup folds refuse a fatal pair-volume " +
      "parameterization loudly (r21, r20 verdict item 1)") {
    // 40k dim-2 vectors at fixed k = 8: ~5k-row clusters ⇒ ~2.5k candidate
    // pairs per row — past the 2000 pairs/row bound (the fixed-k arm
    // burned 398 s at the 100× corpus in r20's sweep). The guard fires
    // from one cheap count over the assignment, BEFORE the pair join.
    val big = (0 until 40000).map { i =>
      val th = i.toDouble / 40000.0 * math.Pi
      (i.toLong, Seq(math.cos(th), math.sin(th)))
    }.toDF("vec_id", "ev")
    val exBatch = intercept[IllegalStateException] {
      SemDedup.semanticDedup(big, nCentroids = 8, tau = 0.99)
    }
    assert(exBatch.getMessage.contains("refused") &&
      exBatch.getMessage.contains("auto-k"),
      s"batch refusal must name the auto-k remedy: ${exBatch.getMessage}")
    val exInc = intercept[IllegalStateException] {
      SemDedup.incrementalSemDedup(big, ($"vec_id" % 2).cast("int"),
        waves = Seq(0, 1), nCentroids = 8, tau = 0.99)
    }
    assert(exInc.getMessage.contains("refused"), exInc.getMessage)
    // the auto-k overloads hold pairs/row constant and must keep running
    // on the same corpus the fixed-k forms refuse
    assert(SemDedup.semanticDedup(big, tau = 0.99).count() == 40000)
  }

  test("multimodal: stubbed decode extracts metadata per partition") {
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", Array.tabulate(64)(_.toByte)),
      Multimodal.MediaRow(2L, "audio", Array.tabulate(1000)(i => (i % 127).toByte)))
    val meta = Multimodal.extractMeta(rows.toDS()).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(1L).n_bytes == 64)
    assert(meta(2L).n_bytes == 1000)
    // deterministic: same bytes → same checksum/dims
    val again = Multimodal.extractMeta(rows.toDS()).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(1L) == again(1L))
  }

  test("multimodal: frame sampling shape") {
    val media = Seq(Multimodal.MediaRow(7L, "video",
      Array.tabulate(100)(_.toByte))).toDS()
    val frames = Multimodal.sampleFrames(media, frameSize = 10, stride = 2)
      .collect()
    assert(frames.length == 5) // 10 frames, every 2nd
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length == 10))
  }

  test("multimodal: resize stub shrinks payload deterministically") {
    val media = Seq(Multimodal.MediaRow(9L, "image",
      Array.tabulate(1024)(_.toByte))).toDS()
    val out = Multimodal.resizeStub(media, targetBytes = 128).collect().head
    assert(out.bytes.length <= 128 + 8)
    assert(out.media_id == 9L)
  }

  test("multimodal: decode stub never yields negative dims (MinValue header)") {
    val worst = Array[Byte](0x80.toByte, 0, 0, 0, 0x80.toByte, 0, 0, 0,
      0x80.toByte, 0, 0, 0)
    val (w, h, sr) = Multimodal.decodeStub(worst)
    assert(w >= 0 && h >= 0 && sr >= 0)
  }
}
