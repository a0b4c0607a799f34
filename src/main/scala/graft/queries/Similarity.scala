package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search extension surface (SURVEY.md §2.11 X4): cosine over
  * `array<float>` embedding columns.
  *
  * - Brute-force cosine is the correctness baseline: pure higher-order
  *   functions (`zip_with` + `aggregate`), fully codegen'd, no UDF.
  * - The scale path is LSH bucketing (random hyperplane signatures) so the
  *   candidate join is equi on bucket signature instead of a cross join —
  *   at 100 TB the cross join is infeasible, the LSH join shuffles only
  *   bucket-colliding pairs.
  *
  * Cosines are rounded to 4 decimals *before* ordering on both engine and
  * oracle sides so top-k tie-breaks (by vec_id) are cross-engine stable.
  */
object Similarity {

  /** dot(a, b) over two double arrays via fold — sequential, deterministic. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** cosine(a, b) for double arrays — native codegen Expression
    * (graft.functions.CosineSim): one fused loop, no intermediate arrays.
    * Bit-identical to the HOF form below (same sequential accumulation).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Reference HOF formulation — kept for the equivalence spec and as the
    * fallback if an engine build lacks the custom expression. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The embeddings table with the vector pre-cast to array<double>. */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("ev"))

  /** Random-hyperplane LSH signature: `nBits` sign bits of dot(v, h_i) packed
    * into a long. Hyperplanes are pseudo-random but seed-deterministic,
    * generated driver-side (tiny: nBits × dim doubles, broadcast as literals).
    */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val lit_p = array(p.map(lit): _*)
      when(dot(v, lit_p) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic pseudo-random hyperplanes (xorshift-ish LCG, fixed seed). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(nBits)(Array.fill(dim)(next()))
  }

  /** md5-derived hyperplanes — the ORACLE-RECOMPUTABLE family (the PRODUCT
    * planes of lshCandidatePairs): component (i, j) is
    * `(md5_number_upper('gr_lsh_i_j') >> 11) / 2^53 - 0.5`, every step exact
    * in doubles (53-bit integer, power-of-two divide), so DuckDB regenerates
    * the planes bit-for-bit and the x4_ann_lsh_pairs oracle re-derives the
    * whole candidate set. Sign decisions are robust: dots are sequential
    * folds on both engines (bit-identical — verified over every (vec, plane)
    * pair at sf0.01, min |dot| ≈ 1.8e-5, ~8 orders above double rounding).
    */
  def md5Hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits) { i =>
      Array.tabulate(dim) { j =>
        val u = graft.functions.Md5Hash64.hashUpper(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"gr_lsh_${i}_${j}"))
        (u >>> 11).toDouble / 9007199254740992.0 - 0.5
      }
    }

  /** Multi-table (banded) random-hyperplane LSH candidate pairs, scored by
    * exact cosine: `nBands` independent signatures of `bandBits` sign bits
    * each; a pair is a candidate iff it collides in ANY band. Per-pair
    * collision probability 1 - (1 - p^bandBits)^nBands with p = 1 - θ/π —
    * near 1 for near-duplicates (cos ≥ 0.95) at the 8×8 default, by design
    * selective against moderate-cos pairs (a single 16-exact-bit table had
    * ~zero recall even on near-dups' own band sizes). The join is equi on
    * (band_idx, band_sig): only bucket-colliding pairs shuffle — at 100 TB
    * this is the difference between an equi-join and an infeasible cross
    * join. Input: (vec_id, ev: array<double>) with vectors of length `dim`.
    */
  def lshCandidatePairs(e: DataFrame, dim: Int, nBands: Int = 8,
      bandBits: Int = 8): DataFrame = {
    val banded = lshBanded(e, dim, nBands, bandBits)
    // Refusal guard (r20 verdict item 1): the fixed-band-bits raw form is
    // output-bound-quadratic — at the 100× corpus the 8×8 default
    // exhausted >75 GB of local shuffle disk and killed the sweep leg
    // (r20_allquery_100x) while its shipped siblings passed in-sweep. A
    // declared query must refuse a fatal parameterization loudly: the
    // EXACT candidate-pair volume Σ s·(s−1)/2 over bucket sizes is one
    // cheap map-side-combined aggregation over the already-checkpointed
    // 24-byte banded rows, measured BEFORE the pair explosion. The bound
    // is per input vector, so the linear-scaling auto/collapsed forms
    // (pairs/vector ≲ nBands·targetBucket/2, constant in n) never trip it
    // at any corpus size, while fixed bits trip once buckets blow up
    // (scale evidence: BENCH_SCALE r21_lsh_guard). Gate shapes sit at
    // ≤ ~31 pairs/vector at every SF.
    val (pairVol, nVec) = lshPairVolume(banded, nBands)
    if (nVec > 0 && pairVol / nVec > LshPairsPerVectorGuard)
      throw new IllegalStateException(
        s"lshCandidatePairs refused: bucket-pair volume $pairVol over " +
          s"$nVec vectors (${pairVol / nVec} pairs/vector) exceeds the " +
          s"$LshPairsPerVectorGuard pairs/vector bound - fixed band bits " +
          "are quadratic in corpus size. Use lshCandidatePairsAuto " +
          "(derives band bits to hold bucket size constant) or " +
          "lshCandidatePairsCollapsed (additionally collapses exact " +
          "clones, which collide in every band by construction).")
    val a = banded.select(col("band_idx"), col("band_sig"), col("vec_id").as("a"))
    val b = banded.select(col("band_idx"), col("band_sig"), col("vec_id").as("b"))
    val cand = a.join(b, Seq("band_idx", "band_sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct() // a pair may collide in several bands
    val ea = e.select(col("vec_id").as("a"), col("ev").as("av"))
    val eb = e.select(col("vec_id").as("b"), col("ev").as("bv"))
    cand.join(ea, Seq("a")).join(eb, Seq("b"))
      .select(col("a"), col("b"), round(cosine(col("av"), col("bv")), 4).as("cos"))
  }

  /** [[lshCandidatePairs]] with the band width derived from the corpus —
    * the k∝n rule applied to banded LSH. FIXED band bits are a scale
    * cliff: expected bucket size is n/2^bits, so candidate pairs per
    * bucket grow ~(n/2^bits)² and total candidates grow QUADRATICALLY in
    * n (measured: the 8×8 default that runs in 5.6 s on 20k vectors
    * spilled >78 GB of shuffle at 200k and died on disk — BENCH_SCALE
    * `r10_lsh_auto_bits`). Deriving `bandBits = ceil(log2(n /
    * targetBucket))` (floored at 8) keeps the expected bucket size — and
    * with it per-bucket pair work — constant as the corpus grows, the
    * same constant-cell-size rule as `IvfAnn.buildAuto` and SemDedup's
    * auto-k. The recall trade is explicit: more bits per band lowers
    * per-band collision probability for a given cosine (p^bits), so
    * near-dup recall at fixed nBands falls as the corpus grows — raise
    * `nBands` together with bits to hold recall (1-(1-p^bits)^bands);
    * the spec pins band-bits derivation and small-corpus equality with
    * the fixed form. */
  def lshCandidatePairsAuto(e: DataFrame, dim: Int, nBands: Int = 8,
      targetBucket: Int = 256): DataFrame = {
    val n = math.max(1L, e.select(col("vec_id")).count())
    lshCandidatePairs(e, dim, nBands, autoBandBits(n, targetBucket))
  }

  /** The checkpointed (vec_id, band_idx, band_sig) banded frame — the
    * ~24-byte/row proxy the candidate self-join runs on. The band
    * self-join shuffles ONLY these rows; embeddings join back afterwards,
    * once per surviving candidate side, so vectors never ride the
    * candidate-generation shuffle (the same rule MinHashDedup documents
    * for documents). The eager localCheckpoint is the materialization
    * barrier the interpreted HOF signature projection needs (it would
    * re-evaluate on BOTH join sides — same measured trap as
    * MinHashDedup.candidatePairs) WITHOUT registering in the
    * CacheManager: blocks free when the RDD is GC'd. Factored out of
    * [[lshCandidatePairs]] (r22) so the margin probe measures the exact
    * frame the guard sees. */
  private[graft] def lshBanded(e: DataFrame, dim: Int, nBands: Int,
      bandBits: Int): DataFrame = {
    val planes = md5Hyperplanes(nBands * bandBits, dim)
    val bandSigs = (0 until nBands).map { bandIdx =>
      struct(lit(bandIdx).as("band_idx"),
        lshSignature(col("ev"),
          planes.slice(bandIdx * bandBits, (bandIdx + 1) * bandBits))
          .as("band_sig"))
    }
    e.select(col("vec_id"), explode(array(bandSigs: _*)).as("band"))
      .select(col("vec_id"), col("band.band_idx"), col("band.band_sig"))
      .localCheckpoint(true)
  }

  /** EXACT candidate-pair volume Σ s·(s−1)/2 over bucket sizes and the
    * vector count of a [[lshBanded]] frame — one cheap map-side-combined
    * aggregation, measured BEFORE any pair explosion. Shared by the
    * refusal guard and the BenchTune `lshmargin` probe. */
  private[graft] def lshPairVolume(banded: DataFrame,
      nBands: Int): (Long, Long) = {
    val volRow = banded
      .groupBy(col("band_idx"), col("band_sig")).agg(count(lit(1)).as("s"))
      .agg(sum(expr("s * (s - 1) div 2")).as("pv"),
        (sum(col("s")) / lit(nBands)).cast("long").as("n"))
      .head()
    (if (volRow.isNullAt(0)) 0L else volRow.getLong(0),
      if (volRow.isNullAt(1)) 0L else volRow.getLong(1))
  }

  /** Refusal bound for [[lshCandidatePairs]] (r20 verdict item 1),
    * in candidate pairs per input vector. The auto rule holds expected
    * pairs/vector at ~nBands·targetBucket/2 = 1024 forever (8 bands ×
    * 256 target ÷ 2), so the bound must clear that with margin while
    * catching the fixed-bits raw form's quadratic growth (which crossed
    * ~3k pairs/vector at the 100× corpus and killed the sweep leg at
    * >75 GB of spill). 2000 ≈ 2× the auto ceiling: legitimate
    * linear-scaling forms never trip it at any corpus size.
    *
    * CORPUS-GROWTH MARGIN (r21 verdict item 7, measured by the BenchTune
    * `lshmargin` probe, BENCH_SCALE `r22_lsh_margin`): the raw 8×8 arm's
    * pairs/vector grow ~linearly in n (quadratic pair volume) — measured
    * 38 at the sf0.1 gate (2,000 vectors), 416 at 10×, 4,204 at 100×
    * against this 2000 bound (auto reads 1,450 at 100× via 10-bit
    * bands). Interpolating, the GATE corpus itself would cross the bound
    * at roughly 45–50× today's sf0.1 vector count (~95k vectors) — if a
    * future fixture grows past that, this bound needs a documented bump
    * BEFORE the gate refuses its own oracle run (the probe line is the
    * early warning). */
  private[graft] val LshPairsPerVectorGuard = 2000L

  /** ceil(log2(n / targetBucket)) floored at 8 bits (the gate-row
    * default, so small corpora reproduce the oracle-pinned form). */
  private[graft] def autoBandBits(n: Long, targetBucket: Int = 256): Int = {
    val buckets = math.max(1.0, n.toDouble / targetBucket)
    math.max(8, math.ceil(math.log(buckets) / math.log(2)).toInt)
  }

  /** [[lshCandidatePairsAuto]] with exact-duplicate PRE-COLLAPSE — the
    * pipeline order for embedding corpora, the vector analog of
    * [[graft.ext.MinHashDedup.candidatePairsCollapsed]]. Embedding tables
    * at scale carry exact clones (duplicate documents embed to identical
    * vectors), clones collide in EVERY band by construction, and pair
    * enumeration is quadratic in clone-group size by contract — auto band
    * bits cannot help because identical signatures are not a bucket-width
    * problem (measured: the factor-100 clone corpus emits 219M pairs in
    * 212 s even at auto bits; reps-only emits the base corpus's ~74k —
    * BENCH_SCALE `r10_lsh_auto_bits`). This operator keeps ONE
    * representative per distinct vector (min vec_id), runs banded LSH over
    * representatives only, and returns (rep_pairs, representatives) so
    * callers re-expand verdicts: a clone inherits its rep's near-dup
    * relations by definition of exact equality.
    *
    * The collapse keys on md5(to_json(ev)) — a fixed 32-byte key instead
    * of dim×8 bytes riding the window shuffle. Distinct doubles render to
    * distinct shortest-repr JSON, so key equality ≡ vector equality up to
    * md5 collision (~2⁻¹²⁸ per pair, accepted — the same trade
    * [[graft.ext.MinHashDedup.candidatePairsCollapsed]] documents; the
    * gate row's oracle groups by the raw embedding list, so a collision
    * would surface as a gate mismatch rather than pass silently). */
  def lshCandidatePairsCollapsed(e: DataFrame, dim: Int, nBands: Int = 8,
      targetBucket: Int = 256): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("fp"))
    val mapped = e.withColumn("fp", md5(to_json(col("ev"))))
      .withColumn("rep_id", min(col("vec_id")).over(w))
    val reps = mapped.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("ev"))
    (lshCandidatePairsAuto(reps, dim, nBands, targetBucket),
      mapped.select(col("vec_id"), col("rep_id")))
  }

  /** Majority-vote label audit over selected neighbor rows
    * (qid, q_label, n_label): per qid, the predicted label is the one with
    * the most neighbor votes (ties to the smallest label), n_agree counts
    * neighbors sharing the row's own label. Shared by the brute-force
    * oracle anchor (x4_knn_label_check) and the IVF-fed scale path —
    * their equivalence at full probe is spec-pinned, so which candidate
    * generator feeds this aggregation is a pure recall/latency knob.
    */
  def labelVoteAudit(nb: DataFrame): DataFrame = {
    val votes = nb.groupBy(col("qid"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("c"))
    val agree = votes.groupBy(col("qid"))
      .agg(sum(when(col("n_label") === col("q_label"), col("c"))
        .otherwise(0L)).as("n_agree"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("c").desc, col("n_label"))
    val pred = votes.withColumn("pr", row_number().over(wp))
      .filter(col("pr") === 1)
      .select(col("qid"), col("q_label"), col("n_label").as("pred_label"))
    pred.join(agree, Seq("qid"))
      .select(col("qid").as("vec_id"), col("q_label").as("label"),
        col("pred_label"), col("n_agree"),
        (col("q_label") === col("pred_label")).as("consistent"))
      .orderBy(col("vec_id"))
  }

  /** Matryoshka (prefix-dim) two-stage search: shortlist by cosine over the
    * FIRST `prefixDim` components (MRL-trained embeddings front-load
    * information, so a dim/4 prefix preserves neighborhood structure at a
    * quarter of the compute/read), then re-rank the shortlist by full-dim
    * exact cosine. The shortlist window shuffles only
    * (qid, vec_id, cos_lo) — vectors join back per surviving candidate,
    * never riding the candidate shuffle (the MinHashDedup/lshCandidatePairs
    * rule). The low-dim pass here is the brute-force anchor (O(n·|Q|) like
    * x4_knn_join — bounded query side by contract); at corpus scale the
    * same re-rank stage composes with IVF/PQ shortlists instead
    * (PqAnn.searchAdcRerank is the identical funnel shape).
    * Output: (qid, rn, vec_id, cos) — full-dim round-4 cosine, top `k`.
    */
  def mrlSearchJoin(e: DataFrame, queries: DataFrame, prefixDim: Int,
      shortlist: Int, k: Int): DataFrame = {
    // slice BELOW the join, once per input row — slicing inside the join
    // output re-copies the prefix array per (row, query) PAIR (probe
    // measured it costing more than the 4× dot-product saving at 200k
    // vectors); this projection is also exactly the at-rest truncated
    // column a 100 TB layout would store alongside the full vectors
    val eLo = e.select(col("vec_id"), slice(col("ev"), 1, prefixDim).as("ev_lo"))
    val qLo = queries.select(col("qid"), slice(col("qv"), 1, prefixDim).as("qv_lo"))
    val wS = Window.partitionBy(col("qid")).orderBy(col("cos_lo").desc, col("vec_id"))
    val short = eLo.join(broadcast(qLo), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("ev_lo"), col("qv_lo")), 4).as("cos_lo"))
      .withColumn("rs", row_number().over(wS))
      .filter(col("rs") <= shortlist)
      .select(col("qid"), col("vec_id"))
    val wK = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    short
      .join(e.select(col("vec_id"), col("ev")), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"), round(cosine(col("ev"), col("qv")), 4).as("cos"))
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
  }

  /** MMR oracle machinery, shared by the brute-pool gate
    * (x4_mmr_select), the IVF-pooled variant (x4_mmr_ivf), and the
    * recall gate comparing the two (x4_mmr_ivf_recall): the greedy loop
    * unrolled as k CTE steps, each an argmax via ORDER BY/LIMIT 1 —
    * pool and pairwise sims in the same round(cos,4)·1e4 fixed point as
    * the Spark side, so every comparison is integer and the selection
    * is hash-exact. `p` prefixes every CTE name so two independent
    * chains can coexist in one query (the recall gate). */
  private def mmrSims(p: String): String =
    s"""sims$p AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    CAST(round(round(list_cosine_similarity(ea.embedding::DOUBLE[],
       |      eb.embedding::DOUBLE[]), 4) * 10000) AS BIGINT) AS sim_fp
       |  FROM pool$p a JOIN pool$p b ON a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id)""".stripMargin

  private def mmrSteps(k: Int, p: String): String = {
    val steps = new StringBuilder
    steps.append(
      s"""s${p}1 AS MATERIALIZED (
         |  SELECT vec_id, rel_fp, CAST(0 AS BIGINT) AS maxsim_fp
         |  FROM pool$p ORDER BY rel_fp DESC, vec_id LIMIT 1),
         |sel${p}1 AS MATERIALIZED (SELECT vec_id FROM s${p}1)""".stripMargin)
    for (i <- 2 to k) steps.append(
      s""",
         |s$p$i AS MATERIALIZED (
         |  SELECT vec_id, rel_fp, maxsim_fp FROM (
         |    SELECT p.vec_id, p.rel_fp,
         |      COALESCE((SELECT MAX(s.sim_fp) FROM sims$p s
         |        JOIN sel$p${i - 1} t ON s.b = t.vec_id
         |        WHERE s.a = p.vec_id), 0) AS maxsim_fp
         |    FROM pool$p p
         |    WHERE p.vec_id NOT IN (SELECT vec_id FROM sel$p${i - 1}))
         |  ORDER BY rel_fp - maxsim_fp DESC, vec_id LIMIT 1),
         |sel$p$i AS MATERIALIZED (SELECT vec_id FROM sel$p${i - 1}
         |  UNION ALL SELECT vec_id FROM s$p$i)""".stripMargin)
    steps.toString
  }

  private def mmrUnions(k: Int, p: String): String =
    (1 to k).map(i =>
      s"SELECT $i AS mmr_rank, vec_id, rel_fp, maxsim_fp, " +
        s"rel_fp - maxsim_fp AS score_fp FROM s$p$i")
      .mkString("\n  UNION ALL ")

  /** Brute-force pool CTE: global top-`pool` by relevance. */
  private def mmrBrutePool(pool: Int, p: String): String =
    s"""pool$p AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    CAST(round(round(list_cosine_similarity(e.embedding::DOUBLE[],
       |      q.qv), 4) * 10000) AS BIGINT) AS rel_fp
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel_fp DESC, e.vec_id LIMIT $pool)""".stripMargin

  /** IVF pool CTE chain (seeds/assign/probes re-derived exactly as the
    * x4_ann_ivf oracle does at lloydIters = 0): top-`pool` by relevance
    * FROM THE `nProbe` PROBED CLUSTERS only. */
  private def mmrIvfPool(pool: Int, nCentroids: Int, nProbe: Int,
      p: String): String =
    s"""ei AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |seeds AS (
       |  SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id, ev,
       |          (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
       |        FROM ei ORDER BY hk, vec_id LIMIT $nCentroids)),
       |assign AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, s.cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(ev)),
       |          k -> ev[k] * cv[k]))
       |        / (sqrt(list_sum(list_transform(ev, x -> x * x)))
       |           * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
       |        s.cluster) AS rn
       |    FROM ei e, seeds s) WHERE rn = 1),
       |probes AS (
       |  SELECT s.cluster FROM seeds s, q
       |  ORDER BY
       |    list_sum(list_transform(generate_series(1, len(qv)),
       |      k -> qv[k] * cv[k]))
       |    / (sqrt(list_sum(list_transform(qv, x -> x * x)))
       |       * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
       |    s.cluster
       |  LIMIT $nProbe),
       |pool$p AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    CAST(round(round(list_cosine_similarity(e.embedding::DOUBLE[],
       |      q.qv), 4) * 10000) AS BIGINT) AS rel_fp
       |  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id, q
       |  WHERE e.vec_id <> 0
       |    AND a.cluster IN (SELECT cluster FROM probes)
       |  ORDER BY rel_fp DESC, e.vec_id LIMIT $pool)""".stripMargin

  private val MmrQCte =
    "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)"

  /** round(cos,4)·1e4 fixed point — ONE definition for every MMR pool
    * and sim column, mirrored literally in the oracle builders above. */
  private def mmrFp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(round(c, 4) * 10000, 0).cast("long")

  /** Greedy MMR (λ = 0.5) over a BOUNDED pool frame (vec_id, rel_fp, ev):
    * pairwise fixed-point cosines via a pool self-join (|pool|² rows —
    * distributed), then the k-step integer argmax over collected longs —
    * driver-bounded by |pool| like the IVF codebook, NOT by data size.
    * Ties break (score desc, vec_id asc); the selection is a pure
    * function of the pool, so ANY pool generator (global TakeOrdered,
    * IVF probes, PQ shortlist) composes with it and stays hash-exact as
    * long as the pool itself is oracle-derivable. */
  private def mmrGreedy(pool: DataFrame, k: Int): DataFrame = {
    val s = pool.sparkSession
    import s.implicits._
    val rel = pool.select(col("vec_id"), col("rel_fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sims = pool.as("a").select(col("vec_id").as("ia"), col("ev").as("ea"))
      .join(pool.as("b").select(col("vec_id").as("ib"), col("ev").as("eb")),
        col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        mmrFp(cosine(col("ea"), col("eb"))).as("sim_fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    var selected = Vector.empty[(Int, Long, Long, Long, Long)]
    var remaining = rel
    // an undersized pool (IVF probes can return < k candidates) yields a
    // short selection instead of minBy-on-empty throwing (r15 ADVICE)
    for (i <- 1 to math.min(k, rel.size)) {
      val scored = remaining.map { case (id, r) =>
        val ms =
          if (selected.isEmpty) 0L
          else selected.map(t => sims((id, t._2))).max
        (id, r, ms, r - ms)
      }
      val (id, r, ms, sc) = scored.minBy(x => (-x._4, x._1))
      selected :+= ((i, id, r, ms, sc))
      remaining = remaining.filterNot(_._1 == id)
    }
    selected.toDF("mmr_rank", "vec_id", "rel_fp", "maxsim_fp", "score_fp")
  }

  /** The x4_mmr_select oracle (brute pool, full selection output). */
  private def mmrOracle(k: Int, pool: Int): String =
    s"""WITH $MmrQCte,
       |${mmrBrutePool(pool, "")},
       |${mmrSims("")},
       |${mmrSteps(k, "")}
       |SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id, rel_fp,
       |  maxsim_fp, score_fp
       |FROM (${mmrUnions(k, "")}) ORDER BY mmr_rank""".stripMargin

  /** The x4_mmr_ivf oracle (IVF-probed pool, full selection output). */
  private def mmrIvfOracle(k: Int, pool: Int, nCentroids: Int,
      nProbe: Int): String =
    s"""WITH $MmrQCte,
       |${mmrIvfPool(pool, nCentroids, nProbe, "")},
       |${mmrSims("")},
       |${mmrSteps(k, "")}
       |SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id, rel_fp,
       |  maxsim_fp, score_fp
       |FROM (${mmrUnions(k, "")}) ORDER BY mmr_rank""".stripMargin

  /** The x4_mmr_ivf_recall oracle: BOTH chains (brute pool unprefixed,
    * IVF pool prefixed `i`), pool intersection + overlap of the two
    * k-selections. */
  private def mmrRecallOracle(k: Int, pool: Int, nCentroids: Int,
      nProbe: Int, minPoolOverlap: Int, minOverlap: Int): String =
    s"""WITH $MmrQCte,
       |${mmrBrutePool(pool, "")},
       |${mmrSims("")},
       |${mmrIvfPool(pool, nCentroids, nProbe, "i")},
       |${mmrSims("i")},
       |${mmrSteps(k, "")},
       |${mmrSteps(k, "i")}
       |SELECT CAST(po.pool_overlap AS BIGINT) AS pool_overlap,
       |  CAST(so.n_overlap AS BIGINT) AS n_overlap,
       |  CAST($k AS BIGINT) AS k,
       |  round(so.n_overlap / $k.0, 2) AS overlap,
       |  (po.pool_overlap >= $minPoolOverlap) AS pool_ok,
       |  (so.n_overlap >= $minOverlap) AS overlap_ok
       |FROM (SELECT COUNT(*) AS pool_overlap
       |    FROM pool a JOIN pooli b ON a.vec_id = b.vec_id) po,
       |  (SELECT COUNT(*) AS n_overlap
       |    FROM sel$k a JOIN seli$k b ON a.vec_id = b.vec_id) so""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- X4: brute-force cosine top-k against one query vector -------------
    QueryDef(
      "x4_cosine_topk",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        // 1-row dimension lookup for the query vector — joined, not collected,
        // so the same plan works when the "query set" is itself a table.
        val q = e.filter($"vec_id" === 0).select($"ev".as("qv"))
        e.crossJoin(broadcast(q))
          .select($"vec_id", round(cosine($"ev", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id")
          .limit(10)
      },
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
          round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos
        FROM embeddings, q
        ORDER BY cos DESC, vec_id LIMIT 10"""),
      bench = true),

    // ---- X4: brute-force kNN join (each of 20 queries → top 3 neighbors) ---
    QueryDef(
      "x4_knn_join",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        e.join(broadcast(queries), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id", round(cosine($"ev", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"qid", $"rn", $"vec_id", $"cos")
          .orderBy($"qid", $"rn")
      },
      Some("""SELECT qid, rn, vec_id, cos FROM (
        SELECT q.vec_id AS qid, e.vec_id AS vec_id,
          round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                     e.vec_id) AS rn
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
        WHERE rn <= 3 ORDER BY qid, rn""")),

    // ---- MMR diverse top-k selection (Carbonell & Goldstein 1998) ----------
    // Maximal marginal relevance: greedily pick k items maximizing
    // relevance-to-query MINUS similarity-to-already-selected — the
    // diversity-selection primitive behind eval-set construction and
    // dedup-aware retrieval (pure top-k returns near-duplicates of the
    // best hit; MMR spends the budget on coverage). λ = 0.5, so the
    // selection objective reduces to rel − maxsim with NO division —
    // all comparisons run on fixed-point longs (round(cos,4)·1e4), so
    // the greedy argmax is pure integer and engine-neutral. Ties break
    // (score desc, vec_id asc), making the whole selection a function
    // of the pool. Scale shape: the DISTRIBUTED work is the relevance
    // top-|pool| (TakeOrderedAndProject over the corpus) and the
    // |pool|² pairwise cosines (self-join of the 24-row pool); the
    // greedy loop itself is k·|pool| integer compares over collected
    // longs — driver-bounded by constants like the IVF codebook, NOT by
    // data size. The oracle unrolls the k selection steps as CTEs
    // (argmax via ORDER BY/LIMIT 1 per step), so the gate is hash-exact.
    QueryDef(
      "x4_mmr_select",
      (s, d) => {
        import s.implicits._
        val K = 8; val Pool = 24
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"ev".as("qv"))
        val pool = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
          .select($"vec_id", mmrFp(cosine($"ev", $"qv")).as("rel_fp"), $"ev")
          .orderBy($"rel_fp".desc, $"vec_id").limit(Pool)
        mmrGreedy(pool, K).orderBy($"mmr_rank")
      },
      Some(mmrOracle(8, 24))),

    // ---- MMR pooled from the IVF index (r14 verdict item 7) ----------------
    // x4_mmr_select's pool is a GLOBAL top-24 brute-force TakeOrdered —
    // an O(n) relevance scan per query. At corpus scale the pool should
    // come from the ANN machinery instead: here the SAME fixed-point
    // greedy runs over the top-24 drawn from the 3 IVF-probed clusters
    // (candidate I/O ∝ probed fraction, the x4_ann_ivf path). At
    // lloydIters = 0 the whole pool derivation stays SQL-expressible, so
    // the gate is hash-exact end-to-end: seeds → assignment → probe →
    // pool → 8 unrolled greedy steps, all re-derived by DuckDB. The
    // selection differs from the brute-pool one exactly where the probe
    // pruning bites — measured by the recall gate below, not hidden.
    QueryDef(
      "x4_mmr_ivf",
      (s, d) => {
        import s.implicits._
        val K = 8; val Pool = 24
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val qdf = e.filter($"vec_id" === 0)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val pool = graft.ext.IvfAnn.searchJoin(index, qdf, nProbe = 3, k = Pool)
          .select($"vec_id", mmrFp($"cos").as("rel_fp"))
          .join(e.select($"vec_id", $"ev"), Seq("vec_id"))
        mmrGreedy(pool, K).orderBy($"mmr_rank")
      },
      Some(mmrIvfOracle(8, 24, 8, 3))),

    // ---- IVF-pool MMR vs brute-pool MMR: pool + selection overlap ----------
    // The x4_ann_recall pattern applied to the DIVERSE selection, split
    // into its two honest components. POOL overlap — what 3/8 probed
    // clusters retain of the global top-24 — is the IVF recall measure:
    // stable at 11-13/24 across sf0.001/0.01/0.1 on the near-isotropic
    // driver corpus (the hard case: cluster membership barely correlates
    // with query proximity), floor >= 8. SELECTION overlap is lower
    // (1-2/8 measured): MMR AMPLIFIES pool differences by construction —
    // after the first pick, rel − maxsim margins are small, so a changed
    // pool reshuffles later picks; reporting it without pretending a
    // high floor is the point (floor >= 1: the top pick family must
    // survive). Both chains are SQL-derivable, so every column is
    // hash-exact (the oracle unrolls BOTH greedy loops — prefixed CTEs —
    // and intersects pools and k-sets).
    QueryDef(
      "x4_mmr_ivf_recall",
      (s, d) => {
        import s.implicits._
        val K = 8; val Pool = 24
        val MinPoolOverlap = 8; val MinOverlap = 1
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"ev".as("qv"))
        val brutePool = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
          .select($"vec_id", mmrFp(cosine($"ev", $"qv")).as("rel_fp"), $"ev")
          .orderBy($"rel_fp".desc, $"vec_id").limit(Pool)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val qdf = e.filter($"vec_id" === 0)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val ivfPool = graft.ext.IvfAnn
          .searchJoin(index, qdf, nProbe = 3, k = Pool)
          .select($"vec_id", mmrFp($"cos").as("rel_fp"))
          .join(e.select($"vec_id", $"ev"), Seq("vec_id"))
        val poolOverlap = brutePool.select($"vec_id")
          .join(ivfPool.select($"vec_id"), Seq("vec_id"))
          .agg(count(lit(1)).as("pool_overlap"))
        val selOverlap = mmrGreedy(brutePool, K).select($"vec_id")
          .join(mmrGreedy(ivfPool, K).select($"vec_id"), Seq("vec_id"))
          .agg(count(lit(1)).as("n_overlap"))
        poolOverlap.crossJoin(selOverlap)
          .select($"pool_overlap", $"n_overlap", lit(K.toLong).as("k"),
            round($"n_overlap" / (K + 0.0), 2).as("overlap"),
            ($"pool_overlap" >= MinPoolOverlap).as("pool_ok"),
            ($"n_overlap" >= MinOverlap).as("overlap_ok"))
      },
      Some(mmrRecallOracle(8, 24, 8, 3, 8, 1))),

    // ---- The probe-count→recall knob, demonstrated (r15 verdict item 6) ----
    // x4_mmr_ivf_recall's floors (pool >= 8/24, selection >= 1/8) mostly
    // certify non-emptiness — honest about MMR's pool-difference
    // amplification, but a gate that constrains little. This twin runs
    // the SAME two chains at nProbe = 7 of 8: probing most clusters must
    // recover most of the global top-24 (floor >= 16/24) and with it
    // most of the diverse selection (floor >= 4/8) — the
    // probe-count→recall trade the 100 TB serving story depends on
    // (probe few clusters for speed, more for fidelity), demonstrated
    // as a hash-exact gate rather than asserted. Measured: pool 21-23/24
    // and selection 4-7/8 across sf0.001/0.01/0.1, vs 11-13/24 and 1-2/8
    // at nProbe = 3 — the knob works, and its AMPLIFICATION is visible
    // on the way: nProbe = 6 still recovers 19-21/24 of the pool but
    // only 2/8 of the selection at the small SFs (three missing pool
    // members reshuffle the greedy chain), which is WHY the serving
    // recommendation for diverse selection is nProbe near nCentroids or
    // a brute pool over the probed union, not mid-range probing. All
    // values are pure functions of the corpus + fixed seeds (hash-exact
    // both engines), so exactly-at-floor readings cannot flake.
    QueryDef(
      "x4_mmr_ivf_recall_hi",
      (s, d) => {
        import s.implicits._
        val K = 8; val Pool = 24; val NProbe = 7
        val MinPoolOverlap = 16; val MinOverlap = 4
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"ev".as("qv"))
        val brutePool = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
          .select($"vec_id", mmrFp(cosine($"ev", $"qv")).as("rel_fp"), $"ev")
          .orderBy($"rel_fp".desc, $"vec_id").limit(Pool)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val qdf = e.filter($"vec_id" === 0)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val ivfPool = graft.ext.IvfAnn
          .searchJoin(index, qdf, nProbe = NProbe, k = Pool)
          .select($"vec_id", mmrFp($"cos").as("rel_fp"))
          .join(e.select($"vec_id", $"ev"), Seq("vec_id"))
        val poolOverlap = brutePool.select($"vec_id")
          .join(ivfPool.select($"vec_id"), Seq("vec_id"))
          .agg(count(lit(1)).as("pool_overlap"))
        val selOverlap = mmrGreedy(brutePool, K).select($"vec_id")
          .join(mmrGreedy(ivfPool, K).select($"vec_id"), Seq("vec_id"))
          .agg(count(lit(1)).as("n_overlap"))
        poolOverlap.crossJoin(selOverlap)
          .select($"pool_overlap", $"n_overlap", lit(K.toLong).as("k"),
            round($"n_overlap" / (K + 0.0), 2).as("overlap"),
            ($"pool_overlap" >= MinPoolOverlap).as("pool_ok"),
            ($"n_overlap" >= MinOverlap).as("overlap_ok"))
      },
      Some(mmrRecallOracle(8, 24, 8, 7, 16, 4))),

    // ---- Hard-negative mining: nearest neighbors with a DIFFERENT label ----
    // The contrastive-training staple: for each anchor, the most similar
    // vectors that are NOT its class — exactly the examples a retrieval or
    // embedding model must learn to push apart. Same broadcast-kNN shape
    // as x4_knn_join with the label-mismatch predicate fused into the join
    // condition, so excluded same-label rows never reach the rank window.
    // Scale path: identical to kNN's — swap the broadcast brute force for
    // IvfAnn.searchJoin candidates and keep the filter + window.
    QueryDef(
      "x4_hard_negatives",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"ev".as("qv"), $"label".as("qlabel"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        e.join(broadcast(queries),
            $"vec_id" =!= $"qid" && $"label" =!= $"qlabel")
          .select($"qid", $"qlabel", $"vec_id", $"label",
            round(cosine($"ev", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"qid", $"rn", $"vec_id", $"cos", $"qlabel", $"label")
          .orderBy($"qid", $"rn")
      },
      Some("""SELECT qid, rn, vec_id, cos, qlabel, label FROM (
        SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id AS vec_id,
          e.label AS label,
          round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                     e.vec_id) AS rn
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id AND e.label <> q.label)
        WHERE rn <= 3 ORDER BY qid, rn""")),

    // ---- X4: IVF-accelerated kNN join, full-probe oracle anchor ------------
    // Same result contract as x4_knn_join, but through the IVF machinery:
    // probe-list explosion, cluster equi-join, windowed top-k. At
    // nProbe = nCentroids the result is EXACTLY brute force, so DuckDB
    // oracle-checks the whole join path bit-exactly; the pruned-probe
    // recall behavior is spec-anchored (SkewAndIvfSpec).
    QueryDef(
      "x4_ann_ivf_join",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8)
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        graft.ext.IvfAnn.searchJoin(index, queries, nProbe = 8, k = 3)
      },
      Some("""SELECT qid, rn, vec_id, cos FROM (
        SELECT q.vec_id AS qid, e.vec_id AS vec_id,
          round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                     e.vec_id) AS rn
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
        WHERE rn <= 3 ORDER BY qid, rn""")),

    // ---- X4 scale path: LSH-bucketed candidate pairs (HASH-EXACT oracle) ---
    // Multi-table random-hyperplane LSH: 64 planes as 8 bands x 8 sign bits;
    // a pair is a candidate if it collides in ANY band, then exact cosine
    // scores it. One table of 16 exact-match bits had ~zero recall on
    // moderate-cosine pairs (P = (1-th/pi)^16) — banding lifts recall the
    // same way MinHashDedup's bands do, and the join stays equi on
    // (band_idx, band_sig): bucket-colliding pairs shuffle, never all pairs.
    // Hyperplanes are md5-derived (md5Hyperplanes scaladoc), so the oracle
    // regenerates them and re-derives the candidate set from first
    // principles; ApproxRecallSpec additionally pins the recall floor vs
    // emb_neardup_pairs.
    QueryDef(
      "x4_ann_lsh_pairs",
      (s, d) => {
        import s.implicits._
        lshCandidatePairs(emb(s, d), dim = 64)
          .orderBy($"cos".desc, $"a", $"b")
          .limit(100)
      },
      Some("""WITH planes AS (
          SELECT i.i AS i, list_transform(generate_series(0, 63),
            j -> (md5_number_upper('gr_lsh_' || i.i || '_' || j) >> 11)::DOUBLE
                 / 9007199254740992.0 - 0.5) AS p
          FROM (SELECT unnest(generate_series(0, 63)) AS i) i),
        sigs AS (
          SELECT vec_id, i // 8 AS band_idx,
            SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                  k -> (embedding::DOUBLE[])[k] * p[k])) >= 0
                THEN (1::BIGINT << (i % 8)) ELSE 0 END) AS band_sig
          FROM embeddings, planes
          GROUP BY vec_id, i // 8),
        cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM sigs x JOIN sigs y
            ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
          WHERE x.vec_id < y.vec_id)
        SELECT c.a, c.b,
          round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a
        JOIN embeddings eb ON eb.vec_id = c.b
        ORDER BY cos DESC, a, b LIMIT 100""")),

    // ---- X4 collapse-first LSH pairs (HASH-EXACT oracle) -------------------
    // Gates lshCandidatePairsCollapsed: exact vector clones are planted by
    // unioning embeddings with an id-shifted copy (+100000, same vector —
    // SQL-derivable), then the operator must (1) pick min-id representatives
    // per DISTINCT vector, erasing every planted clone, and (2) surface
    // exactly the representative-level candidate pairs x4_ann_lsh_pairs
    // finds over those reps (at gate scale auto band bits floor to the
    // oracle-pinned 8×8 form). This is the output-bound-quadratic fix for
    // embedding corpora (clones collide in EVERY band; 219M pairs at the
    // factor-100 corpus vs ~74k over reps) as a driver-visible gate row.
    QueryDef(
      "x4_lsh_collapsed",
      (s, d) => {
        import s.implicits._
        val base = emb(s, d).select($"vec_id", $"ev")
        val cloned = base.union(
          base.select(($"vec_id" + 100000).as("vec_id"), $"ev"))
        lshCandidatePairsCollapsed(cloned, dim = 64)._1
          .orderBy($"cos".desc, $"a", $"b")
          .limit(100)
      },
      Some("""WITH cl AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings),
        reps AS (
          SELECT MIN(vec_id) AS vec_id, embedding FROM cl GROUP BY embedding),
        planes AS (
          SELECT i.i AS i, list_transform(generate_series(0, 63),
            j -> (md5_number_upper('gr_lsh_' || i.i || '_' || j) >> 11)::DOUBLE
                 / 9007199254740992.0 - 0.5) AS p
          FROM (SELECT unnest(generate_series(0, 63)) AS i) i),
        sigs AS (
          SELECT vec_id, i // 8 AS band_idx,
            SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                  k -> (embedding::DOUBLE[])[k] * p[k])) >= 0
                THEN (1::BIGINT << (i % 8)) ELSE 0 END) AS band_sig
          FROM reps, planes
          GROUP BY vec_id, i // 8),
        cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM sigs x JOIN sigs y
            ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
          WHERE x.vec_id < y.vec_id)
        SELECT c.a, c.b,
          round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
        FROM cand c
        JOIN reps ea ON ea.vec_id = c.a
        JOIN reps eb ON eb.vec_id = c.b
        ORDER BY cos DESC, a, b LIMIT 100""")),

    // ---- X4 scale path 2: IVF partition-pruned ANN (HASH-EXACT oracle) -----
    // lloydIters = 0 makes the whole pruned-probe path SQL-derivable: seeds
    // are the md5-ordered sample (IvfAnn.build scaladoc), assignment is
    // argmax cosine against the seed codebook (sequential-fold dots are
    // bit-identical across engines — see md5Hyperplanes), probe selection
    // ranks the same cosines, and the final scan is exact cosine in the
    // probed clusters. Lloyd-refined indexes (float averaging, not
    // cross-engine bit-stable) stay anchored by x4_ann_ivf_join's
    // full-probe == brute-force oracle row.
    QueryDef(
      "x4_ann_ivf",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val qv = e.filter($"vec_id" === 0).head().getSeq[Double](2)
        graft.ext.IvfAnn.search(index, qv, nProbe = 3, k = 10)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, seeds s) WHERE rn = 1),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        probes AS (
          SELECT s.cluster FROM seeds s, q
          ORDER BY
            list_sum(list_transform(generate_series(1, len(qv)),
              k -> qv[k] * cv[k]))
            / (sqrt(list_sum(list_transform(qv, x -> x * x)))
               * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
            s.cluster
          LIMIT 3)
        SELECT e.vec_id AS vec_id,
          round(list_sum(list_transform(generate_series(1, len(ev)),
              k -> ev[k] * qv[k]))
            / (sqrt(list_sum(list_transform(ev, x -> x * x)))
               * sqrt(list_sum(list_transform(qv, x -> x * x)))), 4) AS cos
        FROM e JOIN assign a ON a.vec_id = e.vec_id, q
        WHERE a.cluster IN (SELECT cluster FROM probes)
        ORDER BY cos DESC, e.vec_id LIMIT 10""")),

    // ---- X4: coarse (two-level) assignment gate (HASH-EXACT oracle) --------
    // Driver-visible row for IvfAnn.assignCoarse — the O(n·√k) assignment
    // path SemDedup's default dispatches to above CoarseDispatchK. At FULL
    // coarse probe every fine centroid is scored and ties break identically
    // to the flat kernel (spec-pinned in SkewAndIvfSpec), so the oracle is
    // the flat argmax-cosine assignment the DuckDB CTEs already re-derive
    // for x4_ann_ivf/d_semdedup — the coarse quantizer's two-level routing
    // must be invisible at full probe, and a hash match proves it on the
    // driver's corpus, not just the spec fixture.
    QueryDef(
      "x4_ann_coarse",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val cents = graft.ext.IvfAnn.seedCentroids(e, 8)
        graft.ext.IvfAnn.assignCoarse(e, cents, coarseProbe = 8)
          .select($"vec_id", $"cluster").orderBy($"vec_id")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, seeds s) WHERE rn = 1)
        SELECT vec_id, cluster FROM assign ORDER BY vec_id""")),

    // ---- X4: product-quantization ADC top-k (HASH-EXACT oracle) ------------
    // PQ (graft.ext.PqAnn): md5-seeded sub-codebooks (m = 8 blocks × 16
    // codes over dim 64 — 64× compression), per-block argmin-L2 encoding,
    // ADC scoring with 1e-6 fixed-point block distances summed as longs.
    // Every stage is SQL-derivable: the seeds CTE is the x4_ann_ivf one,
    // block slicing is list indexing, the argmin is the same
    // ROW_NUMBER-over-sequential-fold pattern as the assign CTE, and the
    // integer distance sum is order-free — so the top-10 hash-matches
    // bit-for-bit. Query = vec 0's own embedding (its ADC distance to
    // itself is the quantization error, not 0 — asymmetric by design).
    QueryDef(
      "x4_pq_topk",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).select($"vec_id", $"ev")
        val cb = graft.ext.PqAnn.seedCodebooks(e, m = 8, k = 16)
        val qv = e.filter($"vec_id" === 0).head().getSeq[Double](1)
        graft.ext.PqAnn.searchAdc(graft.ext.PqAnn.encode(e, cb), cb, qv, 10)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS code
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 16)),
        blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        codes AS (
          SELECT vec_id, b, code FROM (
            SELECT e.vec_id, blocks.b, s.code,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id, blocks.b ORDER BY
                list_sum(list_transform(generate_series(1, 8),
                  i -> (ev[blocks.b*8+i] - cv[blocks.b*8+i])
                     * (ev[blocks.b*8+i] - cv[blocks.b*8+i]))) ASC,
                s.code) AS rn
            FROM e, blocks, seeds s) WHERE rn = 1),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        dt AS (
          SELECT blocks.b, s.code,
            CAST(round(list_sum(list_transform(generate_series(1, 8),
              i -> (qv[blocks.b*8+i] - cv[blocks.b*8+i])
                 * (qv[blocks.b*8+i] - cv[blocks.b*8+i]))) * 1000000) AS BIGINT) AS dl
          FROM blocks, seeds s, q),
        scored AS (
          SELECT c.vec_id, SUM(dt.dl) AS dsum
          FROM codes c JOIN dt ON dt.b = c.b AND dt.code = c.code
          GROUP BY c.vec_id)
        SELECT vec_id, round(CAST(dsum AS DOUBLE) / 1000000, 6) AS adc_dist
        FROM scored ORDER BY adc_dist, vec_id LIMIT 10""")),

    // ---- X4: PQ two-stage retrieval — ADC shortlist + exact re-rank --------
    // The production PQ shape (PqAnn.searchAdcRerank, Jégou §V): searchAdc
    // generates a 100-candidate shortlist from quantized distances, exact
    // sequential-fold L2 over the RAW vectors re-ranks only those 100 —
    // recovering the recall ADC's quantization error costs while still
    // touching raw vectors for just the shortlist. Both stages are
    // md5-deterministic (seeded codebooks, integer ADC sums, round-6 L2,
    // ties by vec_id), so the final top-10 is hash-exact: the oracle
    // extends the x4_pq_topk CTEs with the shortlist + re-rank.
    // The shortlist AUTO-SCALES with the corpus — max(100, n/10) — the
    // same param∝n discipline as SemDedup's k and LSH's band bits: a
    // fixed shortlist is a silently shrinking recall fraction as the
    // corpus grows (measured: 8/10 recall at n=500, 4/10 at n=2000 with
    // a fixed 100). The count is one driver-side aggregate, mirrored by
    // the oracle's scalar subquery in LIMIT.
    QueryDef(
      "x4_pq_rerank",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).select($"vec_id", $"ev")
        val cb = graft.ext.PqAnn.seedCodebooks(e, m = 8, k = 16)
        val qv = e.filter($"vec_id" === 0).head().getSeq[Double](1)
        val c = math.max(100L, e.count() / 10).toInt
        graft.ext.PqAnn.searchAdcRerank(
          graft.ext.PqAnn.encode(e, cb), e, cb, qv,
          topK = 10, nCandidates = c)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS code
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 16)),
        blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        codes AS (
          SELECT vec_id, b, code FROM (
            SELECT e.vec_id, blocks.b, s.code,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id, blocks.b ORDER BY
                list_sum(list_transform(generate_series(1, 8),
                  i -> (ev[blocks.b*8+i] - cv[blocks.b*8+i])
                     * (ev[blocks.b*8+i] - cv[blocks.b*8+i]))) ASC,
                s.code) AS rn
            FROM e, blocks, seeds s) WHERE rn = 1),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        dt AS (
          SELECT blocks.b, s.code,
            CAST(round(list_sum(list_transform(generate_series(1, 8),
              i -> (qv[blocks.b*8+i] - cv[blocks.b*8+i])
                 * (qv[blocks.b*8+i] - cv[blocks.b*8+i]))) * 1000000) AS BIGINT) AS dl
          FROM blocks, seeds s, q),
        cand AS (
          SELECT c.vec_id FROM codes c JOIN dt ON dt.b = c.b AND dt.code = c.code
          GROUP BY c.vec_id
          ORDER BY SUM(dt.dl), c.vec_id
          LIMIT GREATEST(100, (SELECT COUNT(*) FROM e) // 10))
        SELECT e.vec_id,
          round(list_sum(list_transform(generate_series(1, len(ev)),
            i -> (ev[i] - qv[i]) * (ev[i] - qv[i]))), 6) AS l2_dist
        FROM e JOIN cand USING (vec_id), q
        ORDER BY l2_dist, e.vec_id LIMIT 10""")),

    // ---- X4: PQ retrieval recall vs brute-force truth (HASH-EXACT) ---------
    // The x4_ann_recall pattern for the PQ family: the two-stage result
    // (ADC top-100 shortlist -> exact re-rank top-10) scored against the
    // exact-L2 brute-force top-10. Because lloydIters = 0 keeps the
    // shortlist SQL-derivable, n_hits is itself hash-exact — the >= 5
    // boolean rides along as the driver-visible floor (spec-side floors
    // live in ApproxRecallSpec; measured 7-8/10 across SFs on the
    // near-isotropic driver corpus, the hard case for 64x quantization).
    // Shortlist auto-scales max(100, n/10) — see x4_pq_rerank.
    QueryDef(
      "x4_pq_recall",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).select($"vec_id", $"ev")
        val cb = graft.ext.PqAnn.seedCodebooks(e, m = 8, k = 16)
        val qv = e.filter($"vec_id" === 0).head().getSeq[Double](1)
        val c = math.max(100L, e.count() / 10).toInt
        val got = graft.ext.PqAnn.searchAdcRerank(
            graft.ext.PqAnn.encode(e, cb), e, cb, qv,
            topK = 10, nCandidates = c)
          .select($"vec_id", lit(1L).as("hit"))
        val qLit = array(qv.map(lit): _*)
        val l2c = aggregate(
          zip_with($"ev", qLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)
        val truth = e.select($"vec_id", round(l2c, 6).as("l2"))
          .orderBy($"l2", $"vec_id").limit(10)
          .select($"vec_id")
        truth.join(got, Seq("vec_id"), "left")
          .agg(count($"hit").as("n_hits"))
          .select($"n_hits",
            round($"n_hits".cast("double") / 10, 2).as("recall"),
            ($"n_hits" >= 5).as("recall_ok"))
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS code
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 16)),
        blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        codes AS (
          SELECT vec_id, b, code FROM (
            SELECT e.vec_id, blocks.b, s.code,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id, blocks.b ORDER BY
                list_sum(list_transform(generate_series(1, 8),
                  i -> (ev[blocks.b*8+i] - cv[blocks.b*8+i])
                     * (ev[blocks.b*8+i] - cv[blocks.b*8+i]))) ASC,
                s.code) AS rn
            FROM e, blocks, seeds s) WHERE rn = 1),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        dt AS (
          SELECT blocks.b, s.code,
            CAST(round(list_sum(list_transform(generate_series(1, 8),
              i -> (qv[blocks.b*8+i] - cv[blocks.b*8+i])
                 * (qv[blocks.b*8+i] - cv[blocks.b*8+i]))) * 1000000) AS BIGINT) AS dl
          FROM blocks, seeds s, q),
        cand AS (
          SELECT c.vec_id FROM codes c JOIN dt ON dt.b = c.b AND dt.code = c.code
          GROUP BY c.vec_id
          ORDER BY SUM(dt.dl), c.vec_id
          LIMIT GREATEST(100, (SELECT COUNT(*) FROM e) // 10)),
        rerank AS (
          SELECT e.vec_id,
            round(list_sum(list_transform(generate_series(1, len(ev)),
              i -> (ev[i] - qv[i]) * (ev[i] - qv[i]))), 6) AS l2_dist
          FROM e JOIN cand USING (vec_id), q
          ORDER BY l2_dist, e.vec_id LIMIT 10),
        truth AS (
          SELECT e.vec_id,
            round(list_sum(list_transform(generate_series(1, len(ev)),
              i -> (ev[i] - qv[i]) * (ev[i] - qv[i]))), 6) AS l2
          FROM e, q ORDER BY l2, e.vec_id LIMIT 10)
        SELECT COUNT(r.vec_id) AS n_hits,
          round(COUNT(r.vec_id) / 10.0, 2) AS recall,
          (COUNT(r.vec_id) >= 5) AS recall_ok
        FROM truth t LEFT JOIN rerank r ON r.vec_id = t.vec_id""")),

    // ---- X4: IVFADC — the composed 100 TB retrieval shape, hash-exact ------
    // searchIvfPq (Jégou §V.A) is the index the scale story actually
    // serves: IVF prunes the scan to nProbe cells, PQ's ADC ranks a
    // shortlist over nibble codes inside them, exact L2 re-ranks only
    // the survivors — both prunings compose multiplicatively, and at
    // rest the cluster-partitioned code table is the classic IVFADC
    // layout. It had spec + probe coverage (SkewAndIvfSpec, BENCH_SCALE
    // r10_pq) but no oracle-checked gate; at lloydIters = 0 every stage
    // is SQL-derivable, so this row emits the top-10 SELECTION ITSELF —
    // IVF seeds → assignment → probe ranking → PQ seeds → per-block
    // argmin codes → integer ADC table → probed-cell shortlist → exact
    // re-rank — all re-derived by DuckDB and hash-exact, the x4_mmr_ivf
    // treatment applied to the composed index. (ADC tie-order parity:
    // adc_dist = round(Σdl/1e6, 6) is information-free for integer Σdl,
    // so ordering by the long sum — as the oracle does — is identical.)
    QueryDef(
      "x4_ivfpq",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).select($"vec_id", $"ev")
        val index0 = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        // pin the assignment: encodeIndexed joins it against the encode
        // pass, and without the barrier the O(n·k) kernel runs twice
        val index = graft.ext.IvfAnn.Index(
          index0.assigned.localCheckpoint(true), index0.centroids)
        val cb = graft.ext.PqAnn.seedCodebooks(e, m = 8, k = 16)
        val encIdx = graft.ext.PqAnn.encodeIndexed(index, cb)
        val qv = e.filter($"vec_id" === 0).head().getSeq[Double](1)
        graft.ext.PqAnn.searchIvfPq(index, encIdx, cb, qv,
            nProbe = 3, topK = 10, nCandidates = 100)
          .orderBy($"l2_dist", $"vec_id")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        iseeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, iseeds s) WHERE rn = 1),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        probes AS (
          SELECT s.cluster FROM iseeds s, q
          ORDER BY
            list_sum(list_transform(generate_series(1, len(qv)),
              k -> qv[k] * cv[k]))
            / (sqrt(list_sum(list_transform(qv, x -> x * x)))
               * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
            s.cluster
          LIMIT 3),
        pseeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS code
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 16)),
        blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        codes AS (
          SELECT vec_id, b, code FROM (
            SELECT e.vec_id, blocks.b, s.code,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id, blocks.b ORDER BY
                list_sum(list_transform(generate_series(1, 8),
                  i -> (ev[blocks.b*8+i] - cv[blocks.b*8+i])
                     * (ev[blocks.b*8+i] - cv[blocks.b*8+i]))) ASC,
                s.code) AS rn
            FROM e, blocks, pseeds s
            WHERE e.vec_id IN (SELECT a.vec_id FROM assign a
              WHERE a.cluster IN (SELECT cluster FROM probes)))
          WHERE rn = 1),
        dt AS (
          SELECT blocks.b, s.code,
            CAST(round(list_sum(list_transform(generate_series(1, 8),
              i -> (qv[blocks.b*8+i] - cv[blocks.b*8+i])
                 * (qv[blocks.b*8+i] - cv[blocks.b*8+i]))) * 1000000) AS BIGINT) AS dl
          FROM blocks, pseeds s, q),
        cand AS (
          SELECT c.vec_id FROM codes c JOIN dt ON dt.b = c.b AND dt.code = c.code
          GROUP BY c.vec_id
          ORDER BY SUM(dt.dl), c.vec_id
          LIMIT 100)
        SELECT e.vec_id,
          round(list_sum(list_transform(generate_series(1, len(ev)),
            i -> (ev[i] - qv[i]) * (ev[i] - qv[i]))), 6) AS l2_dist
        FROM e JOIN cand USING (vec_id), q
        ORDER BY l2_dist, e.vec_id LIMIT 10""")),

    // ---- X4: pruned-probe IVF recall gate (HASH-EXACT oracle) --------------
    // The driver-visible answer to "how good is the APPROXIMATE path?":
    // searchJoin at nProbe = 2 of 8 clusters (a real 4x I/O prune, unlike
    // the full-probe anchor row) scored against brute-force top-10 truth,
    // per-query recall emitted with a >= 0.5 bound as a boolean — the
    // a8_approx_distinct pattern, except here lloydIters = 0 makes the
    // PRUNED result itself SQL-derivable, so n_hits is hash-exact too, not
    // just the bound. Probe ranking, assignment, and top-k tie-breaks
    // (round-4 cosine desc, vec_id asc) mirror the x4_ann_ivf CTEs.
    // ApproxRecallSpec still owns the spec-side recall floors; this row
    // makes one of them visible in CORRECTNESS_r{N}.json.
    QueryDef(
      "x4_ann_recall",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val pruned = graft.ext.IvfAnn.searchJoin(index, queries, nProbe = 2, k = 10)
          .select($"qid", $"vec_id", lit(1L).as("hit"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val truth = e.join(broadcast(queries), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id", round(cosine($"ev", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 10)
          .select($"qid", $"vec_id")
        truth.join(pruned, Seq("qid", "vec_id"), "left")
          .groupBy($"qid")
          .agg(count($"hit").as("n_hits"))
          .select($"qid", $"n_hits",
            round($"n_hits".cast("double") / 10, 2).as("recall"),
            ($"n_hits" >= 5).as("recall_ok"))
          .orderBy($"qid")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, seeds s) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, ev AS qv FROM e WHERE vec_id < 20),
        probes AS (
          SELECT qid, cluster FROM (
            SELECT q.qid, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                list_sum(list_transform(generate_series(1, len(qv)),
                  k -> qv[k] * cv[k]))
                / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM q, seeds s) WHERE rn <= 2),
        pruned AS (
          SELECT qid, vec_id FROM (
            SELECT p.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC, e.vec_id) AS rn
            FROM probes p
            JOIN assign a ON a.cluster = p.cluster
            JOIN e ON e.vec_id = a.vec_id
            JOIN q ON q.qid = p.qid
            WHERE e.vec_id <> p.qid) WHERE rn <= 10),
        truth AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC, e.vec_id) AS rn
            FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10)
        SELECT t.qid, COUNT(p.vec_id) AS n_hits,
          round(COUNT(p.vec_id) / 10.0, 2) AS recall,
          (COUNT(p.vec_id) >= 5) AS recall_ok
        FROM truth t LEFT JOIN pruned p ON p.qid = t.qid AND p.vec_id = t.vec_id
        GROUP BY t.qid ORDER BY t.qid""")),

    // ---- Embedding int8 quantization (oracle-checked + fidelity bound) -----
    // Storage/ANN compression for 100 TB-scale vector corpora: per-vector
    // symmetric int8 (scale = max|x|/127), 4x smaller at rest. Codes and
    // scales are pure deterministic arithmetic (max is order-insensitive,
    // round is half-away-from-zero in both engines) so DuckDB recomputes
    // them bit-exactly; reconstruction fidelity rides along as a bounded
    // claim (cosine(dequantized, original) >= 0.999), same pattern as
    // a8's within_bounds. Codes are emitted as a CSV string, not an array
    // column: the driver's comparator row-sorts the frame in pandas, and
    // ndarray cells are unhashable there (r6 `x4_quantize_int8` err).
    QueryDef(
      "x4_quantize_int8",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).filter($"vec_id" < 100)
        val scale = (aggregate($"ev", lit(0.0d),
          (m, x) => greatest(m, abs(x))) / 127.0d).as("scale")
        e.select($"vec_id", $"ev", scale)
          .select($"vec_id", $"ev", $"scale",
            transform($"ev", x => round(x / $"scale").cast("int")).as("q"))
          .select($"vec_id",
            round($"scale", 6).as("scale6"),
            array_join(transform($"q", _.cast("string")), ",").as("q_csv"),
            (cosine(transform($"q", x => x.cast("double") * $"scale"), $"ev")
              >= 0.999d).as("fidelity_ok"))
          .orderBy($"vec_id")
      },
      Some("""WITH q AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
            list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
          FROM embeddings WHERE vec_id < 100)
        SELECT vec_id, round(scale, 6) AS scale6,
          array_to_string(list_transform(ev, x -> CAST(round(x / scale) AS INTEGER)), ',') AS q_csv,
          TRUE AS fidelity_ok
        FROM q ORDER BY vec_id""")),

    // ---- LSH recall vs exact truth (HASH-EXACT oracle) ---------------------
    // The banded-LSH twin of x4_ann_recall: the 50 strongest exact-cosine
    // pairs of a bounded subset, each flagged with whether the md5-plane
    // banded candidate set contains it. Both sides are SQL-derivable
    // (planes from md5, candidates from sign sums, truth from brute-force
    // cosine), so the per-pair `recalled` boolean is hash-exact — the
    // deterministic recall outcome ApproxRecallSpec pins in-process
    // becomes a driver-visible gate row. On this corpus (max cos ~0.45,
    // no planted embedding dups) 8×8 banding recalls ~20% of moderate-cos
    // pairs BY DESIGN (it is calibrated for near-dups at cos ≥ 0.95) —
    // the gate pins that fixed-seed outcome against regressions, e.g. the
    // single-table variant that scored zero.
    QueryDef(
      "x4_lsh_recall",
      (s, d) => {
        import s.implicits._
        val sub = emb(s, d).filter($"vec_id" < 200)
        val cand = lshCandidatePairs(sub, dim = 64)
          .select($"a", $"b", lit(true).as("found"))
        val av = sub.select($"vec_id".as("a"), $"ev".as("av"))
        val bv = sub.select($"vec_id".as("b"), $"ev".as("bv"))
        val truth = av.join(broadcast(bv), $"a" < $"b")
          .select($"a", $"b", round(cosine($"av", $"bv"), 4).as("cos"))
          .orderBy($"cos".desc, $"a", $"b").limit(50)
        truth.join(cand, Seq("a", "b"), "left")
          .select($"a", $"b", $"cos",
            coalesce($"found", lit(false)).as("recalled"))
          .orderBy($"cos".desc, $"a", $"b")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
          WHERE vec_id < 200),
        planes AS (
          SELECT i.i AS i, list_transform(generate_series(0, 63),
            j -> (md5_number_upper('gr_lsh_' || i.i || '_' || j) >> 11)::DOUBLE
                 / 9007199254740992.0 - 0.5) AS p
          FROM (SELECT unnest(generate_series(0, 63)) AS i) i),
        sigs AS (
          SELECT vec_id, i // 8 AS band_idx,
            SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                  k -> ev[k] * p[k])) >= 0
                THEN (1::BIGINT << (i % 8)) ELSE 0 END) AS band_sig
          FROM e, planes
          GROUP BY vec_id, i // 8),
        cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM sigs x JOIN sigs y
            ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
          WHERE x.vec_id < y.vec_id),
        truth AS (
          SELECT x.vec_id AS a, y.vec_id AS b,
            round(list_cosine_similarity(x.ev, y.ev), 4) AS cos
          FROM e x JOIN e y ON x.vec_id < y.vec_id
          ORDER BY cos DESC, a, b LIMIT 50)
        SELECT t.a, t.b, t.cos, (c.a IS NOT NULL) AS recalled
        FROM truth t LEFT JOIN cand c ON c.a = t.a AND c.b = t.b
        ORDER BY t.cos DESC, t.a, t.b""")),

    // ---- Cluster-quality diagnostics (HASH-EXACT oracle) -------------------
    // Per-cluster cohesion + assignment confidence for the md5-seeded
    // codebook the ANN/SemDedup family shares: n_vecs, mean cosine to the
    // OWN (best) centroid, and mean margin over the second-best centroid.
    // A collapsing codebook shows up as one fat cluster with near-zero
    // margin; a healthy one has balanced n_vecs and positive margins —
    // the "is my quantizer sane" check a curation pipeline runs before
    // trusting IVF probes or SemDedup cells at 100 TB. Everything is
    // declarative: vectors cross-join the 8 broadcast seed rows, rank by
    // ROUND-6 cosine (ties → lower cluster, both engines), fixed-point
    // long sums make the means order-independent. Scale: the cross join
    // is n × k with k broadcast — the same shape as assignment itself.
    QueryDef(
      "x4_cluster_quality",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val seeds = index.centroids.toSeq.toDF("cluster", "cv")
        val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cluster")
        val ranked = e.crossJoin(broadcast(seeds))
          .select($"vec_id", $"cluster", round(cosine($"ev", $"cv"), 6).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 2)
        val own = ranked.filter($"rn" === 1)
          .select($"vec_id", $"cluster", $"cos".as("cos_own"))
        val second = ranked.filter($"rn" === 2)
          .select($"vec_id", $"cos".as("cos_2nd"))
        own.join(second, Seq("vec_id"))
          .select($"cluster",
            round($"cos_own" * 1e6, 0).cast("long").as("fo"),
            round(($"cos_own" - $"cos_2nd") * 1e6, 0).cast("long").as("fm"))
          .groupBy($"cluster")
          .agg(count(lit(1)).as("n_vecs"), sum($"fo").as("so"), sum($"fm").as("sm"))
          .select($"cluster", $"n_vecs",
            round($"so".cast("double") / 1e6 / $"n_vecs", 6).as("mean_cos_own"),
            round($"sm".cast("double") / 1e6 / $"n_vecs", 6).as("mean_margin"))
          .orderBy($"cluster")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        ranked AS (
          SELECT vec_id, cluster, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
          FROM (
            SELECT e.vec_id, s.cluster,
              round(list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6) AS cos
            FROM e, seeds s)),
        own AS (SELECT vec_id, cluster, cos FROM ranked WHERE rn = 1),
        sec AS (SELECT vec_id, cos AS cos2 FROM ranked WHERE rn = 2),
        fx AS (
          SELECT o.cluster,
            CAST(round(o.cos * 1000000) AS BIGINT) AS fo,
            CAST(round((o.cos - s.cos2) * 1000000) AS BIGINT) AS fm
          FROM own o JOIN sec s USING (vec_id))
        SELECT cluster, COUNT(*) AS n_vecs,
          round(CAST(SUM(fo) AS DOUBLE) / 1000000 / COUNT(*), 6) AS mean_cos_own,
          round(CAST(SUM(fm) AS DOUBLE) / 1000000 / COUNT(*), 6) AS mean_margin
        FROM fx GROUP BY cluster ORDER BY cluster""")),

    // ---- Embedding near-dup pairs over a fixed subset (oracle-checked) -----
    QueryDef(
      "emb_neardup_pairs",
      (s, d) => {
        import s.implicits._
        val sub = emb(s, d).filter($"vec_id" < 200)
        val a = sub.select($"vec_id".as("a"), $"ev".as("av"))
        val b = sub.select($"vec_id".as("b"), $"ev".as("bv"))
        a.join(broadcast(b), $"a" < $"b")
          .select($"a", $"b", round(cosine($"av", $"bv"), 4).as("cos"))
          .filter($"cos" >= 0.25)
          .orderBy($"cos".desc, $"a", $"b")
      },
      Some("""SELECT a.vec_id AS a, b.vec_id AS b,
          round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.25
        ORDER BY cos DESC, a, b""")),

    // ---- kNN label-consistency audit (mislabel detection) ------------------
    // The confident-learning-style curation check: a row whose k nearest
    // neighbors vote for a different label is a mislabel suspect. Majority =
    // most neighbor votes, ties to the smallest label; n_agree = neighbors
    // sharing the row's own label. Brute-force kNN here is the bounded
    // oracle anchor (one broadcast of the query side, windowed top-k per
    // qid — never a global sort); the scale path is the SAME aggregation
    // ([[labelVoteAudit]]) fed by IvfAnn.searchJoin's cluster-pruned
    // candidates — their equivalence at full probe is spec-pinned
    // (SkewAndIvfSpec), and pruned probes inherit x4_ann_ivf_join's
    // recall story.
    QueryDef(
      "x4_knn_label_check",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", $"label", asDouble($"embedding").as("ev"))
        // audited side bounded like the sibling brute-force anchors
        // (emb_neardup_pairs, x4_knn_join): the anchor must stay O(bound·n)
        // however big the corpus grows; auditing EVERY row is the IVF-fed
        // path's job (labelVoteAudit over searchJoin candidates)
        val q = e.filter($"vec_id" < 500)
          .select($"vec_id".as("qid"), $"label".as("q_label"), $"ev".as("qv"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val nb = e.join(broadcast(q), $"vec_id" =!= $"qid")
          .select($"qid", $"q_label", $"label".as("n_label"),
            round(cosine($"ev", $"qv"), 4).as("cos"), $"vec_id")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 5)
        labelVoteAudit(nb)
      },
      Some("""WITH nb AS (
          SELECT qid, label, n_label FROM (
            SELECT q.vec_id AS qid, q.label AS label, e.label AS n_label,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                e.vec_id) AS rn
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < 500)
          WHERE rn <= 5),
        votes AS (
          SELECT qid, label, n_label, COUNT(*) AS c
          FROM nb GROUP BY qid, label, n_label),
        agree AS (
          SELECT qid,
            CAST(SUM(CASE WHEN n_label = label THEN c ELSE 0 END) AS BIGINT) AS n_agree
          FROM votes GROUP BY qid),
        pred AS (
          SELECT qid, label, n_label AS pred_label FROM (
            SELECT qid, label, n_label,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, n_label) AS pr
            FROM votes) WHERE pr = 1)
        SELECT p.qid AS vec_id, p.label, p.pred_label, a.n_agree,
          (p.label = p.pred_label) AS consistent
        FROM pred p JOIN agree a ON a.qid = p.qid
        ORDER BY vec_id""")),

    // ---- X4: Matryoshka prefix-dim shortlist recall (HASH-EXACT oracle) ----
    // The MRL funnel driver-visible: shortlist 50 at dim 16 (4× less read/
    // compute per candidate), exact full-dim re-rank to top-10, scored
    // against brute-force truth with the x4_ann_recall aggregation. Every
    // stage is SQL-derivable (list slicing + the same round-4 window
    // tie-breaks), so n_hits is hash-exact, not just the >= 0.5 bound.
    QueryDef(
      "x4_mrl_recall",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"ev".as("qv"))
        val pruned = mrlSearchJoin(e, queries, prefixDim = 16, shortlist = 50, k = 10)
          .select($"qid", $"vec_id", lit(1L).as("hit"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val truth = e.join(broadcast(queries), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id", round(cosine($"ev", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 10)
          .select($"qid", $"vec_id")
        truth.join(pruned, Seq("qid", "vec_id"), "left")
          .groupBy($"qid")
          .agg(count($"hit").as("n_hits"))
          .select($"qid", $"n_hits",
            round($"n_hits".cast("double") / 10, 2).as("recall"),
            ($"n_hits" >= 5).as("recall_ok"))
          .orderBy($"qid")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        q AS (SELECT vec_id AS qid, ev AS qv FROM e WHERE vec_id < 20),
        lo AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                round(list_cosine_similarity(e.ev[1:16], q.qv[1:16]), 4) DESC,
                e.vec_id) AS rs
            FROM e, q WHERE e.vec_id <> q.qid) WHERE rs <= 50),
        pruned AS (
          SELECT qid, vec_id FROM (
            SELECT l.qid, l.vec_id,
              ROW_NUMBER() OVER (PARTITION BY l.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC, l.vec_id) AS rn
            FROM lo l JOIN e ON e.vec_id = l.vec_id JOIN q ON q.qid = l.qid)
          WHERE rn <= 10),
        truth AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC, e.vec_id) AS rn
            FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10)
        SELECT t.qid, COUNT(p.vec_id) AS n_hits,
          round(COUNT(p.vec_id) / 10.0, 2) AS recall,
          (COUNT(p.vec_id) >= 5) AS recall_ok
        FROM truth t LEFT JOIN pruned p ON p.qid = t.qid AND p.vec_id = t.vec_id
        GROUP BY t.qid ORDER BY t.qid""")),

    // ---- X4: cluster-balanced prototypicality sample (HASH-EXACT oracle) ---
    // The post-SemDedup curation stage (SSL-prototypes / D4 order): rank
    // each vector within its cluster by cosine to the own centroid
    // (hardest — least prototypical — first), keep ceil(0.25 · cluster
    // size) per cluster, so the kept set is balanced across the embedding
    // space instead of collapsing onto dense clusters. Assignment is the
    // lloydIters = 0 flat argmax the DuckDB CTEs re-derive (x4_ann_coarse);
    // round-6 cosines and vec_id tie-breaks make rank and kept hash-exact.
    QueryDef(
      "x4_cluster_sample",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        val proto = graft.ext.ClusterPrune.prototypicality(
          index.assigned, index.centroids)
        graft.ext.ClusterPrune.balancedSample(proto, frac = 0.25)
          .orderBy($"vec_id")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, seeds s) WHERE rn = 1),
        proto AS (
          SELECT a.vec_id, a.cluster,
            round(list_sum(list_transform(generate_series(1, len(ev)),
                k -> ev[k] * cv[k]))
              / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                 * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6) AS cos_own
          FROM assign a
          JOIN e ON e.vec_id = a.vec_id
          JOIN seeds s ON s.cluster = a.cluster),
        sized AS (
          SELECT cluster, COUNT(*) AS n_c FROM proto GROUP BY cluster),
        ranked AS (
          SELECT p.vec_id, p.cluster, p.cos_own,
            ROW_NUMBER() OVER (PARTITION BY p.cluster
              ORDER BY p.cos_own ASC, p.vec_id) AS rank,
            z.n_c
          FROM proto p JOIN sized z ON z.cluster = p.cluster)
        SELECT vec_id, cluster, cos_own, rank,
          (rank <= CEIL(n_c * 0.25)) AS kept
        FROM ranked ORDER BY vec_id""")),

    // ---- Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine --
    // The standard RAG/decontamination retrieval stack runs a lexical and a
    // dense ranker and fuses with RRF: score(d) = Σ_rankers 1/(60 + rank_d).
    // Lexical leg = the x_bm25_topk formulation (same bm25Fx fixed-point
    // contribution, same 5 highest-df query terms); dense leg = cosine vs
    // the vec_id=0 query embedding (vec_id ≡ doc_id in the fixture corpus).
    // Each leg is cut to top-50 via orderBy+limit (TakeOrderedAndProject —
    // distributed reduction, NOT a global sort), and only THEN ranked with
    // a window over ≤50 rows, so the single-partition window is bounded by
    // construction; at 100 TB with many queries the window would partition
    // by query id. 1/(60+rank) is one double division per row —
    // deterministic, no accumulation-order dependence (the two legs are
    // combined by expression, not aggregation).
    QueryDef(
      "x_rrf_fusion",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("term"))
          .filter(length($"term") > 0)
        val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("nd"),
          (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
        val dfq = tok.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        val qterms = dfq.orderBy($"df".desc, $"term").limit(5)
        val tf = tok.join(broadcast(qterms), Seq("term"))
          .groupBy($"doc_id", $"term", $"df").agg(count(lit(1)).as("tf"))
        val bm = tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
          .select($"doc_id", graft.sources.InvertedIndex
            .bm25Fx($"tf", $"df", $"dl", $"nd", $"avgdl").as("fx"))
          .groupBy($"doc_id").agg(sum($"fx").as("sfx"))
        val bmRank = bm.orderBy($"sfx".desc, $"doc_id").limit(50)
          .select($"doc_id", row_number()
            .over(Window.orderBy($"sfx".desc, $"doc_id")).as("ra"))

        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"ev".as("qv"))
        val cos = e.crossJoin(broadcast(q))
          .select($"vec_id".as("doc_id"),
            round(cosine($"ev", $"qv"), 4).as("cos"))
        val cosRank = cos.orderBy($"cos".desc, $"doc_id").limit(50)
          .select($"doc_id", row_number()
            .over(Window.orderBy($"cos".desc, $"doc_id")).as("rb"))

        bmRank.join(cosRank, Seq("doc_id"), "full_outer")
          .select($"doc_id", $"ra", $"rb",
            round(
              coalesce(lit(1.0) / ($"ra" + 60), lit(0.0)) +
                coalesce(lit(1.0) / ($"rb" + 60), lit(0.0)), 6).as("rrf"))
          .orderBy($"rrf".desc, $"doc_id").limit(20)
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tokf AS (SELECT * FROM tok WHERE length(term) > 0),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokf GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd,
          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokf
          GROUP BY term),
        qterms AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 5),
        tf AS (SELECT t.doc_id, t.term, q.df, COUNT(*) AS tf
          FROM tokf t JOIN qterms q USING (term)
          GROUP BY t.doc_id, t.term, q.df),
        fx AS (SELECT tf.doc_id,
            CAST(round(ln(1.0 + (s.nd - tf.df + 0.5) / (tf.df + 0.5)) *
              ((tf.tf * 2.2) /
                (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) * 1000000)
              AS BIGINT) AS fx
          FROM tf JOIN dl USING (doc_id), stats s),
        bm AS (SELECT doc_id, SUM(fx) AS sfx FROM fx GROUP BY doc_id),
        bmtop AS (SELECT doc_id, sfx FROM bm
          ORDER BY sfx DESC, doc_id LIMIT 50),
        bmrank AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY sfx DESC, doc_id) AS ra FROM bmtop),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0),
        cosv AS (SELECT vec_id AS doc_id,
            round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos
          FROM embeddings, q),
        costop AS (SELECT doc_id, cos FROM cosv
          ORDER BY cos DESC, doc_id LIMIT 50),
        cosrank AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rb FROM costop),
        f AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.ra, c.rb,
            round(COALESCE(CAST(1 AS DOUBLE) / (b.ra + 60), 0) +
              COALESCE(CAST(1 AS DOUBLE) / (c.rb + 60), 0), 6) AS rrf
          FROM bmrank b FULL OUTER JOIN cosrank c ON b.doc_id = c.doc_id)
        SELECT doc_id, ra, rb, rrf FROM f
        ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // ---- X4: int8 scalar quantization (SQ8) — the 4× store shrink ----------
    // The lighter sibling of PQ on the compression ladder (float32 → SQ8
    // 4× → PQ m=8 32×): per-vector symmetric int8 — scale = max|component|,
    // q_i = round(v_i / scale · 127) ∈ [−127, 127], dequant q_i·scale/127.
    // At 100 TB this quarters the embedding store AND the similarity
    // scan's bytes while staying a per-row, shuffle-free transform (no
    // codebooks to train or broadcast, unlike PQ) — the standard first
    // step before ANN indexing. The gate quantizes EVERY vector (query
    // included), runs the same brute-force top-10 as x4_cosine_topk on
    // dequantized vectors, and emits the SQ8 cosine NEXT TO the exact
    // float cosine with membership in the exact top-10 — recall and
    // realized cosine error are driver-visible data, oracle-re-derived
    // (DuckDB quantizes cell-for-cell with the same round/scale
    // arithmetic; round(…,4) bridges fold order as in x4_cosine_topk).
    // Zero vectors (scale = 0) are excluded — quantization is undefined
    // there and the corpus has none (the filter is the documented guard).
    QueryDef(
      "x4_sq8_topk",
      (s, d) => {
        import s.implicits._
        val scaled = emb(s, d)
          .withColumn("scale", array_max(transform($"ev", x => abs(x))))
          .filter($"scale" > 0)
          .withColumn("dq", transform(
            transform($"ev", x => round(x / $"scale" * lit(127), 0)),
            q => q * $"scale" / lit(127.0)))
        val q = scaled.filter($"vec_id" === 0)
          .select($"dq".as("qdq"), $"ev".as("qev"))
        val cos = scaled.crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosine($"dq", $"qdq"), 4).as("cos_sq8"),
            round(cosine($"ev", $"qev"), 4).as("cos_exact"))
        val exactTop = cos.orderBy($"cos_exact".desc, $"vec_id").limit(10)
          .select($"vec_id", lit(true).as("in_exact_top10"))
        cos.orderBy($"cos_sq8".desc, $"vec_id").limit(10)
          .join(broadcast(exactTop), Seq("vec_id"), "left")
          .select($"vec_id", $"cos_sq8", $"cos_exact",
            coalesce($"in_exact_top10", lit(false)).as("in_exact_top10"))
          .orderBy($"cos_sq8".desc, $"vec_id")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
            list_aggregate(list_transform(embedding::DOUBLE[],
              x -> abs(x)), 'max') AS scale
          FROM embeddings),
        sq AS (
          SELECT vec_id, ev,
            list_transform(list_transform(ev, x -> round(x / scale * 127)),
              q -> q * scale / 127.0) AS dq
          FROM e WHERE scale > 0),
        qv AS (SELECT dq AS qdq, ev AS qev FROM sq WHERE vec_id = 0),
        allc AS (
          SELECT vec_id,
            round(list_cosine_similarity(dq, qdq), 4) AS cos_sq8,
            round(list_cosine_similarity(ev, qev), 4) AS cos_exact
          FROM sq, qv),
        ex AS (SELECT vec_id FROM allc
          ORDER BY cos_exact DESC, vec_id LIMIT 10),
        top AS (SELECT * FROM allc ORDER BY cos_sq8 DESC, vec_id LIMIT 10)
        SELECT t.vec_id, t.cos_sq8, t.cos_exact,
          t.vec_id IN (SELECT vec_id FROM ex) AS in_exact_top10
        FROM top t ORDER BY cos_sq8 DESC, vec_id""")),

    // ---- X4: SQ8 at-rest store path — packed bytes, integer kernel ---------
    // x4_sq8_topk pins the quantization ARITHMETIC (dequantized doubles);
    // this gate pins the STORE PATH the 100 TB deployment actually runs:
    // embeddings packed to per-vector symmetric int8 BINARY (one byte
    // per component — sq8_pack, functions/Sq8.scala) and cosine computed
    // DIRECTLY on the packed bytes with long accumulators
    // (cosine_sim_sq8): cosine is scale-invariant per vector, so the
    // scales cancel analytically — no dequant multiply, no unpack, no
    // float reads anywhere in the scan. Cross-engine exactness is
    // STRONGER here than for float cosine: the integer partial sums
    // (dim·127² ≪ 2^53) are exact in both engines, so dot/‖·‖ agree to
    // the last bit before the final division; round(…,4) matches the
    // x4_cosine_topk convention anyway. The oracle re-derives every
    // byte: DuckDB round() = half-away-from-zero = Spark round() =
    // the kernel's explicit floor/ceil branch (spec-pinned on exact
    // .5 inputs in Sq8Spec).
    QueryDef(
      "x4_sq8_store_topk",
      (s, d) => {
        import s.implicits._
        import graft.functions.Sq8.{cosine_sim_sq8, sq8_pack}
        val packed = emb(s, d)
          .select($"vec_id", sq8_pack($"ev").as("qz"))
          .filter($"qz".isNotNull)
        val q = packed.filter($"vec_id" === 0).select($"qz".as("qqz"))
        packed.crossJoin(broadcast(q))
          .select($"vec_id",
            round(cosine_sim_sq8($"qz", $"qqz"), 4).as("cos_sq8"))
          .orderBy($"cos_sq8".desc, $"vec_id")
          .limit(10)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
            list_aggregate(list_transform(embedding::DOUBLE[],
              x -> abs(x)), 'max') AS scale
          FROM embeddings),
        q AS (
          SELECT vec_id,
            list_transform(ev, x -> round(x / scale * 127)) AS qz
          FROM e WHERE scale > 0),
        qv AS (SELECT qz AS qqz FROM q WHERE vec_id = 0)
        SELECT vec_id,
          round(list_cosine_similarity(qz, qqz), 4) AS cos_sq8
        FROM q, qv
        ORDER BY cos_sq8 DESC, vec_id LIMIT 10""")),

    // ---- X4: SQ8 two-stage retrieval — packed shortlist + exact re-rank ----
    // The production SQ8 shape, completing the x4_pq_rerank pattern for
    // the 4× rung of the compression ladder: the integer kernel over the
    // PACKED bytes generates a 4·k-candidate shortlist (the over-fetch
    // factor r17_sq8_scale measured to repair recall@10 0.930 → 1.000 at
    // 200k vectors — SQ8's error comes from near-ties in quantized
    // cosine, so a constant small multiple of k recovers them, unlike
    // PQ's corpus-fraction shortlist), then exact float cosine re-ranks
    // ONLY those 40 rows. At 100 TB the scan touches 1 byte/component
    // and the raw floats are read for 40 rows total. The exact
    // brute-force top-10 rides along as membership flags (the
    // measurement arm you'd delete in production), so realized recall is
    // driver-visible data; every stage is oracle-re-derived from the
    // same packed bytes (integer sums exact in both engines, round(…,4)
    // bridges the final division as in x4_sq8_store_topk).
    QueryDef(
      "x4_sq8_rerank",
      (s, d) => {
        import s.implicits._
        import graft.functions.Sq8.{cosine_sim_sq8, sq8_pack}
        val packed = emb(s, d)
          .select($"vec_id", $"ev", sq8_pack($"ev").as("qz"))
          .filter($"qz".isNotNull)
        val q = packed.filter($"vec_id" === 0)
          .select($"qz".as("qqz"), $"ev".as("qev"))
        val scored = packed.crossJoin(broadcast(q))
          .select($"vec_id", $"ev", $"qev",
            round(cosine_sim_sq8($"qz", $"qqz"), 4).as("cos_sq8"))
        val shortlist = scored
          .orderBy($"cos_sq8".desc, $"vec_id").limit(40)
        val rerank = shortlist
          .select($"vec_id", $"cos_sq8",
            round(cosine($"ev", $"qev"), 4).as("cos_exact"))
          .orderBy($"cos_exact".desc, $"vec_id").limit(10)
        val exactTop = scored
          .select($"vec_id", round(cosine($"ev", $"qev"), 4).as("ce"))
          .orderBy($"ce".desc, $"vec_id").limit(10)
          .select($"vec_id", lit(true).as("in_exact_top10"))
        rerank.join(broadcast(exactTop), Seq("vec_id"), "left")
          .select($"vec_id", $"cos_sq8", $"cos_exact",
            coalesce($"in_exact_top10", lit(false)).as("in_exact_top10"))
          .orderBy($"cos_exact".desc, $"vec_id")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
            list_aggregate(list_transform(embedding::DOUBLE[],
              x -> abs(x)), 'max') AS scale
          FROM embeddings),
        q AS (
          SELECT vec_id, ev,
            list_transform(ev, x -> round(x / scale * 127)) AS qz
          FROM e WHERE scale > 0),
        qv AS (SELECT qz AS qqz, ev AS qev FROM q WHERE vec_id = 0),
        sc AS (
          SELECT vec_id, ev,
            round(list_cosine_similarity(qz, qqz), 4) AS cos_sq8
          FROM q, qv),
        short AS (SELECT * FROM sc ORDER BY cos_sq8 DESC, vec_id LIMIT 40),
        rr AS (
          SELECT s.vec_id, s.cos_sq8,
            round(list_cosine_similarity(s.ev, qev), 4) AS cos_exact
          FROM short s, qv
          ORDER BY cos_exact DESC, s.vec_id LIMIT 10),
        ex AS (
          SELECT vec_id FROM (
            SELECT vec_id,
              round(list_cosine_similarity(ev, qev), 4) AS ce
            FROM q, qv)
          ORDER BY ce DESC, vec_id LIMIT 10)
        SELECT r.vec_id, r.cos_sq8, r.cos_exact,
          r.vec_id IN (SELECT vec_id FROM ex) AS in_exact_top10
        FROM rr r ORDER BY cos_exact DESC, vec_id""")),

    // ---- X4: hard-query IVF recall as oracle-checked DATA ------------------
    // (r18 verdict item 4.) The gated ANN surface measured IN-corpus
    // geometry only; the r18_ivfpq_hardq probe showed that OUT-of-corpus
    // queries at 2.5× the sibling noise radius are what make probe count
    // matter. This gate promotes that protocol to the hash-exact surface:
    // 20 queries derived from the first 20 corpus vectors by
    // md5-deterministic ±0.125/component offsets (both engines re-derive
    // every offset from md5_number_upper arithmetic — the query set can
    // never silently drift), IVF search at nProbe = 3 of 8 (lloydIters =
    // 0, the SQL-derivable index), and the output row per query IS its
    // recall@10 against the oracle's own brute-force top-10 — the recall
    // column moves if seeding, assignment, probe ranking, or the search
    // join regresses. n_hit stays integer (exact) and recall_at_10 is
    // n_hit/10 (one exact IEEE division).
    QueryDef(
      "x4_ivf_recall_hardq",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val index = graft.ext.IvfAnn.build(e, nCentroids = 8, lloydIters = 0)
        // out-of-corpus queries: base vector + md5-derived offset per
        // component; one float add per component, bit-stable cross-engine
        val queries = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"),
            transform($"ev", (x, j) => x +
              (shiftrightunsigned(graft.functions.Md5Hash64.md5_le64(
                concat(lit("hardq"), $"vec_id".cast("string"), lit(":"),
                  j.cast("string"))), 40).cast("double")
                / lit(16777216.0) - 0.5) * 0.25).as("qv"))
          .localCheckpoint(true) // one derivation feeds IVF AND truth arms
        val ivf = graft.ext.IvfAnn.searchJoin(
          index, queries, nProbe = 3, k = 10, excludeSelf = false)
        val wT = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val truth = e.crossJoin(broadcast(queries))
          .select($"qid", $"vec_id",
            round(cosine($"ev", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(wT)).filter($"rn" <= 10)
          .select($"qid", $"vec_id")
        truth
          .join(ivf.select($"qid", $"vec_id", lit(true).as("in_ivf")),
            Seq("qid", "vec_id"), "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_truth"),
            sum(when($"in_ivf", 1L).otherwise(0L)).as("n_hit"))
          .select($"qid", $"n_truth", $"n_hit",
            ($"n_hit" / lit(10.0)).as("recall_at_10"))
          .orderBy($"qid")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT 8)),
        assign AS (
          SELECT vec_id, cluster FROM (
            SELECT e.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, len(ev)),
                  k -> ev[k] * cv[k]))
                / (sqrt(list_sum(list_transform(ev, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM e, seeds s) WHERE rn = 1),
        q AS (
          SELECT vec_id AS qid,
            list_transform(generate_series(1, len(ev)), j -> ev[j] +
              ((md5_number_upper('hardq' || vec_id || ':' || (j - 1)) >> 40)::DOUBLE
                / 16777216.0 - 0.5) * 0.25) AS qv
          FROM e WHERE vec_id < 20),
        probes AS (
          SELECT qid, cluster FROM (
            SELECT q.qid, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                list_sum(list_transform(generate_series(1, len(qv)),
                  k -> qv[k] * cv[k]))
                / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                   * sqrt(list_sum(list_transform(cv, x -> x * x)))) DESC,
                s.cluster) AS rn
            FROM q, seeds s) WHERE rn <= 3),
        ivf AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC,
                e.vec_id) AS rn
            FROM q
            JOIN probes p ON p.qid = q.qid
            JOIN assign a ON a.cluster = p.cluster
            JOIN e ON e.vec_id = a.vec_id) WHERE rn <= 10),
        truth AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                round(list_cosine_similarity(e.ev, q.qv), 4) DESC,
                e.vec_id) AS rn
            FROM e, q) WHERE rn <= 10)
        SELECT t.qid, count(*) AS n_truth,
          CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
          CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT)::DOUBLE / 10.0 AS recall_at_10
        FROM truth t
        LEFT JOIN ivf i ON i.qid = t.qid AND i.vec_id = t.vec_id
        GROUP BY t.qid
        ORDER BY t.qid"""))
  )
}
