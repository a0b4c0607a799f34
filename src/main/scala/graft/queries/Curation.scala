package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation recipes from the published LLM-pretraining playbook,
  * composed from the engine's existing primitives (token explode shapes,
  * the md5 60-bit hash bridge, fixed-point long sums):
  *
  *  - Gopher repetition rules (Rae et al. 2021 §A1.1): per-document
  *    duplicate-n-gram character fractions as removal signals.
  *  - CCNet perplexity bucketing (Wenzek et al. 2020): per-language
  *    head/middle/tail terciles by LM surprisal.
  *  - Soft deduplication (down-weight duplicates instead of dropping).
  *  - Count-Min sketch heavy hitters: fixed-footprint frequency sketch
  *    as pure relational algebra, oracle-recomputable cell by cell.
  *
  * Everything stays in codegen'd built-ins + HOFs (zero UDFs); the only
  * wide operations are token/gram-keyed equi-shuffles and fixed-size
  * sketch aggregations, so each recipe is linear in corpus bytes and
  * safe at the 100 TB target.
  */
object Curation {

  /** md5-derived sketch cell `(md5_le64(dep:term) >>> 4) % cells` — ONE
    * definition shared by the CMS (cells=1024) and Bloom (cells=8192)
    * recipes; their DuckDB oracles mirror it via the md5_number_upper
    * bridge, so a change here must change both oracles in lockstep. */
  // private[graft]: ONE cell-hash definition shared with the streaming
  // CMS twin (streaming/CmsStream) — any drift would break its
  // streamed ≡ batch spec pin
  private[graft] def sketchCell(dep: org.apache.spark.sql.Column,
      term: org.apache.spark.sql.Column, cells: Int) = {
    import graft.functions.Md5Hash64.md5_le64
    shiftrightunsigned(
      md5_le64(concat(dep.cast("string"), lit(":"), term)), 4) % cells
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- Gopher repetition rules: duplicate-n-gram char fractions ----------
    // The two strongest signals from the published rule-set that apply to a
    // newline-free token stream: the fraction of characters covered by the
    // single most frequent 2-gram (threshold 0.20) and the fraction of
    // characters inside duplicated 5-grams (threshold 0.15, occurrences
    // counted with overlap as the paper does). Both are rational arithmetic
    // (int·int/int in one double division, rounded) — bit-exact cross-engine
    // with no fixed-point detour. Scale shape: grams explode to (doc, gram)
    // keyed counts — one equi-shuffle per n — and the per-doc top-1 is a
    // window over per-doc gram counts, not the corpus.
    QueryDef(
      "x_gopher_repetition",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 5)
          .select($"doc_id", length($"text").as("nc"), $"toks")
        def grams(n: Int) = docs.select(
          $"doc_id", $"nc",
          explode(transform(sequence(lit(1), size($"toks") - (n - 1)),
            i => concat_ws(" ", slice($"toks", i, lit(n))))).as("g"))
        val top2 = grams(2)
          .groupBy($"doc_id", $"nc", $"g").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"c".desc, $"g")))
          .filter($"rn" === 1)
          .select($"doc_id",
            round(($"c" * length($"g")).cast("double") / $"nc", 6)
              .as("top2_frac"))
        val dup5 = grams(5)
          .groupBy($"doc_id", $"nc", $"g").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id", $"nc")
          .agg(sum(when($"c" >= 2, $"c" * length($"g")).otherwise(0L))
            .as("dup_chars"))
          .select($"doc_id",
            round($"dup_chars".cast("double") / $"nc", 6).as("dup5_frac"))
        top2.join(dup5, Seq("doc_id"))
          .select($"doc_id", $"top2_frac", $"dup5_frac",
            ($"top2_frac" <= 0.20 && $"dup5_frac" <= 0.15).as("keep"))
          .orderBy($"doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS t
          FROM documents WHERE len(string_split(text, ' ')) >= 5),
        g2 AS (
          SELECT doc_id, nc, unnest(list_transform(
            generate_series(1, len(t) - 1),
            i -> array_to_string(t[i:i+1], ' '))) AS g
          FROM docs),
        g2c AS (SELECT doc_id, nc, g, COUNT(*) AS c FROM g2 GROUP BY ALL),
        top2 AS (
          SELECT doc_id, round(CAST(c * length(g) AS DOUBLE) / nc, 6) AS top2_frac
          FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2c)
          WHERE rn = 1),
        g5 AS (
          SELECT doc_id, nc, unnest(list_transform(
            generate_series(1, len(t) - 4),
            i -> array_to_string(t[i:i+4], ' '))) AS g
          FROM docs),
        g5c AS (SELECT doc_id, nc, g, COUNT(*) AS c FROM g5 GROUP BY ALL),
        dup5 AS (
          SELECT doc_id,
            round(CAST(SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)
              AS DOUBLE) / nc, 6) AS dup5_frac
          FROM g5c GROUP BY doc_id, nc)
        SELECT t.doc_id, t.top2_frac, d.dup5_frac,
          (t.top2_frac <= 0.20 AND d.dup5_frac <= 0.15) AS keep
        FROM top2 t JOIN dup5 d USING (doc_id) ORDER BY doc_id""")),

    // ---- CCNet bucketing: per-language perplexity terciles -----------------
    // The CCNet recipe: score each document with an LM (here the corpus
    // unigram model standing in for the paper's wiki KenLM), then cut each
    // language into head/middle/tail terciles by score — pipelines keep
    // head+middle and drop or downsample tail. Per-doc surprisal reuses the
    // x_unigram_surprisal fixed-point contract (per-token fx longs, exact
    // order-free sums); the tercile is ntile(3) over (avg, doc_id) — a total
    // order, so bucket assignment is deterministic on both engines. Bucket
    // aggregates come from exact long sums with ONE final division. Scale
    // shape: the only per-language serialization is the ntile window, whose
    // input is one row per DOCUMENT (not token); at 100 TB that window would
    // run per (lang, shard) exactly like x_pack_sequences' per-shard packing.
    QueryDef(
      "x_ccnet_buckets",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", $"lang", explode(split($"text", " ")).as("term"))
        val cnt = tok.groupBy($"term").agg(count(lit(1)).as("c"))
        val tot = tok.agg(count(lit(1)).as("n"))
        val perdoc = tok.join(cnt, Seq("term")).crossJoin(broadcast(tot))
          .select($"doc_id", $"lang",
            round(-log($"c".cast("double") / $"n") * 1e6, 0).cast("long")
              .as("fx"))
          .groupBy($"doc_id", $"lang")
          .agg(count(lit(1)).as("n_tokens"), sum($"fx").as("sfx"))
          .withColumn("avg_s",
            $"sfx".cast("double") / 1e6 / $"n_tokens")
        perdoc
          .withColumn("b", ntile(3).over(
            Window.partitionBy($"lang").orderBy($"avg_s", $"doc_id")))
          .groupBy($"lang", $"b")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("n_tokens"),
            round(sum($"sfx").cast("double") / 1e6 / sum($"n_tokens"), 6)
              .as("avg_surprisal"))
          .select($"lang",
            when($"b" === 1, "head").when($"b" === 2, "middle")
              .otherwise("tail").as("bucket"),
            $"n_docs", $"n_tokens", $"avg_surprisal")
          .orderBy($"lang", $"bucket")
      },
      Some("""WITH tok AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
          FROM documents),
        cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
        tot AS (SELECT COUNT(*) AS n FROM tok),
        fx AS (SELECT t.doc_id, t.lang,
            CAST(round(-ln(c.c::DOUBLE / tot.n) * 1000000) AS BIGINT) AS fx
          FROM tok t JOIN cnt c USING (term), tot),
        perdoc AS (
          SELECT doc_id, lang, COUNT(*) AS n_tokens, SUM(fx) AS sfx,
            CAST(SUM(fx) AS DOUBLE) / 1000000 / COUNT(*) AS avg_s
          FROM fx GROUP BY doc_id, lang),
        bkt AS (
          SELECT *, ntile(3) OVER (
            PARTITION BY lang ORDER BY avg_s, doc_id) AS b
          FROM perdoc)
        SELECT lang,
          CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
            AS bucket,
          COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          round(CAST(SUM(sfx) AS DOUBLE) / 1000000 / SUM(n_tokens), 6)
            AS avg_surprisal
        FROM bkt GROUP BY lang, b ORDER BY lang, bucket""")),

    // ---- Soft deduplication: down-weight copies instead of dropping --------
    // The sampling-weight alternative to hard dedup: every document gets
    // weight 1/n_copies of its exact-duplicate group, so a training sampler
    // sees each distinct text with total mass 1 while keeping all rows (the
    // published soft-dedup observation: hard-dropping can hurt when
    // duplication correlates with quality). Clones are planted (id-shifted
    // unions, the d_minhash_collapsed pattern) because the corpus has no
    // natural exact copies; group size reaches 3. The group key is the raw
    // text column — one text-keyed equi-shuffle; at 100 TB the key would be
    // md5(text) (16-byte shuffle keys, the SpanDedup discipline) with the
    // documented 2^-128 collision acceptance. Near-dup commonness composes
    // the same way from DedupClusters.minhashClustersCollapsed cluster ids.
    QueryDef(
      "x_softdedup_weights",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d).select($"doc_id", $"text")
        val cloned = base.filter($"doc_id" < 300)
          .union(base.filter($"doc_id" < 300)
            .select(($"doc_id" + 100000).as("doc_id"), $"text"))
          .union(base.filter($"doc_id" < 100)
            .select(($"doc_id" + 200000).as("doc_id"), $"text"))
        val grp = cloned.groupBy($"text").agg(count(lit(1)).as("n_copies"))
        cloned.join(grp, Seq("text"))
          .select($"doc_id", $"n_copies",
            round(lit(1.0) / $"n_copies", 6).as("weight"))
          .orderBy($"doc_id")
      },
      Some("""WITH cl AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 200000, text FROM documents WHERE doc_id < 100),
        grp AS (SELECT text, COUNT(*) AS n_copies FROM cl GROUP BY text)
        SELECT c.doc_id, g.n_copies, round(1.0 / g.n_copies, 6) AS weight
        FROM cl c JOIN grp g USING (text) ORDER BY doc_id""")),

    // ---- Count-Min sketch heavy hitters (HASH-EXACT, cell-recomputable) ----
    // A frequency sketch as pure relational algebra: depth 4 rows of width
    // 1024 counters; cell_d(term) = (md5_upper(d || ':' || term) >>> 4) mod
    // 1024 (the oracle-recomputable md5 60-bit family), cell value = sum of
    // counts hashing there, estimate = min over depths. Counter addition is
    // commutative, so the sketch — and therefore every estimate — is
    // IDENTICAL regardless of partition order or merge tree: the whole
    // report is hash-exact, not bounded-accuracy. Scale shape: the sketch is
    // a FIXED 4×1024-row table no matter the corpus size (the point of the
    // sketch) — partial aggregation builds per-partition sketches map-side
    // and merges by (d, cell); `overcount` makes the CMS error (est − exact,
    // always ≥ 0) driver-visible. Exact counts are computed alongside only
    // because the gate audits the sketch; a production pipeline ships the
    // 4096-row sketch and drops the per-term table.
    QueryDef(
      "x_cms_heavy_hitters",
      (s, d) => {
        import s.implicits._
        import graft.functions.Md5Hash64.md5_le64
        val w = 1024
        def cell(dep: org.apache.spark.sql.Column,
            term: org.apache.spark.sql.Column) = sketchCell(dep, term, w)
        val cnt = Tables.documents(s, d)
          .select(explode(split($"text", " ")).as("term"))
          .filter(length($"term") > 0)
          .groupBy($"term").agg(count(lit(1)).as("c"))
        val cells = cnt
          .select(explode(sequence(lit(0), lit(3))).as("d"), $"term", $"c")
          .select($"d", cell($"d", $"term").as("cell"), $"c")
          .groupBy($"d", $"cell").agg(sum($"c").as("cc"))
        val top = cnt.orderBy($"c".desc, $"term").limit(20)
        broadcast(top)
          .select($"term", $"c",
            explode(sequence(lit(0), lit(3))).as("d"))
          .withColumn("cell", cell($"d", $"term"))
          .join(cells, Seq("d", "cell"))
          .groupBy($"term", $"c").agg(min($"cc").as("est"))
          .select($"term", $"c".as("exact_count"), $"est".as("cms_est"),
            ($"est" - $"c").as("overcount"))
          .orderBy($"exact_count".desc, $"term")
      },
      Some("""WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        cnt AS (
          SELECT term, COUNT(*) AS c FROM tok
          WHERE length(term) > 0 GROUP BY term),
        cells AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' || term)
              >> 4) AS BIGINT) % 1024 AS cell,
            SUM(c) AS cc
          FROM cnt, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 20),
        est AS (
          SELECT t.term, t.c, MIN(cells.cc) AS est
          FROM top t, generate_series(0, 3) AS gs(d)
          JOIN cells ON cells.d = gs.d
           AND cells.cell = CAST((md5_number_upper(
              CAST(gs.d AS VARCHAR) || ':' || t.term) >> 4) AS BIGINT) % 1024
          GROUP BY t.term, t.c)
        SELECT term, CAST(c AS BIGINT) AS exact_count,
          CAST(est AS BIGINT) AS cms_est, CAST(est - c AS BIGINT) AS overcount
        FROM est ORDER BY exact_count DESC, term""")),

    // ---- CMS merge law: weekly counter cells FROM daily ≡ direct -----------
    // The frequency member of the merge-law triad (x_quantile_sketch_merge
    // = sum-merged histogram cells, x_hll_merge = max-merged registers,
    // this = sum-merged CMS counters): daily per-user event-count
    // sketches roll up to weeks by cell-wise addition, and the full
    // outer audit pins the merged cells EQUAL to a direct weekly sketch
    // (Σ over a partition of the data = count over the union). The
    // weekly top-3 heaviest users are then estimated FROM THE MERGED
    // CELLS (min over depths — the x_cms_heavy_hitters extraction) next
    // to their exact counts, overcount ≥ 0 by the CMS one-sided
    // guarantee. ONE cell hash with the batch gate and the streaming
    // store (sketchCell). At rest this is the ops dashboard shape:
    // per-day 4×1024-cell writes, any coarser window served by cell
    // addition, raw events never re-read.
    QueryDef(
      "x_cms_merge",
      (s, d) => {
        import s.implicits._
        val W = 1024
        def cellsOf(keyed: org.apache.spark.sql.DataFrame) = keyed
          .groupBy($"w", $"term").agg(count(lit(1)).as("c"))
          .select($"w", explode(sequence(lit(0), lit(3))).as("dep"),
            $"term", $"c")
          .select($"w", $"dep", sketchCell($"dep", $"term", W).as("cell"), $"c")
          .groupBy($"w", $"dep", $"cell").agg(sum($"c").as("cc"))
        val ev = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w"),
            $"user_id".cast("string").as("term"))
        val merged = cellsOf(ev)
          .groupBy(date_trunc("week", $"w").as("w"), $"dep", $"cell")
          .agg(sum($"cc").as("cc"))
        val direct = cellsOf(Tables.events(s, d)
          .select(date_trunc("week", $"ts").as("w"),
            $"user_id".cast("string").as("term")))
        val audit = merged.select($"w", $"dep", $"cell", $"cc".as("cc_m"))
          .join(direct.select($"w", $"dep", $"cell", $"cc".as("cc_d")),
            Seq("w", "dep", "cell"), "full")
          .groupBy($"w")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(!($"cc_m" <=> $"cc_d"), 1L).otherwise(0L))
              .as("n_mismatch"))
        val exact = Tables.events(s, d)
          .select(date_trunc("week", $"ts").as("w"),
            $"user_id".cast("string").as("term"))
          .groupBy($"w", $"term").agg(count(lit(1)).as("c"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy($"w").orderBy($"c".desc, $"term")
        val top = exact.withColumn("rn", row_number().over(wTop))
          .filter($"rn" <= 3)
        val est = top
          .select($"w", $"rn", $"term", $"c",
            explode(sequence(lit(0), lit(3))).as("dep"))
          .withColumn("cell", sketchCell($"dep", $"term", W))
          .join(merged, Seq("w", "dep", "cell"))
          .groupBy($"w", $"rn", $"term", $"c").agg(min($"cc").as("est"))
        est.join(audit, Seq("w"))
          .select($"w".as("w_start"), $"rn", $"term", $"c".as("exact_count"),
            $"est".as("cms_est"), ($"est" - $"c").as("overcount"),
            $"n_cells", $"n_mismatch",
            ($"n_mismatch" === 0).as("merge_exact"))
          .orderBy($"w_start", $"rn")
      },
      Some("""WITH evd AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w,
            CAST(user_id AS VARCHAR) AS term
          FROM events),
        evw AS (
          SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS w,
            CAST(user_id AS VARCHAR) AS term
          FROM events),
        dc AS (
          SELECT w, dep,
            CAST((md5_number_upper(CAST(dep AS VARCHAR) || ':' || term)
              >> 4) AS BIGINT) % 1024 AS cell,
            CAST(SUM(c) AS BIGINT) AS cc
          FROM (SELECT w, term, COUNT(*) AS c FROM evd GROUP BY w, term),
            generate_series(0, 3) AS gs(dep)
          GROUP BY w, dep, cell),
        merged AS (
          SELECT date_trunc('week', w) AS w, dep, cell,
            CAST(SUM(cc) AS BIGINT) AS cc
          FROM dc GROUP BY 1, 2, 3),
        direct AS (
          SELECT w, dep,
            CAST((md5_number_upper(CAST(dep AS VARCHAR) || ':' || term)
              >> 4) AS BIGINT) % 1024 AS cell,
            CAST(SUM(c) AS BIGINT) AS cc
          FROM (SELECT w, term, COUNT(*) AS c FROM evw GROUP BY w, term),
            generate_series(0, 3) AS gs(dep)
          GROUP BY w, dep, cell),
        audit AS (
          SELECT COALESCE(m.w, d.w) AS w, COUNT(*) AS n_cells,
            CAST(SUM(CASE WHEN m.cc IS DISTINCT FROM d.cc
              THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
          FROM merged m FULL JOIN direct d
            ON m.w = d.w AND m.dep = d.dep AND m.cell = d.cell
          GROUP BY 1),
        top AS (
          SELECT w, term, c, rn FROM (
            SELECT w, term, c, ROW_NUMBER() OVER (PARTITION BY w
              ORDER BY c DESC, term) AS rn
            FROM (SELECT w, term, COUNT(*) AS c FROM evw GROUP BY w, term))
          WHERE rn <= 3),
        est AS (
          SELECT t.w, t.rn, t.term, t.c, MIN(m.cc) AS est
          FROM top t, generate_series(0, 3) AS gs(dep)
          JOIN merged m ON m.w = t.w AND m.dep = gs.dep
           AND m.cell = CAST((md5_number_upper(
              CAST(gs.dep AS VARCHAR) || ':' || t.term) >> 4) AS BIGINT) % 1024
          GROUP BY t.w, t.rn, t.term, t.c)
        SELECT e.w AS w_start, CAST(e.rn AS INTEGER) AS rn, e.term,
          CAST(e.c AS BIGINT) AS exact_count,
          CAST(e.est AS BIGINT) AS cms_est,
          CAST(e.est - e.c AS BIGINT) AS overcount,
          CAST(a.n_cells AS BIGINT) AS n_cells,
          a.n_mismatch,
          (a.n_mismatch = 0) AS merge_exact
        FROM est e JOIN audit a USING (w)
        ORDER BY w_start, rn""")),

    // ---- Benchmark decontamination: n-gram overlap vs a held-out set -------
    // The REMOVAL direction of the eval-overlap family — the complement
    // of Text's x_span_contamination (which flags EVAL docs leaked into
    // an md5-split train set): here a fixed external benchmark (doc_id %
    // 17 = 0, closed-form) is the reference, and every RAW-POOL document
    // sharing a 5-token gram with it is flagged for removal before
    // training. The direction flips the scale shape: the benchmark gram
    // set is DISTINCT-collapsed and BROADCAST (an eval set stays tiny —
    // KBs — while the raw pool is the 100 TB side), so the contaminated
    // scan is one broadcast join keyed on the gram with no shuffle of
    // the corpus, where x_span_contamination's self-split form shuffles
    // spans. Distinct 5-gram shingles per doc via the
    // projected-attribute transform (O(tokens)); frac_contaminated uses
    // the d_ngram_jaccard round(...,6) double-division bridge.
    QueryDef(
      "x_decontamination",
      (s, d) => {
        import s.implicits._
        // ONE definition of "gram" with the streaming form (DeconStream).
        // CACHED: the benchmark branch and the raw branch both read it,
        // and the 5-gram construction dominates (r13 cache lesson)
        val sh = Tables.documents(s, d)
          .select($"doc_id",
            graft.ext.SpanDedup.distinctGrams($"text", 5).as("sh"))
          .filter(size($"sh") > 0)
          .cache()
        val bench = sh.filter($"doc_id" % 17 === 0)
          .select(explode($"sh").as("g")).distinct()
        sh.filter($"doc_id" % 17 =!= 0)
          .select($"doc_id", size($"sh").as("n_grams"), explode($"sh").as("g"))
          .join(broadcast(bench), "g")
          .groupBy($"doc_id", $"n_grams")
          .agg(count(lit(1)).as("n_shared"))
          .select($"doc_id", $"n_shared",
            round($"n_shared".cast("double") / $"n_grams", 6)
              .as("frac_contaminated"))
          .orderBy($"doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 4),
            i -> concat_ws(' ', string_split(text, ' ')[i],
              string_split(text, ' ')[i+1], string_split(text, ' ')[i+2],
              string_split(text, ' ')[i+3], string_split(text, ' ')[i+4]))) AS sh
          FROM documents WHERE len(string_split(text, ' ')) >= 5),
        bench AS (
          SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 17 = 0),
        raw AS (
          SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM sh
          WHERE doc_id % 17 <> 0)
        SELECT raw.doc_id, COUNT(*) AS n_shared,
          round(CAST(COUNT(*) AS DOUBLE) / n_grams, 6) AS frac_contaminated
        FROM raw JOIN bench ON raw.g = bench.g
        GROUP BY raw.doc_id, n_grams ORDER BY raw.doc_id""")),

    // ---- Fingerprint-pruned decontamination (two-stage candidate form) -----
    // r19 verdict item 5. Two-stage protocol (the r10 collapse-first
    // move, candidate-pruned): stage 1 detects CANDIDATE docs via winnow
    // fingerprints of the positional 5-gram md5 hashes (w=4 window
    // minima — 8-byte longs at the winnow rate, broadcast-semi-joined
    // against the benchmark's fingerprint set); stage 2 re-runs the
    // EXACT distinct-gram overlap only for candidates. APPROXIMATE at
    // the candidate stage by design: a doc sharing ≥ w+k−1 = 8
    // consecutive tokens with the benchmark is GUARANTEED a candidate
    // (winnow's coverage law); a doc sharing only an isolated 5-gram may
    // be missed — the exact gate stays the semantics anchor, and the
    // fingerprints are md5-deterministic so every emitted row (and the
    // n_shared/frac values, which come from the EXACT stage) is
    // hash-exact oracle data; pruned ⊆ exact with identical values,
    // spec-checked.
    //
    // WHEN THIS FORM PAYS — measured honestly (r20_curation_pruned):
    // at gate shapes it does NOT. The exact gate's overlap is a
    // broadcast probe (the eval set is KB-scale by contract), so its
    // corpus-side cost is one gram explode + a hash-map probe — clean
    // isolated walls read ≤ 2× per docs-decade (0.35/0.66/3.63 s at
    // 1×/10×/100×; r19's 6.40× sweep factor was all-query-session
    // noise, not an algorithmic cliff) — while stage 1 here pays an
    // md5 PER GRAM POSITION, which costs more than the probe it
    // prunes (3.46/7.17/~69 s). The candidate protocol is the path for
    // the regime the exact form cannot serve: a benchmark too large to
    // broadcast (cross-corpus overlap, corpus-vs-corpus decon), where
    // stage 2's gram join becomes a corpus-sized SHUFFLE unless the
    // candidate semi-join shrinks its left side first. Gated here so
    // the protocol itself (coverage law, subset-exactness, candidate
    // arithmetic) is hash-checked data at every SF.
    QueryDef(
      "x_decontamination_pruned",
      (s, d) => {
        import s.implicits._
        val w = 4
        val docs = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 5)
        val hashes = docs.select($"doc_id", transform(
          sequence(lit(1), greatest(size($"toks") - 4, lit(1))),
          i => shiftrightunsigned(graft.functions.Md5Hash64.md5_le64(
            concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1),
              element_at($"toks", i + 2), element_at($"toks", i + 3),
              element_at($"toks", i + 4))), 4)).as("h"))
        val fps = hashes.select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), greatest(size($"h") - w + 1, lit(1))),
            j => array_min(slice($"h", j, lit(w)))))).as("fp"))
          .localCheckpoint(true) // bench set + candidate probe both read it
        val benchFps = fps.filter($"doc_id" % 17 === 0)
          .select($"fp").distinct()
        val candidates = fps.filter($"doc_id" % 17 =!= 0)
          .join(broadcast(benchFps), Seq("fp"), "left_semi")
          .select($"doc_id").distinct()
        // stage 2: the exact gate's gram overlap, candidates only
        val sh = Tables.documents(s, d)
          .join(candidates, Seq("doc_id"), "left_semi")
          .select($"doc_id",
            graft.ext.SpanDedup.distinctGrams($"text", 5).as("sh"))
          .filter(size($"sh") > 0)
        val bench = Tables.documents(s, d).filter($"doc_id" % 17 === 0)
          .select(explode(graft.ext.SpanDedup.distinctGrams($"text", 5))
            .as("g")).distinct()
        sh.select($"doc_id", size($"sh").as("n_grams"), explode($"sh").as("g"))
          .join(broadcast(bench), "g")
          .groupBy($"doc_id", $"n_grams")
          .agg(count(lit(1)).as("n_shared"))
          .select($"doc_id", $"n_shared",
            round($"n_shared".cast("double") / $"n_grams", 6)
              .as("frac_contaminated"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 5),
        hs AS (
          SELECT doc_id, list_transform(
            generate_series(1, greatest(len(t) - 4, 1)),
            i -> CAST(md5_number_upper(concat_ws(' ',
              t[i], t[i+1], t[i+2], t[i+3], t[i+4])) >> 4 AS BIGINT)) AS h
          FROM toks),
        fps AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(h) - 4 + 1, 1)),
            j -> list_aggregate(h[j:j+3], 'min')))) AS fp
          FROM hs),
        bfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 17 = 0),
        cand AS (
          SELECT DISTINCT doc_id FROM fps
          WHERE doc_id % 17 <> 0 AND fp IN (SELECT fp FROM bfp)),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 4),
            i -> concat_ws(' ', string_split(text, ' ')[i],
              string_split(text, ' ')[i+1], string_split(text, ' ')[i+2],
              string_split(text, ' ')[i+3], string_split(text, ' ')[i+4])))
            AS sh
          FROM documents WHERE len(string_split(text, ' ')) >= 5),
        bench AS (
          SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 17 = 0),
        raw AS (
          SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM sh
          WHERE doc_id IN (SELECT doc_id FROM cand))
        SELECT raw.doc_id, COUNT(*) AS n_shared,
          round(CAST(COUNT(*) AS DOUBLE) / n_grams, 6) AS frac_contaminated
        FROM raw JOIN bench ON raw.g = bench.g
        GROUP BY raw.doc_id, n_grams ORDER BY raw.doc_id""")),

    // ---- Bloom-filter membership: fixed-footprint set sketch ---------------
    // The CMS pattern's sibling: an m=8192-cell, k=4 Bloom filter over
    // the distinct English vocabulary, built as pure relational algebra —
    // bits = DISTINCT (hash-fn, cell) rows via the md5 60-bit bridge, so
    // the sketch is partition-order-free and the report is HASH-EXACT
    // with driver-visible false positives. The one-sided guarantee (a
    // member term always hits all k cells) is spec-pinned over the WHOLE
    // vocabulary; the gate row probes the top-50 corpus terms. The bit
    // set is a fixed-size table regardless of corpus bytes (map-side
    // DISTINCT collapse), and probing is a broadcast join of k·probe
    // rows against it — the 100 TB shape for membership pre-filters.
    QueryDef(
      "x_bloom_membership",
      (s, d) => {
        import s.implicits._
        import graft.functions.Md5Hash64.md5_le64
        val m = 8192
        def cell(dep: org.apache.spark.sql.Column,
            term: org.apache.spark.sql.Column) = sketchCell(dep, term, m)
        val tok = Tables.documents(s, d)
          .select($"lang", explode(split($"text", " ")).as("term"))
          .filter(length($"term") > 0)
        val members = tok.filter($"lang" === "en").select($"term").distinct()
        val bits = members
          .select(explode(sequence(lit(0), lit(3))).as("d"), $"term")
          .select($"d", cell($"d", $"term").as("cell")).distinct()
        val probe = tok.groupBy($"term").agg(count(lit(1)).as("c"))
          .orderBy($"c".desc, $"term").limit(50)
        // every join builds on a bounded side: bits is ≤ 4·m rows by
        // construction (broadcast right of the left join), and in_set
        // comes from the ≤ |probe| members∩probe slice (leftsemi with
        // the 50-row probe as build side), not a vocab-sized join
        val probeMembers = members
          .join(broadcast(probe.select($"term")), Seq("term"), "leftsemi")
          .withColumn("in_set", lit(true))
        probe
          .select($"term", $"c", explode(sequence(lit(0), lit(3))).as("d"))
          .withColumn("cell", cell($"d", $"term"))
          .join(broadcast(bits.withColumn("b", lit(1))), Seq("d", "cell"), "left")
          .groupBy($"term", $"c").agg((count($"b") === 4).as("bloom_hit"))
          .join(broadcast(probeMembers), Seq("term"), "left")
          .select($"term", $"c".as("exact_count"),
            coalesce($"in_set", lit(false)).as("in_set"), $"bloom_hit",
            ($"bloom_hit" && !coalesce($"in_set", lit(false)))
              .as("false_positive"))
          .orderBy($"exact_count".desc, $"term")
      },
      Some("""WITH tok AS (
          SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        tokf AS (SELECT * FROM tok WHERE length(term) > 0),
        members AS (SELECT DISTINCT term FROM tokf WHERE lang = 'en'),
        bits AS (
          SELECT DISTINCT d, CAST((md5_number_upper(CAST(d AS VARCHAR)
              || ':' || term) >> 4) AS BIGINT) % 8192 AS cell
          FROM members, generate_series(0, 3) AS gs(d)),
        probe AS (
          SELECT term, COUNT(*) AS c FROM tokf GROUP BY term
          ORDER BY c DESC, term LIMIT 50),
        ph AS (
          SELECT p.term, p.c, COUNT(b.cell) AS nhit
          FROM probe p CROSS JOIN generate_series(0, 3) AS gs(d)
          LEFT JOIN bits b ON b.d = gs.d AND b.cell =
            CAST((md5_number_upper(CAST(gs.d AS VARCHAR) || ':' || p.term)
              >> 4) AS BIGINT) % 8192
          GROUP BY p.term, p.c)
        SELECT ph.term, CAST(ph.c AS BIGINT) AS exact_count,
          ph.term IN (SELECT term FROM members) AS in_set,
          ph.nhit = 4 AS bloom_hit,
          (ph.nhit = 4 AND ph.term NOT IN (SELECT term FROM members))
            AS false_positive
        FROM ph ORDER BY exact_count DESC, ph.term""")),

    // ---- Temperature-scaled source mixture (alpha-sampling) ---------------
    // The multilingual/multi-source training recipe: sample source s with
    // p_s ∝ (tokens_s)^alpha, alpha < 1 flattening the natural
    // distribution so low-resource sources are up-weighted (alpha = 0.7,
    // the mT5/XLM-R convention). x_source_mix samples BY fixed per-source
    // rates; this computes the rates themselves from the corpus. pow() is
    // the one transcendental: its result rounds into 1e-6 fixed point
    // (BIGINT) on both engines before any further arithmetic — the bm25
    // ln() trick. That SHRINKS but does not eliminate cross-engine risk:
    // JVM Math.pow and DuckDB's libm pow may differ by ulps, and if a
    // value lands within an ulp of a .5*1e-6 rounding boundary the fixed
    // point flips by 1 (data-dependent residual tie-boundary risk, same
    // class as bm25's ln; unobserved across sf0.001-sf0.1 and 10x).
    // One groupBy(source) + a broadcast 1-row total: two shuffles of
    // |sources| rows regardless of corpus size.
    QueryDef(
      "x_temperature_mix",
      (s, d) => {
        import s.implicits._
        val per = Tables.documents(s, d)
          .select($"source", size(split($"text", " ")).as("ntok"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
        // guardedRound (r13 verdict item 8): the residual ulp tie-boundary
        // risk documented above is now PINNED — a corpus whose pow() result
        // lands within 2 ulp of a .5e-6 boundary fails loudly with a named
        // error instead of a bare cross-engine hash mismatch
        val w = per.withColumn("w_fp",
          graft.functions.FixedPoint.guardedRound(
            pow($"n_tokens".cast("double"), lit(0.7)) * 1e6,
            "x_temperature_mix.w_fp"))
        w.crossJoin(broadcast(w.agg(
            sum($"w_fp").as("tot_w"), sum($"n_docs").as("tot_docs"))))
          .withColumn("p", round($"w_fp".cast("double") / $"tot_w", 6))
          .withColumn("expected_docs", round($"p" * $"tot_docs", 0).cast("long"))
          .select($"source", $"n_docs", $"n_tokens", $"w_fp", $"p",
            $"expected_docs")
          .orderBy($"source")
      },
      Some("""WITH per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        w AS (SELECT source, n_docs, n_tokens,
            CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1000000)
              AS BIGINT) AS w_fp
          FROM per),
        t AS (SELECT CAST(SUM(w_fp) AS BIGINT) AS tot_w,
            CAST(SUM(n_docs) AS BIGINT) AS tot_docs FROM w)
        SELECT w.source, w.n_docs, w.n_tokens, w.w_fp,
          round(CAST(w.w_fp AS DOUBLE) / t.tot_w, 6) AS p,
          CAST(round(round(CAST(w.w_fp AS DOUBLE) / t.tot_w, 6) * t.tot_docs)
            AS BIGINT) AS expected_docs
        FROM w, t ORDER BY w.source""")),

    // ---- Weighted sample without replacement (Efraimidis–Spirakis A-Res) --
    // Deterministic importance sampling: each doc gets priority u^(1/w)
    // (u = md5-uniform in (0,1], w = n_chars), and the k largest
    // priorities are the sample — longer docs proportionally likelier,
    // yet the whole draw is reproducible with no RNG state (the md5
    // bridge is the "randomness"). Selecting top-k by u^(1/w) is
    // equivalent to top-k by ln(u)/w, computed here as one fixed-point
    // long per row: round(ln(u)·1e12 / w). One narrow projection + a
    // TakeOrderedAndProject — no shuffle beyond the top-k; at 100 TB
    // this is a single scan with a k-row driver result. ln() is the one
    // cross-engine double op (JVM vs libm); the 1e12 fixed-point round
    // collapses ulp drift except within half an ulp of a .5 rounding
    // boundary — the same residual tie-boundary risk class as the
    // surprisal and bm25 rows, accepted for the gate.
    QueryDef(
      "x_weighted_sample",
      (s, d) => {
        import s.implicits._
        import graft.functions.Md5Hash64.md5_le64
        val h = shiftrightunsigned(md5_le64($"doc_id".cast("string")), 4)
        val u = (h.cast("double") + lit(1.0)) / lit(1152921504606846976.0)
        Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            round(log(u) * lit(1e12) / $"n_chars", 0).cast("long").as("key_fp"))
          .orderBy($"key_fp".desc, $"doc_id")
          .limit(50)
      },
      Some("""SELECT doc_id, n_chars,
          CAST(round(ln((CAST(md5_number_upper(CAST(doc_id AS VARCHAR)) >> 4
              AS BIGINT)::DOUBLE + 1.0) / 1152921504606846976.0)
            * 1000000000000.0 / n_chars) AS BIGINT) AS key_fp
        FROM documents
        ORDER BY key_fp DESC, doc_id LIMIT 50""")),

    // ---- Sampled corpus profiling (Horvitz-Thompson on documents) ---------
    // The A13 sampled-aggregation primitive promoted to the curation
    // surface (r16 verdict item 8): estimate the quality-flag rate and
    // the language mix of a corpus from the deterministic 1/16 Bernoulli
    // sample (first md5 hex nibble of doc_id == '0' — the x_hash_split /
    // x_sampled_agg convention, so both engines draw the IDENTICAL
    // sample), NEXT TO the exact arms, so the estimator's realized error
    // is driver-visible data. Both per-lang rates and the mix shares are
    // RATIO estimators (sampled flag count ÷ sampled doc count), which
    // is what a production profile runs: numerator and denominator come
    // from the same sample, so corpus-size bias cancels and only
    // sampling noise remains. The flag itself is a Gopher-style cheap
    // screen (short doc OR near-zero stopword ratio) — any per-row
    // deterministic predicate slots in. At 100 TB the exact arms are the
    // ones you delete: the nibble predicate pushes to the scan (or the
    // sample is persisted as its own partition and pruned), and the
    // whole profile costs 1/16th the corpus I/O in ONE map-side-combined
    // rollup. `bound_applicable` gates the 20-pp error check on
    // n_sampled ≥ 30 — the sf0.1 groups (41–131 sampled docs) all
    // constrain (realized ≤ 15.4 pp); the sf0.001/0.01 groups (2–21
    // samples) are exempt BY THE DATA'S OWN STATEMENT (their realized
    // errors, up to 37 pp at 7 samples, are exactly the small-sample
    // noise the estimator's variance predicts — published, not hidden).
    // in_bound is re-derived by the oracle from the same arithmetic.
    QueryDef(
      "x_sampled_profile",
      (s, d) => {
        import s.implicits._
        val stopIn = "('the','a','of','and','to','in','is','it')"
        val nToks = size(split($"text", " "))
        val t = Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"lang",
            when(substring(md5($"doc_id".cast("string")), 1, 1) === "0", 1L)
              .otherwise(0L).as("s"),
            when(nToks < 30 ||
              expr(s"size(filter(split(text, ' '), t -> t IN $stopIn))")
                .cast("double") / nToks < 0.05, 1L)
              .otherwise(0L).as("flag"))
        // grouping() (not lang IS NULL) identifies the ROLLUP total row,
        // so a genuine null-lang group can never be conflated with it;
        // such a group gets its own deterministic '(null)' label.
        val g = t.rollup($"lang")
          .agg(grouping($"lang").cast("int").as("g"),
            count(lit(1)).as("n_exact"), sum($"s").as("n_sampled"),
            sum($"flag").as("flag_exact"),
            sum($"s" * $"flag").as("flag_sampled"))
        val tot = g.filter($"g" === 1)
          .select($"n_exact".as("tot_n"), $"n_sampled".as("tot_s"))
        g.crossJoin(broadcast(tot))
          .select(when($"g" === 1, lit("*"))
            .when($"lang".isNull, lit("(null)"))
            .otherwise($"lang").as("lang"),
            $"n_exact", $"n_sampled", ($"n_sampled" * 16).as("n_est"),
            round($"n_exact".cast("double") * 100.0 / $"tot_n", 2)
              .as("share_exact_pct"),
            when($"tot_s" > 0,
              round($"n_sampled".cast("double") * 100.0 / $"tot_s", 2))
              .as("share_est_pct"),
            round($"flag_exact".cast("double") * 100.0 / $"n_exact", 2)
              .as("flag_rate_exact_pct"),
            when($"n_sampled" > 0,
              round($"flag_sampled".cast("double") * 100.0 / $"n_sampled", 2))
              .as("flag_rate_est_pct"))
          .withColumn("err_pp",
            round(abs($"flag_rate_est_pct" - $"flag_rate_exact_pct"), 2))
          .withColumn("bound_applicable", $"n_sampled" >= 30)
          .withColumn("in_bound", !$"bound_applicable" || $"err_pp" <= 20.0)
          .orderBy($"lang")
      },
      Some("""WITH t AS (
          SELECT lang,
            CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
              THEN 1 ELSE 0 END AS s,
            CASE WHEN len(string_split(text, ' ')) < 30
              OR CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','to','in','is','it')))
                   AS DOUBLE)
                 / len(string_split(text, ' ')) < 0.05
              THEN 1 ELSE 0 END AS flag
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT lang, GROUPING(lang) AS g, COUNT(*) AS n_exact,
            CAST(SUM(s) AS BIGINT) AS n_sampled,
            CAST(SUM(flag) AS BIGINT) AS flag_exact,
            CAST(SUM(s * flag) AS BIGINT) AS flag_sampled
          FROM t GROUP BY ROLLUP(lang)),
        tot AS (
          SELECT n_exact AS tot_n, n_sampled AS tot_s
          FROM g WHERE g = 1),
        p AS (
          SELECT CASE WHEN g = 1 THEN '*'
              WHEN lang IS NULL THEN '(null)'
              ELSE lang END AS lang, n_exact, n_sampled,
            CAST(n_sampled * 16 AS BIGINT) AS n_est,
            round(CAST(n_exact AS DOUBLE) * 100.0 / tot_n, 2)
              AS share_exact_pct,
            CASE WHEN tot_s > 0 THEN
              round(CAST(n_sampled AS DOUBLE) * 100.0 / tot_s, 2) END
              AS share_est_pct,
            round(CAST(flag_exact AS DOUBLE) * 100.0 / n_exact, 2)
              AS flag_rate_exact_pct,
            CASE WHEN n_sampled > 0 THEN
              round(CAST(flag_sampled AS DOUBLE) * 100.0 / n_sampled, 2) END
              AS flag_rate_est_pct
          FROM g, tot)
        SELECT lang, n_exact, n_sampled, n_est, share_exact_pct,
          share_est_pct, flag_rate_exact_pct, flag_rate_est_pct,
          round(abs(flag_rate_est_pct - flag_rate_exact_pct), 2) AS err_pp,
          n_sampled >= 30 AS bound_applicable,
          (NOT n_sampled >= 30) OR
            round(abs(flag_rate_est_pct - flag_rate_exact_pct), 2) <= 20.0
            AS in_bound
        FROM p ORDER BY lang""")),

    // ---- Join-size estimation from CMS inner products -----------------------
    // The pre-flight planning primitive x_skew_profile is missing: how
    // BIG is a join's output before you run it? |A ⋈ B on key| =
    // Σ_k cA(k)·cB(k) — exactly the inner product of the two key-count
    // vectors, which two Count-Min sketches estimate as
    // min over depth rows d of Σ_cell cmsA[d][cell]·cmsB[d][cell]
    // (AMS/CMS inner-product estimate; every collision term is
    // POSITIVE, so each depth row ≥ the truth and the min is one-sided:
    // overcount ≥ 0 ALWAYS — the gate asserts it). At 100 TB the
    // decision this feeds — broadcast vs shuffle vs salt, or refuse a
    // runaway cross-ish join — costs two 4×1024-cell sketches (one
    // map-side-combined pass per side, mergeable across shards/days by
    // cell addition like x_cms_merge), while the exact answer costs the
    // join itself. The gate runs both arms on a join with real
    // multiplicity on both sides (click-events ⋈ purchase-events on
    // user_id), same sketchCell hash as the whole CMS family, oracle
    // re-derives the sketches cell-for-cell in DuckDB. Expected error:
    // + F1(A)·F1(B)/w per depth row before the min — at w=1024 and
    // these side sizes the gate pins rel_err ≤ 25%, and the realized
    // error is published as data.
    QueryDef(
      "x_join_size_cms",
      (s, d) => {
        import s.implicits._
        val w = 1024
        val depths = explode(sequence(lit(0), lit(3))).as("d")
        def counts(t: String) = Tables.events(s, d)
          .filter($"event_type" === t)
          .groupBy($"user_id").agg(count(lit(1)).as("c"))
        def cells(cnt: org.apache.spark.sql.DataFrame) = cnt
          .select(depths, $"user_id", $"c")
          .select($"d", sketchCell($"d", $"user_id".cast("string"), w)
            .as("cell"), $"c")
          .groupBy($"d", $"cell").agg(sum($"c").as("cc"))
        val a = counts("click"); val b = counts("purchase")
        val exact = a.as("a").join(b.as("b"), "user_id")
          .agg(sum($"a.c" * $"b.c").as("exact_join_rows"))
        val est = cells(a).as("ca")
          .join(cells(b).as("cb"), Seq("d", "cell"))
          .groupBy($"d").agg(sum($"ca.cc" * $"cb.cc").as("ip"))
          .agg(min($"ip").as("cms_est"))
        val sizes = Tables.events(s, d)
          .agg(
            sum(when($"event_type" === "click", 1L).otherwise(0L))
              .as("n_a"),
            sum(when($"event_type" === "purchase", 1L).otherwise(0L))
              .as("n_b"))
        sizes.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
          .select($"n_a", $"n_b", $"exact_join_rows", $"cms_est",
            ($"cms_est" - $"exact_join_rows").as("overcount"),
            round(($"cms_est" - $"exact_join_rows").cast("double") * 100.0
              / $"exact_join_rows", 2).as("rel_err_pct"))
          .withColumn("one_sided", $"overcount" >= 0)
          .withColumn("in_bound", $"rel_err_pct" <= 25.0)
      },
      Some("""WITH a AS (
          SELECT user_id, COUNT(*) AS c FROM events
          WHERE event_type = 'click' GROUP BY user_id),
        b AS (
          SELECT user_id, COUNT(*) AS c FROM events
          WHERE event_type = 'purchase' GROUP BY user_id),
        ca AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT) % 1024 AS cell,
            SUM(c) AS cc
          FROM a, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        cb AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT) % 1024 AS cell,
            SUM(c) AS cc
          FROM b, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        exact AS (
          SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS exact_join_rows
          FROM a JOIN b USING (user_id)),
        est AS (
          SELECT CAST(MIN(ip) AS BIGINT) AS cms_est FROM (
            SELECT d, SUM(ca.cc * cb.cc) AS ip
            FROM ca JOIN cb USING (d, cell) GROUP BY d)),
        sizes AS (
          SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
          FROM events)
        SELECT n_a, n_b, exact_join_rows, cms_est,
          cms_est - exact_join_rows AS overcount,
          round(CAST(cms_est - exact_join_rows AS DOUBLE) * 100.0
            / exact_join_rows, 2) AS rel_err_pct,
          cms_est - exact_join_rows >= 0 AS one_sided,
          round(CAST(cms_est - exact_join_rows AS DOUBLE) * 100.0
            / exact_join_rows, 2) <= 25.0 AS in_bound
        FROM sizes, exact, est""")),

    // ---- Per-stratum top-k quality selection via graft_topk ----------------
    // The A14 aggregate put to curation work (r18): "keep the k
    // highest-quality documents per language" — the selection step a
    // training pipeline runs after scoring, and the shape where the
    // bounded-heap aggregate beats the window plan at scale (a stratum
    // is a giant group: the window plan sorts each language's whole
    // corpus on one partition; the aggregate moves k pairs per stratum
    // per map partition — r17_topkagg measured 3.9× at 100× in exactly
    // this regime). The quality score is deterministic pure-rational
    // arithmetic (stopword ratio − |n_toks − 200|/1000 length penalty —
    // no ln(), after r17's cross-engine ulp lesson), ties by doc_id;
    // the oracle is the row_number window formulation, so this gate
    // ALSO re-proves the aggregate ≡ window equivalence on real data
    // at every SF.
    QueryDef(
      "x_quality_topk_stratum",
      (s, d) => {
        import s.implicits._
        val stopIn = "('the','a','of','and','to','in','is','it')"
        val nToks = size(split($"text", " "))
        val q = round(
          expr(s"size(filter(split(text, ' '), t -> t IN $stopIn))")
            .cast("double") / nToks
            - abs(nToks - lit(200)).cast("double") / 1000.0, 6)
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"lang", $"doc_id", q.as("q"))
          .groupBy($"lang")
          .agg(graft.functions.TopKPairs.topk($"q", $"doc_id", 5).as("top"))
          .select($"lang", posexplode($"top"))
          .select($"lang", ($"pos" + 1).cast("long").as("rank"),
            $"col.id".as("doc_id"), $"col.score".as("quality"))
          .orderBy($"lang", $"rank")
      },
      Some("""WITH t AS (
          SELECT lang, doc_id,
            round(CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the','a','of','and','to','in','is','it')))
                AS DOUBLE) / len(string_split(text, ' '))
              - CAST(abs(len(string_split(text, ' ')) - 200) AS DOUBLE)
                / 1000.0, 6) AS q
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT lang, doc_id, q,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY q DESC, doc_id) AS rank
          FROM t)
        SELECT lang, rank, doc_id, q AS quality
        FROM r WHERE rank <= 5 ORDER BY lang, rank""")),

    // ---- Bloom semi-join pruning: the shuffle reducer for selective joins --
    // The x_bloom_membership sketch applied where it earns its keep at
    // 100 TB: before shuffling the BIG side of a selective join, probe
    // each row against a k=4, m=8192-cell Bloom built from the SMALL
    // side's DISTINCT keys — rows that miss any cell cannot join and
    // never enter the exchange. Here: clicks ⋈ purchases on user_id
    // (the x_join_size_cms join). The Bloom is one-sided (a member key
    // always hits all k cells), so the pruned join is LOSSLESS — the
    // gate asserts it as data (member_pass_rows == member_rows) next to
    // the realized scan reduction and the false-positive overhead, all
    // oracle-re-derived cell-for-cell. At scale the bit set is a fixed
    // ≤ 4·m-row broadcast regardless of corpus bytes (same md5 bridge
    // as the CMS family), the probe is a map-side filter, and the
    // numbers this gate publishes — scan_reduction vs fp overhead — are
    // exactly the decision inputs for whether to deploy the filter on a
    // given join (complementing x_join_size_cms, which prices the
    // join's OUTPUT; this prices its INPUT shuffle).
    QueryDef(
      "x_bloom_join_prune",
      (s, d) => {
        import s.implicits._
        val m = 8192
        def cell(dep: org.apache.spark.sql.Column,
            term: org.apache.spark.sql.Column) = sketchCell(dep, term, m)
        val ev = Tables.events(s, d)
        val clickCnt = ev.filter($"event_type" === "click")
          .groupBy($"user_id").agg(count(lit(1)).as("c"))
        // "high-value purchasers" — the selective small side that makes
        // pruning real on this corpus (~20% of users; an unfiltered
        // purchase side covers every click user and prunes nothing)
        val purch = ev.filter($"event_type" === "purchase" && $"value" >= 200)
          .select($"user_id").distinct()
        val bits = purch
          .select(explode(sequence(lit(0), lit(3))).as("d"), $"user_id")
          .select($"d", cell($"d", $"user_id".cast("string")).as("cell"))
          .distinct()
        val flags = clickCnt
          .select($"user_id", $"c",
            explode(sequence(lit(0), lit(3))).as("d"))
          .withColumn("cell", cell($"d", $"user_id".cast("string")))
          .join(broadcast(bits.withColumn("b", lit(1))),
            Seq("d", "cell"), "left")
          .groupBy($"user_id", $"c").agg((count($"b") === 4).as("pass"))
          .join(purch.withColumn("member", lit(true)), Seq("user_id"), "left")
          .withColumn("member", coalesce($"member", lit(false)))
        flags.agg(
            sum($"c").as("click_rows"),
            sum(when($"pass", $"c").otherwise(0L)).as("pass_rows"),
            sum(when($"member", $"c").otherwise(0L)).as("member_rows"),
            sum(when($"member" && $"pass", $"c").otherwise(0L))
              .as("member_pass_rows"),
            sum(when($"pass" && !$"member", $"c").otherwise(0L)).as("fp_rows"),
            sum(when(!$"member", 1L).otherwise(0L)).as("nonmember_users"),
            sum(when($"pass" && !$"member", 1L).otherwise(0L)).as("fp_users"))
          .select($"click_rows", $"pass_rows", $"member_rows", $"fp_rows",
            ($"member_pass_rows" === $"member_rows").as("lossless"),
            round(lit(100.0) * ($"click_rows" - $"pass_rows")
              / $"click_rows", 2).as("scan_reduction_pct"),
            when($"nonmember_users" > 0,
              round(lit(100.0) * $"fp_users" / $"nonmember_users", 2))
              .as("fp_user_rate_pct"))
      },
      Some("""WITH cc AS (
          SELECT user_id, COUNT(*) AS c FROM events
          WHERE event_type = 'click' GROUP BY user_id),
        p AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND value >= 200),
        bits AS (
          SELECT DISTINCT d, CAST((md5_number_upper(CAST(d AS VARCHAR)
              || ':' || CAST(user_id AS VARCHAR)) >> 4) AS BIGINT) % 8192
            AS cell
          FROM p, generate_series(0, 3) AS gs(d)),
        fl AS (
          SELECT cc.user_id, cc.c, COUNT(b.cell) = 4 AS pass,
            cc.user_id IN (SELECT user_id FROM p) AS member
          FROM cc CROSS JOIN generate_series(0, 3) AS gs(d)
          LEFT JOIN bits b ON b.d = gs.d AND b.cell =
            CAST((md5_number_upper(CAST(gs.d AS VARCHAR) || ':'
              || CAST(cc.user_id AS VARCHAR)) >> 4) AS BIGINT) % 8192
          GROUP BY cc.user_id, cc.c)
        SELECT CAST(SUM(c) AS BIGINT) AS click_rows,
          CAST(SUM(CASE WHEN pass THEN c ELSE 0 END) AS BIGINT) AS pass_rows,
          CAST(SUM(CASE WHEN member THEN c ELSE 0 END) AS BIGINT)
            AS member_rows,
          CAST(SUM(CASE WHEN pass AND NOT member THEN c ELSE 0 END)
            AS BIGINT) AS fp_rows,
          SUM(CASE WHEN member AND pass THEN c ELSE 0 END)
            = SUM(CASE WHEN member THEN c ELSE 0 END) AS lossless,
          round(100.0 * (SUM(c) - SUM(CASE WHEN pass THEN c ELSE 0 END))
            / SUM(c), 2) AS scan_reduction_pct,
          CASE WHEN SUM(CASE WHEN NOT member THEN 1 ELSE 0 END) > 0 THEN
            round(100.0 * SUM(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
              / SUM(CASE WHEN NOT member THEN 1 ELSE 0 END), 2) END
            AS fp_user_rate_pct
        FROM fl""")),

    // ---- Self-sizing join-size estimation: the r18_cms_autowidth probe
    // promoted to the gated surface. x_join_size_cms pins the fixed
    // w=1024 estimator; this gate pins the PROTOCOL a 100 TB planner
    // actually runs: pass 1 at w0=1024 → AMS-correct with the sketches'
    // own F1 moments (est_corr = est1 − n_a·n_b/w0, the expected
    // collision mass) → w_auto = smallest power of two in [2^10, 2^22]
    // ≥ n_a·n_b/(0.25·est_corr) → pass 2 at w_auto. Every step is
    // deterministic IEEE arithmetic (division/ceil only — no
    // transcendentals, so both engines compute the identical w_auto)
    // and the DuckDB arm re-derives BOTH sketches cell-for-cell plus
    // the width search itself (integer pow2 scan, not log2). At the
    // gate SFs the resize is REAL: sf0.1 sizes w_auto to 8192 where
    // 1024 saturates. The two driver-side collects are 1-row scalars
    // (est1 and the F1 pair) — the bounded pre-flight reads a planner
    // performs between passes, not data movement.
    QueryDef(
      "x_join_size_cms_auto",
      (s, d) => {
        import s.implicits._
        val w0 = 1024
        def counts(t: String) = Tables.events(s, d)
          .filter($"event_type" === t)
          .groupBy($"user_id").agg(count(lit(1)).as("c"))
        def cells(cnt: org.apache.spark.sql.DataFrame, w: Int) = cnt
          .select(explode(sequence(lit(0), lit(3))).as("d"),
            $"user_id", $"c")
          .select($"d", sketchCell($"d", $"user_id".cast("string"), w)
            .as("cell"), $"c")
          .groupBy($"d", $"cell").agg(sum($"c").as("cc"))
        def ip(w: Int) = cells(counts("click"), w).as("ca")
          .join(cells(counts("purchase"), w).as("cb"), Seq("d", "cell"))
          .groupBy($"d").agg(sum($"ca.cc" * $"cb.cc").as("ip"))
          .agg(min($"ip"))
        val est1 = ip(w0).head().getLong(0)
        val sizes = Tables.events(s, d)
          .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)),
            sum(when($"event_type" === "purchase", 1L).otherwise(0L)))
          .head()
        val nA = sizes.getLong(0); val nB = sizes.getLong(1)
        // identical IEEE arithmetic to the oracle: division + ceil only
        val estCorr = math.max(est1 - nA.toDouble * nB / w0, 1.0)
        val wNeed = math.ceil(nA.toDouble * nB / (0.25 * estCorr))
        val wAuto = (10 to 22).map(1 << _).find(_ >= wNeed).getOrElse(1 << 22)
        val a = counts("click"); val b = counts("purchase")
        val exact = a.as("a").join(b.as("b"), "user_id")
          .agg(sum($"a.c" * $"b.c").as("exact_join_rows"))
        val est2 = ip(wAuto).toDF("est_auto")
        exact.crossJoin(broadcast(est2))
          .select(lit(nA).as("n_a"), lit(nB).as("n_b"),
            $"exact_join_rows", lit(est1).as("est_w0"),
            lit(wAuto).cast("long").as("w_auto"), $"est_auto",
            ($"est_auto" - $"exact_join_rows").as("overcount"),
            round(($"est_auto" - $"exact_join_rows").cast("double") * 100.0
              / $"exact_join_rows", 2).as("rel_err_pct"))
          .withColumn("one_sided", $"overcount" >= 0)
          .withColumn("in_bound", $"rel_err_pct" <= 25.0)
      },
      Some("""WITH a AS (
          SELECT user_id, COUNT(*) AS c FROM events
          WHERE event_type = 'click' GROUP BY user_id),
        b AS (
          SELECT user_id, COUNT(*) AS c FROM events
          WHERE event_type = 'purchase' GROUP BY user_id),
        nn AS (
          SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM a) AS n_a,
            (SELECT CAST(SUM(c) AS BIGINT) FROM b) AS n_b),
        ca0 AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT) % 1024 AS cell,
            SUM(c) AS cc
          FROM a, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        cb0 AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT) % 1024 AS cell,
            SUM(c) AS cc
          FROM b, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        est1 AS (
          SELECT CAST(MIN(ip) AS BIGINT) AS est_w0 FROM (
            SELECT d, SUM(ca0.cc * cb0.cc) AS ip
            FROM ca0 JOIN cb0 USING (d, cell) GROUP BY d)),
        wa AS (
          SELECT CAST(MIN(p) AS BIGINT) AS w_auto FROM
            (SELECT CAST(1 AS BIGINT) << gs AS p
             FROM generate_series(10, 22) AS g(gs)) pw, est1, nn
          WHERE p >= ceil(CAST(n_a AS DOUBLE) * n_b / (0.25 *
            greatest(est_w0 - CAST(n_a AS DOUBLE) * n_b / 1024, 1.0)))),
        ca1 AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT)
              % (SELECT w_auto FROM wa) AS cell,
            SUM(c) AS cc
          FROM a, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        cb1 AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)) >> 4) AS BIGINT)
              % (SELECT w_auto FROM wa) AS cell,
            SUM(c) AS cc
          FROM b, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        est2 AS (
          SELECT CAST(MIN(ip) AS BIGINT) AS est_auto FROM (
            SELECT d, SUM(ca1.cc * cb1.cc) AS ip
            FROM ca1 JOIN cb1 USING (d, cell) GROUP BY d)),
        exact AS (
          SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS exact_join_rows
          FROM a JOIN b USING (user_id))
        SELECT n_a, n_b, exact_join_rows, est_w0, w_auto, est_auto,
          est_auto - exact_join_rows AS overcount,
          round(CAST(est_auto - exact_join_rows AS DOUBLE) * 100.0
            / exact_join_rows, 2) AS rel_err_pct,
          est_auto - exact_join_rows >= 0 AS one_sided,
          round(CAST(est_auto - exact_join_rows AS DOUBLE) * 100.0
            / exact_join_rows, 2) <= 25.0 AS in_bound
        FROM nn, est1, wa, est2, exact""")),

    // ---- Join pre-flight DECISION gate (r18 verdict item 5) ----------------
    // The toolkit's three sketches — key-count sizes + hot-key profile
    // (x_skew_profile's arithmetic), CMS output pricing (x_join_size_cms),
    // Bloom input pruning (x_bloom_join_prune) — composed into the
    // PLANNER PROTOCOL: one row per candidate join whose columns ARE the
    // decision vector, every input and every threshold re-derived by the
    // oracle from pure integer/ratio arithmetic. Published thresholds
    // (deliberately small so crossings are OBSERVABLE at gate corpora;
    // production sizes the first to executor memory):
    //   broadcast  iff n_small      <= 2,000 rows        (row proxy for
    //                                 autoBroadcastJoinThreshold)
    //   salt       iff not broadcast AND skew_fp >= 16e6 (hot >= 16x mean)
    //     with salt_n = clamp(ceil(hot / (2·mean)), 2, 32) — the bucket
    //     count that caps any sub-key at ~2x the mean reducer load
    //   shuffle    otherwise
    //   prefilter  iff not broadcast AND the Bloom of the small side's
    //     keys removes >= 30% of big-side rows — the map-side filter is
    //     only worth its probe cost when it prunes. The Bloom SIZES
    //     ITSELF the way x_join_size_cms_auto sizes its width: m_auto =
    //     smallest pow2 in [2^13, 2^24] >= 16·n_small_keys (k=4 ⇒ fp ≈
    //     (1−e^−0.25)^4 ≈ 0.2%), an integer pow2 scan the oracle
    //     re-derives; m_auto rides the output. The bit-set stays
    //     broadcastable at ANY m: its rows are the DISTINCT (d, cell)
    //     pairs, ≤ 4·n_small_keys regardless of width.
    //   out_blowup iff cms_est_corr > 10·(n_big + n_small) — the
    //     "review this join before running it" flag. The DECISION uses
    //     the AMS-corrected estimate (raw est minus the sketch's expected
    //     collision mass floor(n_big·n_small/w), computed via the exact
    //     overflow-safe split (n_big div w)·n_small +
    //     ((n_big mod w)·n_small) div w): the raw one-sided est saturates on
    //     high-cardinality uniform keys (the star family reads ~15×
    //     exact at sf0.1) and would flag every big CLEAN join — the same
    //     correction x_join_size_cms_auto sizes widths with. Both
    //     estimates are published; only est_corr decides.
    // Families chosen so decisions MOVE across the gate SFs (sf0.01:
    // all-broadcast except the skew family salts; sf0.1: the star join
    // crosses into shuffle) and flip again at 10x/100x (BENCH_SCALE
    // r19_preflight_decision): the selective clicks~hv-purchasers join stays
    // broadcast until its key set outgrows the limit, then gains a
    // prefilter whose auto-sized Bloom KEEPS paying at 100x (m_auto
    // grows 8192 → 2^19 with the key set, holding ~79% reduction where
    // a fixed m=8192 saturated to 7.8%); the skewed lineitem~orders
    // join salts at 13 buckets; the orders~customer star join is the
    // uniform shuffle baseline whose Bloom correctly prunes NOTHING at
    // ANY width (referential integrity ⇒ reduction 0 ⇒ prefilter false
    // — the gate proves the protocol declines a useless filter); the
    // fourth family (lineitem ⋈ high-value orders, ~50% selective)
    // crosses the broadcast limit BETWEEN sf0.001 and sf0.01, so the
    // prefilter-TRUE arm is oracle-checked at two gate SFs rather than
    // living only in the probe.
    QueryDef(
      "x_join_preflight_decision",
      (s, d) => {
        import s.implicits._
        // SHARED-SCAN protocol (r19 verdict item 2): the r19 form ran
        // TWO key-count corpus passes per family — 8 scans over
        // events/lineitem/orders/customer for the 4-family gate, the
        // dominant term at 10×/100×. A planner affords ONE pre-flight
        // pass per base table: each row explodes into its (family-side
        // tag, key) contributions and one map-side-combined groupBy
        // builds EVERY family's key-count vector over that table at
        // once, materialized once (localCheckpoint); the per-family
        // sides are then cheap filters over the tiny checkpointed
        // vector, never the corpus. Conditional contributions (the
        // hv-purchaser / big-order filters) enter as null struct
        // elements and are dropped; distinct-key sides (f1 small)
        // override c to 1 AFTER the groupBy (grouping already dedups).
        // scans-per-family = 1 (4 tables / 4 families; probed at 10× in
        // r20_preflight_sharedscan).
        def vec(rows: org.apache.spark.sql.DataFrame,
            contribs: org.apache.spark.sql.Column*) = rows
          .select(explode(array(contribs: _*)).as("t"))
          .filter($"t".isNotNull)
          .groupBy($"t.fam".as("fam"), $"t.k".as("k"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        def tag(fam: String, k: org.apache.spark.sql.Column) =
          struct(lit(fam).as("fam"), k.cast("string").as("k"))
        // r22 (guide §2.6 overlap independent jobs; r21 verdict item 1):
        // the four per-table vector builds and the four family rows are
        // mutually independent, but ran as 12 SERIAL driver actions
        // (4 checkpoints + 4 sizes heads + 4 bitmap collects — measured
        // 4.3 s of the 9.1 s 10× wall, 14.8 s of 27.2 s at 100×, BENCH_SCALE
        // r22_preflight_fix). A 4-thread pool submits them
        // concurrently so each job's tail back-fills the others' idle
        // cores; the frames, values and assembly order are unchanged —
        // only the job submission overlaps.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ecPool: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          import scala.concurrent.{Await, Future}
          val evVecF = Future(vec(Tables.events(s, d),
            when($"event_type" === "click", tag("f1b", $"user_id")),
            when($"event_type" === "purchase" && $"value" >= 200,
              tag("f1s", $"user_id")))
            .withColumn("c", when($"fam" === "f1s", lit(1L)).otherwise($"c")))
          val liVecF = Future(vec(Tables.lineitem(s, d),
            tag("f2b", when($"l_quantity" <= 25.0, lit(0L))
              .otherwise(pmod($"l_orderkey", lit(50L)) + lit(1L))),
            tag("f4b", $"l_orderkey")))
          val orVecF = Future(vec(Tables.orders(s, d),
            tag("f2s", pmod($"o_orderkey", lit(51L))),
            tag("f3b", $"o_custkey"),
            when($"o_totalprice" >= 250000.0, tag("f4s", $"o_orderkey"))))
          val cuVecF = Future(vec(Tables.customer(s, d),
            tag("f3s", $"c_custkey")))
          def side(v: org.apache.spark.sql.DataFrame, fam: String) =
            v.filter($"fam" === fam).select($"k", $"c")
          val rows = Seq(
            evVecF.map(ev => preflightRow(s, "clicks~hv_purchasers",
              side(ev, "f1b"), side(ev, "f1s"))),
            liVecF.zip(orVecF).map { case (li, or) =>
              preflightRow(s, "lineitem_skew~orders_mod51",
                side(li, "f2b"), side(or, "f2s")) },
            orVecF.zip(cuVecF).map { case (or, cu) =>
              preflightRow(s, "orders~customer",
                side(or, "f3b"), side(cu, "f3s")) },
            liVecF.zip(orVecF).map { case (li, or) =>
              preflightRow(s, "lineitem~big_orders",
                side(li, "f4b"), side(or, "f4s")) })
          Await.result(Future.sequence(rows),
              scala.concurrent.duration.Duration.Inf)
            .reduce(_.unionByName(_))
            .orderBy($"join_id")
        } finally pool.shutdown()
      },
      Some(preflightOracle)),

    // ---- KMV bounded-error set intersection --------------------------------
    // The remedy for x_hll_union's DOCUMENTED weakness: HLL intersection
    // via inclusion–exclusion has unbounded relative error when
    // |A∩B| ≪ |A∪B| (three estimates subtract). A K-Minimum-Values
    // sketch estimates the intersection DIRECTLY: keep the k smallest
    // md5 hashes of the union with per-set membership flags; the
    // sketch is a uniform sample of A∪B, so J_est = shared/k and
    // |A∪B|_est = (k−1)/U_(k) (U_(k) = the kth smallest hash
    // normalized to [0,1]) give |A∩B|_est = J_est·|A∪B|_est with error
    // RELATIVE to the answer (binomial on J ⊕ KMV on the union — both
    // ∝ 1/√k), never amplified by subtraction. k = 64 exercises BOTH
    // estimator branches across the gate SFs: at sf0.001 the union
    // (15 users) is smaller than k ⇒ the sketch IS the set and the
    // exact branch answers; at sf0.01/sf0.1 the sketch branch reads
    // 4.3%/13.0% realized intersection error (published as data,
    // bound 25%). The KMV MERGE LAW — KMV(A∪B) = k-smallest of
    // KMV(A) ∪ KMV(B), what makes the sketch shardable across
    // 1000 executors/days — is asserted AS DATA (merge_law_holds).
    // Scale shape: per-set sketches are k-row TakeOrdered aggregates
    // (never a global sort); the flags join is a distinct-user
    // equi-join; everything downstream is k-row bounded. 2^63 enters
    // as pow(2,63) — exact in IEEE on both engines.
    QueryDef(
      "x_kmv_intersection",
      (s, d) => {
        import s.implicits._
        import graft.functions.Md5Hash64.md5_le64
        val k = 64
        val ev = Tables.events(s, d)
        // r21 (guide §2.3/§2.4): the r20 form built the flagged key union
        // as DISTINCT(a) ⟗ DISTINCT(b) — two event scans and four
        // exchanges (two distinct aggs + the full-outer SMJ's two) just
        // to recover per-key bool_or flags. One filtered scan + one
        // map-side-combined groupBy computes the IDENTICAL relation
        // (user ∈ a∪b with membership flags) in ONE exchange: in_a/in_b
        // are max-of-boolean ≡ bool_or, exactly the x_kmv_onepass
        // oracle's `u` CTE. Plan: 5 Exchange → 1, 2 scans → 1
        // (plans/r21/x_kmv_intersection_{before,after}.txt).
        // r22 (r21 verdict item 5, the §1 residual): the two membership
        // flags ride the exchange PACKED into one tinyint — bit_or of
        // (a·2 | b) ≡ (bool_or(a), bool_or(b)) bit-exactly, and the
        // partial-agg UnsafeRow drops one 8-byte field slot (kmvgate
        // probe: union shuffle 5273 → 4101 KiB at 100×, −22%). Flags
        // unpack right after the aggregation, so the checkpointed
        // relation downstream is IDENTICAL to the r21 form.
        val uni = ev
          .filter($"event_type" === "click" ||
            ($"event_type" === "purchase" && $"value" >= 200))
          .select($"user_id",
            (when($"event_type" === "click", 2).otherwise(0) +
              when($"event_type" === "purchase", 1).otherwise(0))
              .cast("tinyint").as("f"))
          .groupBy($"user_id")
          .agg(bit_or($"f").as("f"))
          .select($"user_id",
            ($"f".bitwiseAND(2) =!= 0).as("in_a"),
            ($"f".bitwiseAND(1) =!= 0).as("in_b"),
            shiftrightunsigned(md5_le64($"user_id".cast("string")), 1)
              .as("h"))
          .localCheckpoint(true) // feeds sketch + exact arm + merge law
        // r21 (r20 verdict item 5): the estimator's sketch now rides the
        // one-pass graft_kmv aggregate (k-bounded per-partition buffers,
        // exchange = O(partitions × k)) instead of TakeOrdered over uni —
        // bit-identical by the x_kmv_onepass gate's pinned equivalence
        // (aggregate ≡ ORDER BY h, id LIMIT k over bool_or flags).
        val sk = uni
          .agg(graft.functions.KmvSketch.kmv(
            $"h", $"user_id", $"in_a", $"in_b", k).as("sks"))
          .select(explode($"sks").as("e"))
          .select($"e.id".as("user_id"), $"e.in_a".as("in_a"),
            $"e.in_b".as("in_b"), $"e.h".as("h"))
        // merge-law arm: per-set k-sketches, merged, re-cut to k
        val skAB = uni.filter($"in_a").orderBy($"h", $"user_id").limit(k)
          .select($"user_id")
          .union(uni.filter($"in_b").orderBy($"h", $"user_id").limit(k)
            .select($"user_id")).distinct()
        val merged = uni.join(skAB, Seq("user_id"), "left_semi")
          .orderBy($"h", $"user_id").limit(k)
        val agg = sk.agg(count(lit(1)).as("n_sketch"), max($"h").as("kth"),
          sum(when($"in_a" && $"in_b", 1L).otherwise(0L)).as("shared"))
        val mm = sk.select($"user_id")
          .join(merged.select($"user_id"), Seq("user_id"), "left_semi")
          .agg(count(lit(1)).as("n_merge_match"))
        val ex = uni.agg(
          sum(when($"in_a", 1L).otherwise(0L)).as("n_a_exact"),
          sum(when($"in_b", 1L).otherwise(0L)).as("n_b_exact"),
          count(lit(1)).as("union_exact"),
          sum(when($"in_a" && $"in_b", 1L).otherwise(0L)).as("inter_exact"))
        val uEst = when($"n_sketch" < k, $"n_sketch".cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ($"kth".cast("double") / pow(lit(2), lit(63))))
        agg.crossJoin(broadcast(ex)).crossJoin(broadcast(mm))
          .select($"n_a_exact", $"n_b_exact", $"union_exact", $"inter_exact",
            lit(k.toLong).as("kmv_k"), $"n_sketch", $"shared",
            round(uEst, 2).as("union_est"),
            round(when($"n_sketch" < k, $"shared".cast("double"))
              .otherwise($"shared" * uEst / k), 2).as("inter_est"),
            ($"n_merge_match" === $"n_sketch").as("merge_law_holds"))
          .withColumn("rel_err_pct",
            when($"inter_exact" > 0,
              round(($"inter_est" - $"inter_exact") * 100.0
                / $"inter_exact", 2)))
          .withColumn("in_bound",
            $"rel_err_pct".isNull || abs($"rel_err_pct") <= 25.0)
      },
      Some("""WITH a AS (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        b AS (
          SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND value >= 200),
        uni AS (
          SELECT COALESCE(a.user_id, b.user_id) AS user_id,
            a.user_id IS NOT NULL AS in_a, b.user_id IS NOT NULL AS in_b,
            (md5_number_upper(CAST(COALESCE(a.user_id, b.user_id)
              AS VARCHAR)) >> 1)::BIGINT AS h
          FROM a FULL OUTER JOIN b ON a.user_id = b.user_id),
        sk AS (SELECT * FROM uni ORDER BY h, user_id LIMIT 64),
        skab AS (
          SELECT DISTINCT user_id FROM (
            (SELECT user_id FROM uni WHERE in_a ORDER BY h, user_id LIMIT 64)
            UNION ALL
            (SELECT user_id FROM uni WHERE in_b ORDER BY h, user_id LIMIT 64))),
        merged AS (
          SELECT u.* FROM uni u JOIN skab USING (user_id)
          ORDER BY h, user_id LIMIT 64),
        agg AS (
          SELECT COUNT(*) AS n_sketch, MAX(h) AS kth,
            CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
              AS shared
          FROM sk),
        mm AS (
          SELECT COUNT(*) AS n_merge_match
          FROM sk JOIN merged USING (user_id)),
        ex AS (
          SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a_exact,
            CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b_exact,
            COUNT(*) AS union_exact,
            CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
              AS inter_exact
          FROM uni),
        est AS (
          SELECT *,
            CASE WHEN n_sketch < 64 THEN n_sketch::DOUBLE
              ELSE 63.0 / (kth::DOUBLE / CAST(POW(2, 63) AS DOUBLE)) END
              AS u_est_d
          FROM agg)
        SELECT n_a_exact, n_b_exact, union_exact, inter_exact,
          CAST(64 AS BIGINT) AS kmv_k, n_sketch, shared,
          round(u_est_d, 2) AS union_est,
          round(CASE WHEN n_sketch < 64 THEN shared::DOUBLE
            ELSE shared * u_est_d / 64 END, 2) AS inter_est,
          n_merge_match = n_sketch AS merge_law_holds,
          CASE WHEN inter_exact > 0 THEN
            round((round(CASE WHEN n_sketch < 64 THEN shared::DOUBLE
              ELSE shared * u_est_d / 64 END, 2) - inter_exact) * 100.0
              / inter_exact, 2) END AS rel_err_pct,
          (inter_exact = 0) OR abs(CASE WHEN inter_exact > 0 THEN
            round((round(CASE WHEN n_sketch < 64 THEN shared::DOUBLE
              ELSE shared * u_est_d / 64 END, 2) - inter_exact) * 100.0
              / inter_exact, 2) END) <= 25.0 AS in_bound
        FROM est, ex, mm""")),

    // ---- ONE-PASS distributed KMV — the 100 TB form of the sketch ----------
    // r19 verdict item 4: x_kmv_intersection's sketch is TakeOrdered-64
    // over the MATERIALIZED distinct key union — correct and flat at
    // 10×, but the distinct is a full key exchange. graft_kmv
    // (functions/KmvSketch, the TopKPairs bounded-heap pattern) computes
    // the identical sketch in ONE pass over RAW event rows: per-map-task
    // k-bounded buffers merged by the k-smallest law the intersection
    // gate asserts as data (exchange = O(partitions × k) sketch bytes,
    // no distinct anywhere — the plan's only exchange carries ≤ k
    // entries per map partition). Multiset semantics make the raw scan
    // legal: duplicate keys share (h, id), so the k-smallest set is
    // duplicate-invariant, and per-key membership flags OR inside the
    // buffer (a user clicking in one row and purchasing in another
    // carries both flags — exactly the oracle's bool_or). The gate
    // output IS the sketch — one row per retained entry, rank = position
    // in (h, id) order — so the oracle's ORDER BY h, id LIMIT 64 over
    // per-key bool_or flags re-derives every row bit-for-bit: hash
    // equality here IS the aggregate ≡ TakeOrdered equivalence.
    // Shuffle-bytes evidence at 10×: r20_kmv_onepass (BENCH_SCALE).
    QueryDef(
      "x_kmv_onepass",
      (s, d) => {
        import s.implicits._
        import graft.functions.Md5Hash64.md5_le64
        val k = 64
        val ev = Tables.events(s, d)
        val rows = ev
          .filter($"event_type" === "click" ||
            ($"event_type" === "purchase" && $"value" >= 200))
          .select($"user_id",
            ($"event_type" === "click").as("in_a"),
            ($"event_type" === "purchase").as("in_b"),
            shiftrightunsigned(md5_le64($"user_id".cast("string")), 1)
              .as("h"))
        rows
          .agg(graft.functions.KmvSketch.kmv(
            $"h", $"user_id", $"in_a", $"in_b", k).as("sk"))
          .select(posexplode($"sk").as(Seq("pos", "e")))
          .select(($"pos" + 1).cast("int").as("rank"),
            $"e.h".as("h"), $"e.id".as("user_id"),
            $"e.in_a".as("in_a"), $"e.in_b".as("in_b"))
          .orderBy($"rank")
      },
      Some("""WITH f AS (
          SELECT user_id,
            event_type = 'click' AS a,
            event_type = 'purchase' AND value >= 200 AS b
          FROM events
          WHERE event_type = 'click'
             OR (event_type = 'purchase' AND value >= 200)),
        u AS (
          SELECT user_id, bool_or(a) AS in_a, bool_or(b) AS in_b,
            (md5_number_upper(CAST(user_id AS VARCHAR)) >> 1)::BIGINT AS h
          FROM f GROUP BY user_id),
        sk AS (SELECT * FROM u ORDER BY h, user_id LIMIT 64)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, user_id) AS INTEGER)
            AS rank,
          h, user_id, in_a, in_b
        FROM sk ORDER BY rank""")))

  /** One pre-flight decision row for a candidate join: `big`/`small` are
    * the two sides' key-count vectors (k STRING, c BIGINT — since r20,
    * filtered slices of a SHARED per-base-table tagged vector built in
    * one map-side-combined pass per table; see the gate body). All
    * downstream frames are sketch-sized (1-row aggregates, a
    * ≤4·n_small_keys-row Bloom bit-set, 4×1024 CMS cells); at 100 TB
    * this is exactly the pre-flight read a planner affords before
    * committing to an exchange. Thresholds documented at the gate. */
  private def preflightRow(s: org.apache.spark.sql.SparkSession,
      joinId: String, big: org.apache.spark.sql.DataFrame,
      small: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val w = 1024
    // r21: no per-side re-checkpoint. The inputs are cheap row-filters
    // over the PARENT table vector, which the gate body already
    // checkpoints — a second localCheckpoint here duplicated every
    // family vector in block storage (at the 100× corpus the f4 pair
    // alone is ~22M rows, and the duplicate copies were a material part
    // of the heap pressure that OOMs that rung). Re-running a filter
    // over the checkpointed parent per consumer is a narrow in-memory
    // scan (guide §5: caching competes with execution memory).
    val bc = big
    val sc = small
    // ONE driver-side action per family (r19 verdict item 2): collect
    // the 1-row sizes aggregate over the vectors; its n_small_keys
    // sizes the Bloom (previously a separate count() action) and the
    // row re-enters the plan as literals (previously a second
    // aggregation job inside the output plan). sum/max are null only
    // for an empty side — re-entered as typed null literals so an
    // empty family's row is bit-identical to the pre-r20 aggregate.
    val szRow = bc
      .agg(sum($"c").as("n_big"), count(lit(1)).as("n_big_keys"),
        max($"c").as("hot"))
      .crossJoin(broadcast(sc.agg(sum($"c").as("n_small"),
        count(lit(1)).as("n_small_keys"))))
      .head()
    def litLong(i: Int) =
      if (szRow.isNullAt(i)) lit(null).cast("long") else lit(szRow.getLong(i))
    val nSmallKeys = szRow.getLong(4)
    val m = (13 to 24).map(1 << _).find(_ >= 16L * nSmallKeys)
      .getOrElse(1 << 24)
    val sizes = s.range(1).select(
      litLong(0).as("n_big"), litLong(1).as("n_big_keys"),
      litLong(2).as("hot"), litLong(3).as("n_small"),
      litLong(4).as("n_small_keys"))
    def cells(cnt: org.apache.spark.sql.DataFrame) = cnt
      .select(explode(sequence(lit(0), lit(3))).as("d"), $"k", $"c")
      .select($"d", sketchCell($"d", $"k", w).as("cell"), $"c")
      .groupBy($"d", $"cell").agg(sum($"c").as("cc"))
    val est = cells(bc).as("ca").join(cells(sc).as("cb"), Seq("d", "cell"))
      .groupBy($"d").agg(sum($"ca.cc" * $"cb.cc").as("ip"))
      .agg(min($"ip").as("cms_est_out"))
    // r21 (guide §3.2/§5; r20 verdict item 6): the Bloom pass-mass now
    // probes a REAL bitmap instead of joining a cell-set relation. The
    // r20 shape (explode 4×, broadcast-hash join against the distinct
    // (d, cell) rows, regroup by (k, c)) builds a hash relation of up to
    // 4·min(n_small_keys, m) entries — ~100 B/entry, which at the 100×
    // corpus (f4's ~15M cells) is a multi-GB broadcast build that OOMs
    // the 8g session (reproduced on the unmodified r20 code; broadcast
    // builds cannot spill where the regroup could). The same membership
    // set as a PACKED BITMAP is 4·m bits ≤ 8 MB by construction
    // (m ≤ 2²⁴): one map-side-combined bit_or aggregation packs the
    // small side's cells into ≤ 4m/64 words, the words collect to the
    // driver (bounded by m, the same class as the IVF-centroid
    // collects), and the probe is a pure per-row expression over an
    // array literal — getbit(word[dc div 64], dc mod 64) — for all four
    // depths at once. The pass arm loses its join, its 4× explode, AND
    // its (k, c) regroup exchange: one narrow scan of the checkpointed
    // vector into a 1-row aggregate, zero exchanges, zero joins
    // (plans/r21/x_join_preflight_decision_{before,after}.txt), and the
    // per-family broadcast footprint drops ~200× (hash relation → 8 MB
    // bitmap). bloom_pass_rows is bit-identical: d·m + cell is a
    // bijective packing of (d, cell) with cell < m, and bit_or over
    // duplicates ≡ the old distinct.
    val nWords = (4L * m / 64).toInt
    val wordRows = sc.select(explode(sequence(lit(0), lit(3))).as("d"), $"k")
      .select(($"d".cast("long") * m + sketchCell($"d", $"k", m)).as("dc"))
      .select(expr("cast(dc div 64 as int)").as("w"),
        expr("shiftleft(1L, cast(dc % 64 as int))").as("bit"))
      .groupBy($"w").agg(bit_or($"bit").as("word"))
      .collect()
    val bitmap = new Array[Long](nWords)
    wordRows.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    // r22 (r21 verdict item 1): primitive UnsafeArrayData literal. The
    // plain lit(bitmap) boxed the words, and every task java-deserialized
    // up to 1M boxed Longs from its closure — 26 s (10×) / 71 s (100×) of
    // measured executorDeserializeTime across the two large families, and
    // the allocation burst behind a flaky 100× executor OOM. Same Literal
    // plan node, same values; serialization is now one raw byte blob.
    val bmLit = org.apache.spark.sql.graft.CatalystBridge.longArrayLit(bitmap)
    def hitAt(dep: Int): org.apache.spark.sql.Column =
      expr(s"(shiftrightunsigned(word$dep, cast(dc$dep % 64 as int)) & 1)" +
        " = 1")
    val passRows = (0 until 4).foldLeft(bc.select($"k", $"c")) { (acc, dep) =>
        acc.withColumn(s"dc$dep",
            lit(dep.toLong * m) + sketchCell(lit(dep), $"k", m))
          .withColumn(s"word$dep",
            element_at(bmLit, expr(s"cast(dc$dep div 64 as int)") + 1))
      }
      .agg(sum(when((0 until 4).map(hitAt).reduce(_ && _), $"c")
        .otherwise(0L)).as("bloom_pass_rows"))
    sizes.crossJoin(broadcast(est)).crossJoin(broadcast(passRows))
      .select(lit(joinId).as("join_id"), $"n_big", $"n_small",
        $"n_big_keys", $"n_small_keys", $"hot",
        expr("(hot * n_big_keys * 1000000) div n_big").as("skew_fp"),
        $"cms_est_out", lit(m.toLong).as("m_auto"), $"bloom_pass_rows",
        round(lit(100.0) * ($"n_big" - $"bloom_pass_rows") / $"n_big", 2)
          .as("scan_reduction_pct"))
      .withColumn("strategy",
        when($"n_small" <= 2000L, lit("broadcast"))
          .when($"skew_fp" >= 16000000L, lit("salt"))
          .otherwise(lit("shuffle")))
      .withColumn("salt_n",
        when($"strategy" === "salt",
          expr("greatest(CAST(2 AS BIGINT), least(CAST(32 AS BIGINT), " +
            "(hot * n_big_keys + 2 * n_big - 1) div (2 * n_big)))"))
          .otherwise(lit(0L)))
      .withColumn("prefilter",
        $"strategy" =!= "broadcast" && $"scan_reduction_pct" >= 30.0)
      .withColumn("cms_est_corr",
        // overflow-safe form (ADVICE r19): subtract the DIVIDED collision
        // mass instead of computing cms_est_out*1024 (which overflows Long
        // once n_big*n_small nears 2^63 — in reach at 100 TB). The split
        // (n_big div w)*n_small + ((n_big mod w)*n_small) div w is EXACTLY
        // floor(n_big*n_small/w) for non-negative operands (write n_big =
        // w·q + r: q·n_small is integral, the remainder term carries the
        // floor), and keeps every intermediate ≤ n_big·n_small/1024 —
        // 1024× more Long headroom. Identical integer arithmetic on both
        // engines (floor div of non-negative values).
        expr("greatest(CAST(0 AS BIGINT), cms_est_out - " +
          "((n_big div 1024) * n_small + " +
          "((n_big % 1024) * n_small) div 1024))"))
      .withColumn("out_blowup",
        $"cms_est_corr" > lit(10L) * ($"n_big" + $"n_small"))
  }

  /** DuckDB twin of the three-family decision gate: the per-family CTE
    * block re-derives sizes, skew_fp, the 4×1024 CMS inner product, the
    * m=8192/k=4 Bloom pass mass, and the identical threshold arithmetic.
    * (lazy: `defs` above references this during object init — a plain
    * val here would still be null when the QueryDef captures it.) */
  private lazy val preflightOracle: String = {
    // (bigSql, smallSql) produce (k VARCHAR, c BIGINT) key-count vectors
    def family(i: Int, joinId: String, bigSql: String, smallSql: String) =
      s"""bc$i AS ($bigSql),
        sc$i AS ($smallSql),
        sz$i AS (
          SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM bc$i) AS n_big,
            (SELECT COUNT(*) FROM bc$i) AS n_big_keys,
            (SELECT CAST(MAX(c) AS BIGINT) FROM bc$i) AS hot,
            (SELECT CAST(SUM(c) AS BIGINT) FROM sc$i) AS n_small,
            (SELECT COUNT(*) FROM sc$i) AS n_small_keys),
        ca$i AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' || k)
              >> 4) AS BIGINT) % 1024 AS cell, SUM(c) AS cc
          FROM bc$i, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        cb$i AS (
          SELECT d, CAST((md5_number_upper(CAST(d AS VARCHAR) || ':' || k)
              >> 4) AS BIGINT) % 1024 AS cell, SUM(c) AS cc
          FROM sc$i, generate_series(0, 3) AS gs(d) GROUP BY d, cell),
        est$i AS (
          SELECT CAST(MIN(ip) AS BIGINT) AS cms_est_out FROM (
            SELECT d, SUM(ca$i.cc * cb$i.cc) AS ip
            FROM ca$i JOIN cb$i USING (d, cell) GROUP BY d)),
        ma$i AS (
          -- COALESCE mirrors the Spark arm's getOrElse(1 << 24): MIN over
          -- an empty set (small side > 2^20 distinct keys) must saturate
          -- to 2^24, not propagate NULL into bits/pr (ADVICE r19).
          SELECT CAST(COALESCE(MIN(p), CAST(1 AS BIGINT) << 24) AS BIGINT)
            AS m FROM
            (SELECT CAST(1 AS BIGINT) << gs AS p
             FROM generate_series(13, 24) AS g(gs)) pw
          WHERE p >= 16 * (SELECT COUNT(*) FROM sc$i)),
        bits$i AS (
          SELECT DISTINCT d, CAST((md5_number_upper(CAST(d AS VARCHAR)
              || ':' || k) >> 4) AS BIGINT) % (SELECT m FROM ma$i) AS cell
          FROM sc$i, generate_series(0, 3) AS gs(d)),
        pr$i AS (
          SELECT CAST(SUM(CASE WHEN nhit = 4 THEN c ELSE 0 END) AS BIGINT)
            AS bloom_pass_rows
          FROM (
            SELECT bc.k, bc.c, COUNT(b.cell) AS nhit
            FROM bc$i bc CROSS JOIN generate_series(0, 3) AS gs(d)
            LEFT JOIN bits$i b ON b.d = gs.d AND b.cell =
              CAST((md5_number_upper(CAST(gs.d AS VARCHAR) || ':' || bc.k)
                >> 4) AS BIGINT) % (SELECT m FROM ma$i)
            GROUP BY bc.k, bc.c)),
        row$i AS (
          SELECT '$joinId' AS join_id, n_big, n_small, n_big_keys,
            n_small_keys, hot,
            (hot * n_big_keys * 1000000) // n_big AS skew_fp,
            cms_est_out, (SELECT m FROM ma$i) AS m_auto, bloom_pass_rows,
            round(100.0 * (n_big - bloom_pass_rows) / n_big, 2)
              AS scan_reduction_pct
          FROM sz$i, est$i, pr$i)"""
    val f1 = family(1, "clicks~hv_purchasers",
      """SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c FROM events
          WHERE event_type = 'click' GROUP BY 1""",
      """SELECT CAST(user_id AS VARCHAR) AS k, CAST(1 AS BIGINT) AS c
          FROM (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value >= 200)""")
    val f2 = family(2, "lineitem_skew~orders_mod51",
      """SELECT CAST(CASE WHEN l_quantity <= 25 THEN 0
            ELSE (l_orderkey % 50) + 1 END AS VARCHAR) AS k,
          COUNT(*) AS c FROM lineitem GROUP BY 1""",
      """SELECT CAST(o_orderkey % 51 AS VARCHAR) AS k, COUNT(*) AS c
          FROM orders GROUP BY 1""")
    val f3 = family(3, "orders~customer",
      """SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS c
          FROM orders GROUP BY 1""",
      """SELECT CAST(c_custkey AS VARCHAR) AS k, COUNT(*) AS c
          FROM customer GROUP BY 1""")
    val f4 = family(4, "lineitem~big_orders",
      """SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS c
          FROM lineitem GROUP BY 1""",
      """SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS c
          FROM orders WHERE o_totalprice >= 250000 GROUP BY 1""")
    s"""WITH $f1,
        $f2,
        $f3,
        $f4,
        allrows AS (
          SELECT * FROM row1 UNION ALL
          SELECT * FROM row2 UNION ALL
          SELECT * FROM row3 UNION ALL
          SELECT * FROM row4)
        SELECT join_id, n_big, n_small, n_big_keys, n_small_keys, hot,
          skew_fp, cms_est_out, m_auto, bloom_pass_rows, scan_reduction_pct,
          CASE WHEN n_small <= 2000 THEN 'broadcast'
               WHEN skew_fp >= 16000000 THEN 'salt'
               ELSE 'shuffle' END AS strategy,
          CASE WHEN n_small > 2000 AND skew_fp >= 16000000 THEN
            greatest(2, least(32,
              (hot * n_big_keys + 2 * n_big - 1) // (2 * n_big)))
            ELSE 0 END AS salt_n,
          (n_small > 2000 AND scan_reduction_pct >= 30.0) AS prefilter,
          greatest(0, cms_est_out - ((n_big // 1024) * n_small
            + ((n_big % 1024) * n_small) // 1024)) AS cms_est_corr,
          greatest(0, cms_est_out - ((n_big // 1024) * n_small
            + ((n_big % 1024) * n_small) // 1024))
            > 10 * (n_big + n_small) AS out_blowup
        FROM allrows ORDER BY join_id"""
  }
}
