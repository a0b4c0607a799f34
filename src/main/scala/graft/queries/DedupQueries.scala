package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deduplication extension surface (SURVEY.md §2.9 I4/I5 + north-star):
  * exact dedup, content-hash dedup, n-gram Jaccard near-dup, MinHash-LSH,
  * SimHash.
  *
  * Scale notes: exact dedup is a hash shuffle on the key — the cheapest
  * possible form. Content dedup keys on md5(normalized text) so the shuffle
  * key is 16 bytes regardless of document size. Near-dup avoids the O(n²)
  * cross join: MinHash-LSH (graft.ext.MinHashDedup) buckets by signature band
  * and joins only within buckets; the brute-force Jaccard query here runs on
  * a fixed 60-doc subset purely as the oracle-checkable correctness anchor.
  */
object DedupQueries {

  /** 3-gram shingles (space-joined, distinct) as a SQL expression —
    * shared by the Jaccard query and MinHash (graft.ext).
    *
    * EVALUATION SHAPE MATTERS: this form inlines `split(text)` inside the
    * lambda, and interpreted HOFs re-evaluate that subtree per element —
    * O(tokens²) per document. Use [[shinglesOfToks]] over a PROJECTED
    * token-array column for anything beyond a bounded subset; this string
    * remains for oracle-anchor queries where the doc subset is small and
    * the SQL must mirror DuckDB's formulation.
    */
  private[graft] val shingleExpr: String =
    """array_distinct(transform(
         sequence(1, greatest(size(split(text, ' ')) - 2, 0)),
         i -> concat_ws(' ',
                element_at(split(text, ' '), i),
                element_at(split(text, ' '), i + 1),
                element_at(split(text, ' '), i + 2))))"""

  /** 3-gram shingles over an ALREADY-PROJECTED token-array column: `toks`
    * must be a plain attribute (e.g. `withColumn("toks", split(...))` in a
    * separate projection), so the per-element lambda only reads the bound
    * row value — O(tokens) per document instead of O(tokens²). ONE
    * definition, shared with MinHash, so the shingle grammar cannot drift
    * between the oracle anchors and the LSH path.
    */
  private[graft] def shinglesOfToks(toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.ext.MinHashDedup.shinglesOfToks(toks)

  val defs: Seq[QueryDef] = Seq(

    // ---- I4: exact dedup by key — doubled input collapses to original -----
    QueryDef(
      "d_exact_dedup",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        docs.unionAll(docs)
          .dropDuplicates("doc_id")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs FROM documents
        GROUP BY lang ORDER BY lang""")),

    // ---- Content-hash dedup summary ----------------------------------------
    QueryDef(
      "d_content_dedup",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"fp").as("n_unique"),
            (count(lit(1)) - countDistinct($"fp")).as("n_dups"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
        COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_unique,
        COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_dups
        FROM documents""")),

    // ---- N-gram Jaccard near-dup over a fixed subset (oracle anchor) -------
    QueryDef(
      "d_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        val sh = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter($"doc_id" < 60 && size($"toks") >= 3)
          .select($"doc_id", shinglesOfToks($"toks").as("sh"))
        val a = sh.select($"doc_id".as("a"), $"sh".as("sha"))
        val b = sh.select($"doc_id".as("b"), $"sh".as("shb"))
        a.join(broadcast(b), $"a" < $"b")
          .select($"a", $"b",
            round(size(array_intersect($"sha", $"shb")).cast("double") /
              size(array_union($"sha", $"shb")), 6).as("jaccard"))
          .filter($"jaccard" > 0)
          .orderBy($"jaccard".desc, $"a", $"b")
          .limit(100)
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS sh
          FROM documents
          WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3)
        SELECT a.doc_id AS a, b.doc_id AS b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) > 0
        ORDER BY jaccard DESC, a, b LIMIT 100""")),

    // ---- Near-dup pairs → duplicate clusters (connected components) --------
    // Edges: n-gram Jaccard ≥ 0.02 over a bounded doc subset (deterministic,
    // SQL-expressible); components via iterative min-label propagation
    // (graft.ext.DedupClusters); oracle = transitive closure by recursive
    // CTE. comp = canonical (min) doc_id per duplicate group.
    QueryDef(
      "d_dedup_clusters",
      (s, d) => {
        import s.implicits._
        val sh = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter($"doc_id" < 150 && size($"toks") >= 3)
          .select($"doc_id", shinglesOfToks($"toks").as("sh"))
          .cache() // computed column feeds a self-join — see Similarity notes
        val a = sh.select($"doc_id".as("a"), $"sh".as("sha"))
        val b = sh.select($"doc_id".as("b"), $"sh".as("shb"))
        val edges = a.join(broadcast(b), $"a" < $"b")
          .filter(round(size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")), 6) >= 0.02)
          .select($"a", $"b")
        val verts = sh.select($"doc_id".as("id"))
        graft.ext.DedupClusters.components(verts, edges)
          .select($"id".as("doc_id"), $"comp")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS sh
          FROM documents
          WHERE doc_id < 150 AND len(string_split(text, ' ')) >= 3),
        edges AS (
          SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
          WHERE a.doc_id <> b.doc_id
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.02),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM sh
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        SELECT src AS doc_id, MIN(dst) AS comp
        FROM reach GROUP BY src ORDER BY doc_id""")),

    // ---- I5: MinHash-LSH near-dup candidate pairs (HASH-EXACT oracle) ------
    // The md5-affine signature family (graft.functions.Md5MinHashSignature)
    // exists precisely so this oracle can re-derive the ENTIRE pipeline from
    // first principles in DuckDB: md5_number_upper/lower give the same
    // little-endian 64-bit digest reads as Md5Hash64.le64, the affine sweep
    // (a + i*b) mod 2^60 is exact in HUGEINT, and candidate semantics are
    // exact band-slice equality (the Spark side's murmur band_hash join is
    // only a pruning superset, removed by the slice-equality filter), so the
    // pair set and est_jaccard (count/32, a power of two — exact in double)
    // hash-match bit-for-bit.
    QueryDef(
      "d_minhash_pairs",
      (s, d) => graft.ext.MinHashDedup.candidatePairs(
        Tables.documents(s, d), numHashes = 32, bands = 8),
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id)
        SELECT c.a, c.b,
          CAST(len(list_filter(generate_series(1, 32),
            i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        ORDER BY est_jaccard DESC, a, b""")),

    // ---- I5 pipeline-order near-dup over the FULL corpus (HASH-EXACT, BENCH)
    // The collapse-first composition a production pipeline actually runs:
    // exact-collapse to min-id representatives, banded LSH over reps only.
    // Pair enumeration over the raw corpus is quadratic in clone-group size
    // by contract (r9 100x: 79.2s of the 119.1s bench total was raw pair
    // listing on a cloned corpus), so THIS leg carries the bench flag from
    // r10 on — d_minhash_pairs stays as the raw gate row, un-benched. The
    // bench trend now tracks the pipeline-order path at every corpus.
    QueryDef(
      "d_minhash_pipeline",
      (s, d) => graft.ext.MinHashDedup.candidatePairsCollapsed(
        Tables.documents(s, d), numHashes = 32, bands = 8)._1,
      Some("""WITH reps AS (
          SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM reps
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id)
        SELECT c.a, c.b,
          CAST(len(list_filter(generate_series(1, 32),
            i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        ORDER BY est_jaccard DESC, a, b"""),
      bench = true),

    // ---- I5 INCREMENTAL near-dup — NearDupStream's semantics gated ---------
    // The continuous-dedup shape r18_neardup_incremental measured (1.75 s
    // per 1% arrival vs 8.88 s batch re-dedup at distinct-500k), promoted
    // from probe+spec to a hash-exact oracle row: documents split into two
    // arrival waves by the md5 nibble of doc_id (both engines draw the
    // identical split), wave 0 processed as one micro-batch (greedy
    // in-wave bucket winners, kept docs register bands), wave 1 processed
    // against wave 0's band store PLUS its own in-wave winners — exactly
    // NearDupStream.processBanded's per-epoch body in batch form
    // (MinHashDedup.incrementalKeeps; the IncrementalDedupSpec pins the
    // two forms row-identical on a clone-planted corpus). The output is
    // the per-doc AUDIT — hit_batch / hit_store / kept — so the oracle
    // re-derives not just the keep-set but the suppression REASON for
    // every document from the md5-affine signature family.
    QueryDef(
      "d_minhash_incremental",
      (s, d) => {
        import s.implicits._
        val wave = when(substring(md5($"doc_id".cast("string")), 1, 1)
          .between("0", "7"), 0).otherwise(1)
        graft.ext.MinHashDedup.incrementalKeeps(
          Tables.documents(s, d), wave, waves = Seq(0, 1),
          numHashes = 32, bands = 8)
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        wv AS (
          SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              BETWEEN '0' AND '7' THEN 0 ELSE 1 END AS wave
          FROM documents),
        banded AS (
          SELECT s.doc_id, w.wave, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig s JOIN wv w USING (doc_id),
            (SELECT unnest(generate_series(0, 7)) AS k) k),
        hitb AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY wave, band_idx, band_key) AS mn
            FROM banded) WHERE doc_id > mn),
        store0 AS (
          SELECT DISTINCT band_idx, band_key FROM banded
          WHERE wave = 0 AND doc_id NOT IN (SELECT doc_id FROM hitb)),
        hits AS (
          SELECT DISTINCT b.doc_id FROM banded b
          JOIN store0 st ON b.band_idx = st.band_idx
            AND b.band_key = st.band_key
          WHERE b.wave = 1)
        SELECT w.doc_id, w.wave,
          (hb.doc_id IS NOT NULL) AS hit_batch,
          (hs.doc_id IS NOT NULL) AS hit_store,
          (hb.doc_id IS NULL AND hs.doc_id IS NULL) AS kept
        FROM wv w
        LEFT JOIN hitb hb ON w.doc_id = hb.doc_id
        LEFT JOIN hits hs ON w.doc_id = hs.doc_id
        ORDER BY w.doc_id""")),

    // ---- I5 TTL'd incremental near-dup — the RE-ENTRY consequence as data --
    // r19 verdict item 6: NearDupStream.compactStore's retention horizon
    // trades bounded store size for a stated consequence — a document
    // that near-duplicates something seen BEFORE the horizon re-enters
    // the kept stream — which was spec-pinned (NearDupStreamSpec) but
    // absent from the hash-exact surface. Here: THREE arrival waves
    // (md5-nibble split both engines draw identically), the band store
    // compacted between waves at ttlEpochs = 1 (before wave 2 the
    // horizon drops wave 0's registrations — compactSeen keeps ids
    // STRICTLY greater than newest − ttl), and the output carries
    // `reentered` = kept-but-matches-a-forgotten-registration, the
    // trade itself as an oracle-re-derived column. Scale shape
    // unchanged from d_minhash_incremental (band-keyed equi-joins, the
    // store bounded by ≤ ttl waves of canonicals — the POINT of the
    // horizon at 100 TB: the store probe join stays sized to the
    // retention window, not to all history).
    QueryDef(
      "d_minhash_ttl_reentry",
      (s, d) => {
        import s.implicits._
        val nib = substring(md5($"doc_id".cast("string")), 1, 1)
        val wave = when(nib.between("0", "4"), 0)
          .when(nib.between("5", "9"), 1).otherwise(2)
        graft.ext.MinHashDedup.incrementalKeepsTtl(
          Tables.documents(s, d), wave, waves = Seq(0, 1, 2), ttlEpochs = 1,
          numHashes = 32, bands = 8)
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        wv AS (
          SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                BETWEEN '0' AND '4' THEN 0
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                BETWEEN '5' AND '9' THEN 1
              ELSE 2 END AS wave
          FROM documents),
        banded AS (
          SELECT s.doc_id, w.wave, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig s JOIN wv w USING (doc_id),
            (SELECT unnest(generate_series(0, 7)) AS k) k),
        hitb AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY wave, band_idx, band_key) AS mn
            FROM banded) WHERE doc_id > mn),
        store0 AS (
          SELECT DISTINCT band_idx, band_key FROM banded
          WHERE wave = 0 AND doc_id NOT IN (SELECT doc_id FROM hitb)),
        hits1 AS (
          SELECT DISTINCT b.doc_id FROM banded b
          JOIN store0 st ON b.band_idx = st.band_idx
            AND b.band_key = st.band_key
          WHERE b.wave = 1),
        store1 AS (
          SELECT DISTINCT band_idx, band_key FROM banded
          WHERE wave = 1 AND doc_id NOT IN (SELECT doc_id FROM hitb)
            AND doc_id NOT IN (SELECT doc_id FROM hits1)),
        hits2v AS (
          SELECT DISTINCT b.doc_id FROM banded b
          JOIN store1 st ON b.band_idx = st.band_idx
            AND b.band_key = st.band_key
          WHERE b.wave = 2),
        hits2f AS (
          SELECT DISTINCT b.doc_id FROM banded b
          JOIN store0 st ON b.band_idx = st.band_idx
            AND b.band_key = st.band_key
          WHERE b.wave = 2),
        hitstore AS (
          SELECT doc_id FROM hits1 UNION SELECT doc_id FROM hits2v)
        SELECT w.doc_id, w.wave,
          (hb.doc_id IS NOT NULL) AS hit_batch,
          (hs.doc_id IS NOT NULL) AS hit_store,
          (hb.doc_id IS NULL AND hs.doc_id IS NULL) AS kept,
          (hb.doc_id IS NULL AND hs.doc_id IS NULL
            AND hf.doc_id IS NOT NULL) AS reentered
        FROM wv w
        LEFT JOIN hitb hb ON w.doc_id = hb.doc_id
        LEFT JOIN hitstore hs ON w.doc_id = hs.doc_id
        LEFT JOIN hits2f hf ON w.doc_id = hf.doc_id
        ORDER BY w.doc_id""")),

    // ---- SimHash INCREMENTAL near-dup — the second streaming family gated --
    // NearDupStream.runSimHash's semantics in batch form: the same
    // wave/store/audit contract as d_minhash_incremental (see
    // IncrementalDedup.keepsBanded) under 4x16-bit SimHash banding —
    // pigeonhole guarantees hamming <= 3 near-dups share a band, every
    // tokenizable doc fingerprints (no shingle minimum), and the oracle
    // re-derives fingerprints bit-for-bit from per-token
    // md5_number_upper votes (the d_simhash derivation, corpus-wide)
    // before replaying the greedy-winner + store fold in SQL.
    QueryDef(
      "d_simhash_incremental",
      (s, d) => {
        import s.implicits._
        val wave = when(substring(md5($"doc_id".cast("string")), 1, 1)
          .between("0", "7"), 0).otherwise(1)
        graft.ext.IncrementalDedup.incrementalKeepsSimHash(
          Tables.documents(s, d), wave, waves = Seq(0, 1))
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents),
        votes AS (
          SELECT doc_id, b.b AS b,
            SUM(CASE WHEN (md5_number_upper(t) >> b.b) & 1 = 1
                THEN 1 ELSE -1 END) AS v
          FROM tok, (SELECT unnest(generate_series(0, 63)) AS b) b
          GROUP BY doc_id, b.b),
        fp AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN v > 0 AND b < 63 THEN (1::BIGINT << b)
                     WHEN v > 0 AND b = 63 THEN -9223372036854775808
                     ELSE 0 END) AS BIGINT) AS fp
          FROM votes GROUP BY doc_id),
        wv AS (
          SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              BETWEEN '0' AND '7' THEN 0 ELSE 1 END AS wave
          FROM documents),
        banded AS (
          SELECT f.doc_id, w.wave, k.k AS band_idx,
            CAST((f.fp >> (k.k * 16)) & 65535 AS VARCHAR) AS band_key
          FROM fp f JOIN wv w USING (doc_id),
            (SELECT unnest(generate_series(0, 3)) AS k) k),
        hitb AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY wave, band_idx, band_key) AS mn
            FROM banded) WHERE doc_id > mn),
        store0 AS (
          SELECT DISTINCT band_idx, band_key FROM banded
          WHERE wave = 0 AND doc_id NOT IN (SELECT doc_id FROM hitb)),
        hits AS (
          SELECT DISTINCT b.doc_id FROM banded b
          JOIN store0 st ON b.band_idx = st.band_idx
            AND b.band_key = st.band_key
          WHERE b.wave = 1)
        SELECT w.doc_id, w.wave,
          (hb.doc_id IS NOT NULL) AS hit_batch,
          (hs.doc_id IS NOT NULL) AS hit_store,
          (hb.doc_id IS NULL AND hs.doc_id IS NULL) AS kept
        FROM wv w
        LEFT JOIN hitb hb ON w.doc_id = hb.doc_id
        LEFT JOIN hits hs ON w.doc_id = hs.doc_id
        ORDER BY w.doc_id""")),

    // ---- EXACT incremental dedup — DedupStream's semantics gated -----------
    // The third streaming dedup family in batch form: exact content
    // identity is the degenerate banding (ONE band per doc, key =
    // md5(text) — the oracle-recomputable twin of the stream's xxhash64
    // store key; suppression is pure key equality so kept-sets agree
    // whichever injective content hash keys the store). Same wave/store/
    // audit contract through IncrementalDedup.keepsBanded; for exact
    // dedup, kept-only registration loses nothing (a suppressed doc's
    // key IS its keeper's key). IncrementalDedupSpec pins the batch form
    // against the real DedupStream.processBatch body.
    QueryDef(
      "d_exact_incremental",
      (s, d) => {
        import s.implicits._
        val wave = when(substring(md5($"doc_id".cast("string")), 1, 1)
          .between("0", "7"), 0).otherwise(1)
        graft.ext.IncrementalDedup.keepsBanded(
          Tables.documents(s, d), wave, waves = Seq(0, 1)) { labeled =>
          labeled.select($"doc_id", $"wave",
            lit(0).as("band_idx"), md5($"text").as("band_key"))
        }
      },
      Some("""WITH wv AS (
          SELECT doc_id, md5(text) AS k,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              BETWEEN '0' AND '7' THEN 0 ELSE 1 END AS wave
          FROM documents),
        hitb AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY wave, k) AS mn
            FROM wv) WHERE doc_id > mn),
        store0 AS (
          SELECT DISTINCT k FROM wv
          WHERE wave = 0 AND doc_id NOT IN (SELECT doc_id FROM hitb)),
        hits AS (
          SELECT DISTINCT w.doc_id FROM wv w JOIN store0 st ON w.k = st.k
          WHERE w.wave = 1)
        SELECT w.doc_id, w.wave,
          (hb.doc_id IS NOT NULL) AS hit_batch,
          (hs.doc_id IS NOT NULL) AS hit_store,
          (hb.doc_id IS NULL AND hs.doc_id IS NULL) AS kept
        FROM wv w
        LEFT JOIN hitb hb ON w.doc_id = hb.doc_id
        LEFT JOIN hits hs ON w.doc_id = hs.doc_id
        ORDER BY w.doc_id""")),

    // ---- SEMANTIC incremental dedup — SemDedupStream's semantics gated -----
    // The fourth and last streaming dedup family in batch form
    // (SemDedup.incrementalSemDedup scaladoc): the quantizer seeds once
    // from the full corpus (md5-ordered, lloydIters = 0 — the batch
    // analogue of the stream's offline bootstrap codebook), in-wave
    // suppression is the pure-pair rule, cross-wave compares only KEPT
    // earlier vectors cluster-locally with round(cos, 4) >= tau. The
    // oracle re-derives seeds, assignment, and both suppression arms —
    // every audit flag — from the embeddings alone.
    QueryDef(
      "d_semdedup_incremental",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("ev"))
        val wave = when(substring(md5($"vec_id".cast("string")), 1, 1)
          .between("0", "7"), 0).otherwise(1)
        graft.ext.SemDedup.incrementalSemDedup(
          e, wave, waves = Seq(0, 1), nCentroids = 8, tau = 0.35)
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
        wv AS (
          SELECT a.vec_id, a.cluster,
            CASE WHEN substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1)
              BETWEEN '0' AND '7' THEN 0 ELSE 1 END AS wave
          FROM assign a),
        hitb AS (
          SELECT DISTINCT x.vec_id
          FROM wv x JOIN wv y
            ON x.cluster = y.cluster AND x.wave = y.wave
              AND y.vec_id < x.vec_id
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35),
        kept0 AS (
          SELECT w.vec_id, w.cluster FROM wv w
          WHERE w.wave = 0 AND w.vec_id NOT IN (SELECT vec_id FROM hitb)),
        hits AS (
          SELECT DISTINCT x.vec_id
          FROM wv x JOIN kept0 y ON x.cluster = y.cluster
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE x.wave = 1
            AND round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35)
        SELECT w.vec_id, w.wave, w.cluster,
          (hb.vec_id IS NOT NULL) AS hit_batch,
          (hs.vec_id IS NOT NULL) AS hit_store,
          (hb.vec_id IS NULL AND hs.vec_id IS NULL) AS kept
        FROM wv w
        LEFT JOIN hitb hb ON w.vec_id = hb.vec_id
        LEFT JOIN hits hs ON w.vec_id = hs.vec_id
        ORDER BY w.vec_id""")),

    // ---- AUTO-K incremental semantic dedup (r18 verdict item 2) ------------
    // The fixed-k gate above pins the fold's SEMANTICS; this one pins its
    // SIZING RULE: k = max(8, ceil(n / targetClusterSize)) — the remedy
    // for the fixed-k quadratic cliff (229 s at the 100× corpus vs 30.4 s
    // under k ∝ n), now the incremental path's own overload rather than a
    // probe-only parameter. targetClusterSize = 50 so the DERIVED k
    // differs from the fixed gate's 8 at every SF (500 vecs → k = 10,
    // 2000 → 40) — a regression in the ceil-division or the max-floor
    // moves cluster ids on every row. The k_auto output column makes the
    // derivation itself hash-checked data; the oracle re-derives it with
    // the same integer arithmetic and sizes its seed LIMIT from it.
    QueryDef(
      "d_semdedup_incremental_auto",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("ev"))
        val wave = when(substring(md5($"vec_id".cast("string")), 1, 1)
          .between("0", "7"), 0).otherwise(1)
        graft.ext.SemDedup.incrementalSemDedup(
          e, wave, waves = Seq(0, 1), tau = 0.35, targetClusterSize = 50)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ka AS (
          SELECT greatest(8, (count(*) + 49) // 50) AS k FROM e),
        seeds AS (
          SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) - 1 AS cluster
          FROM (SELECT vec_id, ev,
                  (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                FROM e ORDER BY hk, vec_id LIMIT (SELECT k FROM ka))),
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
        wv AS (
          SELECT a.vec_id, a.cluster,
            CASE WHEN substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1)
              BETWEEN '0' AND '7' THEN 0 ELSE 1 END AS wave
          FROM assign a),
        hitb AS (
          SELECT DISTINCT x.vec_id
          FROM wv x JOIN wv y
            ON x.cluster = y.cluster AND x.wave = y.wave
              AND y.vec_id < x.vec_id
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35),
        kept0 AS (
          SELECT w.vec_id, w.cluster FROM wv w
          WHERE w.wave = 0 AND w.vec_id NOT IN (SELECT vec_id FROM hitb)),
        hits AS (
          SELECT DISTINCT x.vec_id
          FROM wv x JOIN kept0 y ON x.cluster = y.cluster
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE x.wave = 1
            AND round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35)
        SELECT w.vec_id, w.wave, w.cluster,
          (hb.vec_id IS NOT NULL) AS hit_batch,
          (hs.vec_id IS NOT NULL) AS hit_store,
          (hb.vec_id IS NULL AND hs.vec_id IS NULL) AS kept,
          (SELECT k FROM ka) AS k_auto
        FROM wv w
        LEFT JOIN hitb hb ON w.vec_id = hb.vec_id
        LEFT JOIN hits hs ON w.vec_id = hs.vec_id
        ORDER BY w.vec_id""")),

    // ---- I5 collapse-first near-dup (HASH-EXACT oracle) --------------------
    // Gates MinHashDedup.candidatePairsCollapsed: exact clones are planted
    // by unioning the subset with an id-shifted copy of itself (+100000,
    // same text — SQL-derivable), then the operator must (1) pick min-id
    // representatives per distinct text, erasing every planted clone, and
    // (2) surface exactly the representative-level near-dup pairs the
    // d_minhash_pairs pipeline finds over those reps. This is the
    // output-bound-quadratic fix measured at the 100x corpus (96s/28M
    // pairs raw -> 1.1s/306 collapsed) as a driver-visible gate row.
    QueryDef(
      "d_minhash_collapsed",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d).filter($"doc_id" < 300)
          .select($"doc_id", $"text")
        val cloned = base.union(
          base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
        graft.ext.MinHashDedup
          .candidatePairsCollapsed(cloned, numHashes = 32, bands = 8)._1
      },
      Some("""WITH cl AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id < 300),
        reps AS (
          SELECT MIN(doc_id) AS doc_id, text FROM cl GROUP BY text),
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM reps
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id)
        SELECT c.a, c.b,
          CAST(len(list_filter(generate_series(1, 32),
            i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        ORDER BY est_jaccard DESC, a, b""")),

    // ---- I5 recall guarantee as an ORACLE row ------------------------------
    // The LSH candidate set is seed-dependent and not SQL-derivable, but its
    // RECALL claim is: every pair with exact 3-gram Jaccard >= 0.9 (which
    // DuckDB computes) must appear among the candidates. The query emits the
    // exact strong-pair set with a `recalled` flag from a left join against
    // the candidates; the oracle recomputes the pairs and asserts TRUE — a
    // hash match proves 100% strong-dup recall at the gate's scale factor,
    // promoting ApproxRecallSpec's in-process gate into the driver's DuckDB
    // gate. Subset doc_id < 600 keeps the exact brute-force anchor bounded
    // (25-27 planted pairs at every SF).
    QueryDef(
      "d_minhash_recall",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).filter($"doc_id" < 600)
        val cand = graft.ext.MinHashDedup
          .candidatePairs(docs, numHashes = 32, bands = 8)
          .select($"a", $"b", lit(true).as("found"))
        // eager checkpoint before the self-join (shingles would otherwise
        // re-evaluate per pair on the streamed side); per-side sizes
        // precompute so each pair evaluates ONE array_intersect and derives
        // the union as |A|+|B|-|A∩B| (shingles are distinct) — the
        // array_union form measured 7.8s vs 5.4s at sf0.01
        val sh = docs
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 3)
          .select($"doc_id", shinglesOfToks($"toks").as("sh"))
          .withColumn("n_sh", size($"sh"))
          .localCheckpoint(true)
        val a = sh.select($"doc_id".as("a"), $"sh".as("sha"), $"n_sh".as("na"))
        val b = sh.select($"doc_id".as("b"), $"sh".as("shb"), $"n_sh".as("nb"))
        a.join(broadcast(b), $"a" < $"b")
          .select($"a", $"b", $"na", $"nb",
            size(array_intersect($"sha", $"shb")).as("inter"))
          .select($"a", $"b",
            round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 6)
              .as("jaccard"))
          .filter($"jaccard" >= 0.9)
          .join(cand, Seq("a", "b"), "left")
          .select($"a", $"b", $"jaccard",
            coalesce($"found", lit(false)).as("recalled"))
          .orderBy($"a", $"b")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS sh
          FROM documents
          WHERE doc_id < 600 AND len(string_split(text, ' ')) >= 3)
        SELECT a.doc_id AS a, b.doc_id AS b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard,
          TRUE AS recalled
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.9
        ORDER BY a, b""")),

    // ---- SimHash fingerprint (HASH-EXACT oracle) ---------------------------
    // md5 token-hash family (graft.functions.Md5SimHash64): per-token hash is
    // DuckDB's md5_number_upper (= le64 of the first 8 digest bytes), ±1
    // votes per bit, fingerprint sets bit b iff vote > 0. Bit 63 is emitted
    // as Long.MinValue on both sides so the signed BIGINT renderings agree.
    QueryDef(
      "d_simhash",
      (s, d) => {
        import s.implicits._
        graft.ext.SimHash.withSimHash(
            Tables.documents(s, d).filter($"doc_id" < 100), $"text")
          .select($"doc_id", $"simhash")
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents WHERE doc_id < 100),
        votes AS (
          SELECT doc_id, b.b AS b,
            SUM(CASE WHEN (md5_number_upper(t) >> b.b) & 1 = 1
                THEN 1 ELSE -1 END) AS v
          FROM tok, (SELECT unnest(generate_series(0, 63)) AS b) b
          GROUP BY doc_id, b.b)
        SELECT doc_id,
          CAST(SUM(CASE WHEN v > 0 AND b < 63 THEN (1::BIGINT << b)
                   WHEN v > 0 AND b = 63 THEN -9223372036854775808
                   ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // ---- MinHash-edge duplicate clusters (HASH-EXACT oracle) ---------------
    // The SCALE composition of the dedup pillar: LSH candidate pairs
    // (banded equi-join, est_jaccard >= 0.5 — count >= 16 of 32, an exact
    // double compare) feed connected components (pointer-jumping min-label,
    // O(log diameter) rounds). d_dedup_clusters is the brute-force-edge twin
    // (exact Jaccard over a 150-doc subset); THIS variant's edge generation
    // never does all-pairs work, so the same plan stands at 100 TB. The
    // oracle re-derives everything: md5-affine signatures (HUGEINT-exact),
    // exact band-slice candidates, then a recursive-CTE transitive closure.
    QueryDef(
      "d_minhash_clusters",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val pairs = graft.ext.MinHashDedup
          .candidatePairs(docs, numHashes = 32, bands = 8)
          .filter($"est_jaccard" >= 0.5)
          .select($"a", $"b")
        val verts = docs
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 3)
          .select($"doc_id".as("id"))
        graft.ext.DedupClusters.components(verts, pairs)
          .select($"id".as("doc_id"), $"comp")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id),
        pairs AS (
          SELECT c.a, c.b FROM cand c
          JOIN sig sa ON sa.doc_id = c.a
          JOIN sig sb ON sb.doc_id = c.b
          WHERE CAST(len(list_filter(generate_series(1, 32),
            i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 >= 0.5),
        edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM sig
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        SELECT src AS doc_id, MIN(dst) AS comp
        FROM reach GROUP BY src ORDER BY doc_id""")),

    // ---- Collapse-first duplicate clusters (HASH-EXACT oracle) -------------
    // The clone-safe transitive-clusters composition (DedupClusters
    // .minhashClustersCollapsed): planted exact clones (id-shifted union,
    // as d_minhash_collapsed), components over REPRESENTATIVES, every doc
    // inheriting its representative's component — spec-pinned exactly
    // equal to the full composition, and here the oracle re-derives the
    // whole thing: rep selection, md5-affine signatures over reps, banded
    // candidates, est_jaccard >= 0.5 edges, recursive-CTE closure, then
    // rep-map expansion back to all docs.
    QueryDef(
      "d_minhash_clusters_collapsed",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d).filter($"doc_id" < 300)
          .select($"doc_id", $"text")
        val cloned = base.union(
          base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
        graft.ext.DedupClusters.minhashClustersCollapsed(cloned)
      },
      Some("""WITH RECURSIVE cl AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id < 300),
        rm AS (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep_id
          FROM cl),
        reps AS (
          SELECT MIN(doc_id) AS doc_id, text FROM cl GROUP BY text),
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM reps
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id),
        prs AS (
          SELECT c.a, c.b FROM cand c
          JOIN sig sa ON sa.doc_id = c.a
          JOIN sig sb ON sb.doc_id = c.b
          WHERE CAST(len(list_filter(generate_series(1, 32),
            i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 >= 0.5),
        edges AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM sig
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        comp AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src)
        SELECT rm.doc_id, c.comp
        FROM rm JOIN comp c ON c.id = rm.rep_id
        ORDER BY rm.doc_id""")),

    // ---- Semantic dedup over embeddings (HASH-EXACT oracle) ----------------
    // SemDeDup (graft.ext.SemDedup): cluster-bounded within-cluster cosine,
    // drop any vector with a ≥ tau lower-id neighbor. lloydIters = 0 seeding
    // makes the whole path SQL-derivable — the seeds/assign CTEs are the
    // x4_ann_ivf ones verbatim. tau = 0.35 sits just under this corpus's
    // cosine ceiling (max pair ≈ 0.51) so the drop path actually exercises.
    // Fixed k = 8 here ONLY because the oracle needs k literally in SQL;
    // the production entry point is semanticDedup(e, tau) which derives
    // k ∝ n (see SemDedup scaladoc: fixed k is quadratic at scale).
    QueryDef(
      "d_semdedup",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
        graft.ext.SemDedup.semanticDedup(e, nCentroids = 8, tau = 0.35)
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
        dropped AS (
          SELECT DISTINCT x.vec_id
          FROM assign x JOIN assign y ON x.cluster = y.cluster AND y.vec_id < x.vec_id
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35)
        SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
        FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        ORDER BY a.vec_id""")),

    // ---- Semantic dedup DEFAULT path (HASH-EXACT oracle, r10) --------------
    // The zero-knob entry point callers actually use: semanticDedup(e, tau)
    // derives k = max(8, ceil(n/250)) itself. Below CoarseDispatchK the
    // dispatch stays on flat assignment, so the WHOLE default path is
    // SQL-derivable — the oracle recomputes the derived k from COUNT(*)
    // and feeds it into the same seeds/assign/drop CTEs as d_semdedup.
    // (Above the threshold the default routes through the coarse
    // quantizer and is gate-anchored by x4_ann_coarse at full probe +
    // the dispatch-equality spec instead.) At every driver SF the
    // derived k is 8, comfortably below the threshold.
    QueryDef(
      "d_semdedup_auto",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ev"))
        // the oracle below re-derives FLAT assignment; above the dispatch
        // threshold the default routes through the approximate coarse
        // quantizer and the hash gate would mismatch for no real
        // regression — fail LOUDLY with the reason instead
        val n = e.count()
        val k = math.max(8L, (n + 249) / 250)
        require(k <= graft.ext.SemDedup.CoarseDispatchK,
          s"d_semdedup_auto gates the flat-assignment default, but $n vectors " +
            s"derive k=$k > CoarseDispatchK=${graft.ext.SemDedup.CoarseDispatchK}: " +
            "the default dispatches to the coarse quantizer here — anchor this " +
            "corpus via x4_ann_coarse + the dispatch-equality spec instead")
        graft.ext.SemDedup.semanticDedup(e, tau = 0.35)
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        kk AS (
          SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 250.0) AS BIGINT)) AS k
          FROM e),
        seeds AS (
          SELECT cv, rn - 1 AS cluster FROM (
            SELECT ev AS cv, ROW_NUMBER() OVER (ORDER BY hk, vec_id) AS rn
            FROM (SELECT vec_id, ev,
                    (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4)::BIGINT AS hk
                  FROM e))
          WHERE rn <= (SELECT k FROM kk)),
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
        dropped AS (
          SELECT DISTINCT x.vec_id
          FROM assign x JOIN assign y ON x.cluster = y.cluster AND y.vec_id < x.vec_id
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
          WHERE round(list_cosine_similarity(ex.ev, ey.ev), 4) >= 0.35)
        SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
        FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        ORDER BY a.vec_id""")),

    // ---- Exact repeated-span masking (HASH-EXACT oracle) -------------------
    // Substring-level dedup (graft.ext.SpanDedup): 8-token spans occurring
    // in ≥ 2 distinct docs mask every token they cover; per-doc stats.
    QueryDef(
      "d_span_dedup",
      (s, d) => graft.ext.SpanDedup.repeatedSpanStats(
        Tables.documents(s, d), width = 8, minDocs = 2),
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sp AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(t) - 7, 0)),
            i -> {'pos': i, 'span': array_to_string(t[i:i+7], ' ')})) AS s
          FROM toks),
        sp2 AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM sp),
        rep AS (SELECT span FROM sp2 GROUP BY span
                HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, pos FROM sp2 JOIN rep USING (span)),
        nrep AS (SELECT doc_id, COUNT(*) AS n_rep_spans FROM hits GROUP BY doc_id),
        masked AS (
          SELECT doc_id, COUNT(DISTINCT j) AS n_masked FROM
            (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS j FROM hits)
          GROUP BY doc_id)
        SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
          COALESCE(r.n_rep_spans, 0) AS n_rep_spans,
          COALESCE(m.n_masked, 0) AS n_masked,
          round((len(string_split(d.text, ' ')) - COALESCE(m.n_masked, 0))::DOUBLE
            / len(string_split(d.text, ' ')), 6) AS keep_ratio
        FROM documents d
        LEFT JOIN nrep r USING (doc_id) LEFT JOIN masked m USING (doc_id)
        ORDER BY doc_id""")),

    // ---- Collapse-first span dedup (HASH-EXACT oracle) ---------------------
    // Gates SpanDedup.spanStatsCollapsed: exact clones are planted exactly
    // like d_minhash_collapsed (id-shifted +100000 copy of the subset, same
    // text — SQL-derivable); the operator must (1) collapse to min-id
    // representatives per distinct text so the span explode runs over reps
    // only (the clone factor never rides the two span-keyed shuffles), with
    // minDocs counted over DISTINCT texts, and (2) hand every clone its
    // representative's stats verbatim. This is the r9 100x finding
    // (d_span_dedup 68.8s at the clone-heavy corpus, explode carries the
    // clone factor) fixed the same way as candidatePairsCollapsed, as a
    // driver-visible gate row.
    QueryDef(
      "d_span_collapsed",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d).filter($"doc_id" < 300)
          .select($"doc_id", $"text")
        val cloned = base.union(
          base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
        graft.ext.SpanDedup.spanStatsCollapsed(cloned, width = 8, minDocs = 2)
      },
      Some("""WITH cl AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id < 300),
        rm AS (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep_id, text
          FROM cl),
        reps AS (SELECT doc_id, text FROM rm WHERE doc_id = rep_id),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM reps),
        sp AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(t) - 7, 0)),
            i -> {'pos': i, 'span': array_to_string(t[i:i+7], ' ')})) AS s
          FROM toks),
        sp2 AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM sp),
        rep AS (SELECT span FROM sp2 GROUP BY span
                HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, pos FROM sp2 JOIN rep USING (span)),
        nrep AS (SELECT doc_id, COUNT(*) AS n_rep_spans FROM hits GROUP BY doc_id),
        masked AS (
          SELECT doc_id, COUNT(DISTINCT j) AS n_masked FROM
            (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS j FROM hits)
          GROUP BY doc_id),
        st AS (
          SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
            COALESCE(r.n_rep_spans, 0) AS n_rep_spans,
            COALESCE(m.n_masked, 0) AS n_masked,
            round((len(string_split(d.text, ' ')) - COALESCE(m.n_masked, 0))::DOUBLE
              / len(string_split(d.text, ' ')), 6) AS keep_ratio
          FROM reps d
          LEFT JOIN nrep r USING (doc_id) LEFT JOIN masked m USING (doc_id))
        SELECT rm.doc_id, st.n_tokens, st.n_rep_spans, st.n_masked, st.keep_ratio
        FROM rm JOIN st ON st.doc_id = rm.rep_id
        ORDER BY rm.doc_id""")),

    // ---- Exact set-similarity join with prefix filtering (PPJoin-lite) -----
    // The EXACT complement to MinHash: pairs with token-set Jaccard ≥ 0.9,
    // no probabilistic recall loss. The naive form is all-pairs; the
    // prefix filter (Chaudhuri et al. 2006 / PPJoin) makes it a keyed
    // equi-join: order every doc's tokens by GLOBAL (df, token) — rarest
    // first — and keep only each doc's first |d| − ceil(0.9·|d|) + 1
    // tokens as its "prefix"; two sets with Jaccard ≥ t MUST share a
    // prefix token, so candidates = the prefix-token equi-join, and the
    // rarest-first order makes those join keys the LOW-df tokens
    // (bounded fan-out — the hot common tokens never become keys).
    // Everything is integer: prefix length via ceil(9·sz/10) =
    // (9·sz+9)//10, the verify via 10·inter ≥ 9·union, and the ranking
    // by the fixed-point ratio (inter·1e6) div union — no float anywhere,
    // hash-exact. COLLAPSE-FIRST like d_minhash_pipeline: exact clones
    // are collapsed to their min-id representative BEFORE the join —
    // clone groups share identical token sets, so every clone pair is a
    // trivial jaccard-1 pair AND multiplies each prefix token's join
    // fan-out by the group size (the first 10× sweep measured the raw
    // form candidate-exploding on the 10-clone ScaleGen corpus; reps-only
    // killed it, same as the minhash lesson). The GATE pins the top-100
    // rep pairs by the fixed-point ratio. Scale shape: one text-keyed
    // collapse, one df count, one per-doc rank window, a low-df-token
    // equi-join, an ids+sets verify join, then TakeOrderedAndProject.
    QueryDef(
      "d_jaccard_join",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // ts feeds THREE consumers (the prefix chain and both verify-side
        // rejoins) and prefix feeds both sides of its self-join — cache
        // them or the collapse + split + window lineage re-runs per branch
        // (the r13 cache lesson; measured 16s → ~6s at sf0.1)
        val ts = Tables.documents(s, d)
          .groupBy($"text").agg(min($"doc_id").as("doc_id"))
          .select($"doc_id", array_distinct(split($"text", " ")).as("toks"))
          .cache()
        val tok = ts.select($"doc_id", explode($"toks").as("tok"))
        val dfc = tok.groupBy($"tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id").orderBy($"df", $"tok")
        val ranked = tok.join(dfc, "tok")
          .withColumn("rn", row_number().over(w))
        val sizes = ts.select($"doc_id", size($"toks").cast("long").as("sz"))
        // prefix rows CARRY the set size so the PPJoin SIZE filter runs
        // INSIDE the self-join, before the candidate distinct: J ≥ 0.9
        // needs 10·min(|A|,|B|) ≥ 9·max(|A|,|B|) (inter ≤ min, union ≥
        // max) — a two-long compare that prunes pairs the prefix filter
        // lets through when the vocabulary is small and every token is
        // common (this corpus: candidates approach all-pairs, and the
        // distinct shuffle + array_intersect verify were the 11s bulk)
        // r14 (r13 verdict item 7): prefix rows also CARRY the token's
        // rank so the PPJoin+ POSITION filter runs inside the join — for
        // a shared token at ranks (i, j), overlap ≤ 1 + min(szA−i, szB−j)
        // (every common token sits at or after the first shared one in
        // the global order), and J ≥ 0.9 needs overlap ≥
        // ceil(9(szA+szB)/19); a shared-token row violating that bound
        // cannot witness a qualifying pair. LOSSLESS by the PPJoin
        // theorem (the first common token of any qualifying pair passes),
        // re-pinned by the brute-force zero-pairs-lost spec; the win is
        // at LARGE vocabularies where prefix selectivity alone leaves
        // candidates position-incompatible (measured: BENCH_SCALE
        // r14_ppjoin_vocab).
        val prefix = ranked.join(sizes, "doc_id")
          .filter($"rn" <= $"sz" - expr("(sz * 9 + 9) div 10") + 1)
          .select($"doc_id", $"tok", $"sz", $"rn")
          .cache()
        val cand = prefix.as("a").join(prefix.as("b"),
            $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id" &&
              $"a.sz" * 10 >= $"b.sz" * 9 && $"b.sz" * 10 >= $"a.sz" * 9 &&
              lit(1L) + least($"a.sz" - $"a.rn", $"b.sz" - $"b.rn") >=
                expr("(9 * (a.sz + b.sz) + 18) div 19"))
          .select($"a.doc_id".as("a"), $"b.doc_id".as("b"))
          .distinct()
        cand.join(ts.select($"doc_id".as("a"), $"toks".as("ta")), "a")
          .join(ts.select($"doc_id".as("b"), $"toks".as("tb")), "b")
          .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
          .select($"a", $"b", $"inter",
            (size($"ta") + size($"tb") - $"inter").cast("long").as("uni"))
          .filter($"inter" * 10 >= $"uni" * 9)
          .withColumn("jacc_fp", expr("(inter * 1000000) div uni"))
          .orderBy($"jacc_fp".desc, $"a", $"b")
          .limit(100)
      },
      Some("""WITH reps AS (
          SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
        ts AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
          FROM reps),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM ts),
        dfc AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
        sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS sz FROM ts),
        rk AS (
          SELECT t.doc_id, t.tok,
            ROW_NUMBER() OVER (PARTITION BY t.doc_id
              ORDER BY d.df, t.tok) AS rn
          FROM tok t JOIN dfc d USING (tok)),
        pre AS (
          SELECT r.doc_id, r.tok, s.sz, r.rn
          FROM rk r JOIN sz s USING (doc_id)
          WHERE r.rn <= s.sz - ((s.sz * 9 + 9) // 10) + 1),
        cand AS (
          SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
            AND a.sz * 10 >= b.sz * 9 AND b.sz * 10 >= a.sz * 9
            AND 1 + least(a.sz - a.rn, b.sz - b.rn)
              >= (9 * (a.sz + b.sz) + 18) // 19),
        ver AS (
          SELECT c.a, c.b,
            CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter,
            CAST(len(ta.toks) + len(tb.toks)
              - len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS uni
          FROM cand c
          JOIN ts ta ON ta.doc_id = c.a
          JOIN ts tb ON tb.doc_id = c.b)
        SELECT a, b, inter, uni, (inter * 1000000) // uni AS jacc_fp
        FROM ver WHERE inter * 10 >= uni * 9
        ORDER BY jacc_fp DESC, a, b LIMIT 100""")),

    // ---- Exact shingle containment over LSH candidates ---------------------
    // The ASYMMETRIC near-dup verdict Jaccard misses: containment(A in B)
    // = |sh(A) ∩ sh(B)| / |sh(A)| flags a short doc wholly embedded in a
    // long one even when their symmetric Jaccard is tiny (quote
    // extraction, template-plus-payload — the cases span dedup handles at
    // token level, here at candidate-pair level). Candidates come from
    // the SAME banded LSH join as d_minhash_pairs; the exact 3-shingle
    // set intersect then replaces the signature estimate. Both
    // containments emit as (inter·1e6) div |side| fixed-point longs —
    // integer arithmetic, hash-exact. Scale shape: candidate-bounded
    // (never all-pairs) + one shingle-set rejoin per side.
    QueryDef(
      "d_containment",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val sh = docs.filter(size(split($"text", " ")) >= 3)
          .select($"doc_id",
            graft.ext.MinHashDedup.shingles($"text").as("sh"))
          .cache()
        val cand = graft.ext.MinHashDedup
          .candidatePairs(docs, numHashes = 32, bands = 8)
          .select($"a", $"b")
        cand.join(sh.select($"doc_id".as("a"), $"sh".as("sa")), "a")
          .join(sh.select($"doc_id".as("b"), $"sh".as("sb")), "b")
          .select($"a", $"b",
            size(array_intersect($"sa", $"sb")).cast("long").as("inter"),
            size($"sa").cast("long").as("sz_a"),
            size($"sb").cast("long").as("sz_b"))
          .withColumn("cont_a_fp", expr("(inter * 1000000) div sz_a"))
          .withColumn("cont_b_fp", expr("(inter * 1000000) div sz_b"))
          .orderBy($"a", $"b")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        shs AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
          FROM toks),
        sh AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        ab AS (
          SELECT doc_id,
            CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
            CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
          FROM sh),
        hv AS (
          SELECT doc_id, i.i AS i,
            MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
              % 1152921504606846976 AS BIGINT)) AS h
          FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        banded AS (
          SELECT doc_id, k.k AS band_idx,
            array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
          WHERE x.doc_id < y.doc_id)
        SELECT c.a, c.b,
          CAST(len(list_intersect(pa.sh, pb.sh)) AS BIGINT) AS inter,
          CAST(len(pa.sh) AS BIGINT) AS sz_a,
          CAST(len(pb.sh) AS BIGINT) AS sz_b,
          (CAST(len(list_intersect(pa.sh, pb.sh)) AS BIGINT) * 1000000)
            // CAST(len(pa.sh) AS BIGINT) AS cont_a_fp,
          (CAST(len(list_intersect(pa.sh, pb.sh)) AS BIGINT) * 1000000)
            // CAST(len(pb.sh) AS BIGINT) AS cont_b_fp
        FROM cand c
        JOIN shs pa ON pa.doc_id = c.a
        JOIN shs pb ON pb.doc_id = c.b
        ORDER BY c.a, c.b""")),

    // ---- Sentence-level cross-document dedup (CCNet line dedup) ------------
    // The CCNet/RefinedWeb line-dedup analog on the single-line synthetic
    // corpus: each doc splits into consecutive 10-token "sentences"
    // (non-overlapping x_chunk_windows chunks), each sentence md5-hashed,
    // and a sentence instance SURVIVES only if it is the globally first
    // occurrence of its hash in (doc_id, chunk_idx) order — the winner is
    // MIN(doc_id·1e6 + chunk_idx) per hash, pure integer, identical on
    // both engines. Per-doc output: sentence count, surviving count, and
    // the surviving fraction in ppm — the redundancy profile line-dedup
    // would apply before training. Scale shape: map-only chunking, ONE
    // 16-byte-hash-keyed groupBy (map-side partial min) + one hash
    // equi-join back; no doc-vs-doc pairs anywhere, the same shape as
    // d_exact_dedup one level below doc granularity.
    QueryDef(
      "d_sentence_dedup",
      (s, d) => {
        import s.implicits._
        val W = 10
        val chunks = Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"doc_id", split($"text", " ").as("toks"))
          .select($"doc_id", $"toks", size($"toks").as("n"))
          .select($"doc_id",
            posexplode(sequence(lit(0), $"n" - 1, lit(W)))
              .as(Seq("chunk_idx", "start_tok")),
            $"toks")
          .select($"doc_id", $"chunk_idx",
            md5(array_join(slice($"toks", $"start_tok" + 1, lit(W)), " "))
              .as("h"),
            // winner key: doc_id·1e6 + chunk_idx encodes (doc_id, chunk_idx)
            // lexicographic order as one BIGINT — VALID ONLY while every doc
            // has < 1e6 sentences (< 10M whitespace tokens). Beyond that the
            // encoding collides across documents and, because both engines
            // share it, oracle parity would HIDE the wrong winner. Docs at
            // that size should be span-chunked upstream (x_chunk_windows)
            // before sentence dedup; a struct-min winner would lift the
            // bound but DuckDB/Spark struct-ordering parity is not pinned.
            // The bound is ENFORCED, not just documented: a doc crossing it
            // fails the job loudly instead of silently mis-winning.
            when($"chunk_idx" >= 1000000L,
              raise_error(lit("d_sentence_dedup: doc with >=1e6 sentences " +
                "breaks the winner-key encoding")))
              .otherwise($"doc_id" * 1000000L + $"chunk_idx").as("k"))
        val winners = chunks.groupBy($"h").agg(min($"k").as("wk"))
        chunks.join(winners, Seq("h"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_sentences"),
            sum(when($"k" === $"wk", 1L).otherwise(0L)).as("n_kept"))
          .select($"doc_id", $"n_sentences", $"n_kept",
            expr("(n_kept * 1000000) div n_sentences").as("kept_ppm"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
            len(string_split(text, ' ')) AS n
          FROM documents WHERE text IS NOT NULL),
        ch AS (
          SELECT doc_id,
            CAST(start_tok // 10 AS INTEGER) AS chunk_idx,
            md5(array_to_string(toks[start_tok + 1 : start_tok + 10], ' ')) AS h,
            doc_id * 1000000 + (start_tok // 10) AS k
          FROM (SELECT doc_id, toks, n,
                  unnest(generate_series(0, n - 1, 10)) AS start_tok
                FROM t)),
        w AS (SELECT h, MIN(k) AS wk FROM ch GROUP BY h)
        SELECT ch.doc_id, COUNT(*) AS n_sentences,
          CAST(SUM(CASE WHEN ch.k = w.wk THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          (CAST(SUM(CASE WHEN ch.k = w.wk THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000) // COUNT(*) AS kept_ppm
        FROM ch JOIN w USING (h)
        GROUP BY ch.doc_id ORDER BY ch.doc_id"""))
  )
}
