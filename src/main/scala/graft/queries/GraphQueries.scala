package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Md5Hash64
import org.apache.spark.sql.functions._

/** Iterative-graph query surface: PageRank over a deterministic document
  * link graph (graft.ext.Graphs).
  *
  * The link graph is synthetic but fully deterministic ON BOTH ENGINES:
  * each document emits 3 out-links whose targets are the 60-bit md5 hash
  * of "doc_id:j" (j = 1..3) mod |documents| — the same md5 family every
  * other hash-exact operator here uses (`Md5Hash64.md5_le64` ≡ DuckDB
  * `md5_number_upper`). That makes the whole power iteration — an
  * inherently iterative, join-heavy computation — recomputable in the
  * oracle as 5 unrolled CTEs, so the gate is hash-exact rather than
  * rows-only. Self-links and multi-edges are kept (both sides identically).
  *
  * Integer fixed-point ranks (see Graphs scaladoc) make the distributed
  * contribution sums order-independent — the only reason a shuffled,
  * partitioned PageRank can bit-match a single-threaded SQL engine.
  */
object GraphQueries {

  private val Iters = 5
  private val Scale = 1000000000L

  /** The deterministic doc link graph both queries share: 3 out-links per
    * document, target = 60-bit md5("doc_id:j") mod |documents| (the 1-row
    * count joins in broadcast, never collected). Mirrored verbatim by the
    * `e` CTE in both oracles. CACHED: every consumer is iterative (per
    * power-iteration/sweep lineage would otherwise re-run the md5
    * derivation each round) or self-joining (wedge closure reads it three
    * times) — materializing the 16-byte-a-row edge list once is the
    * at-scale shape too, where the static edge table is the thing to
    * bucket/pin while the small rank iterate mutates. */
  private def md5Edges(docs: org.apache.spark.sql.DataFrame) =
    md5EdgesUncached(docs).cache()

  /** The md5 link-graph derivation WITHOUT the cache — for callers that
    * persist the edge list to an at-rest layout (the EdgeStore prep of
    * `BenchTune headlinebk`) instead of iterating over it in-session. */
  def md5EdgesUncached(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array(lit(1), lit(2), lit(3))).as("j"), col("n_docs"))
      .select(col("src"),
        pmod(
          shiftrightunsigned(Md5Hash64.md5_le64(
            concat(col("src").cast("string"), lit(":"),
              col("j").cast("string"))), 4),
          col("n_docs")).as("dst"))
  }

  /** Name of the at-rest edge layout the bench graph entry reads. */
  val BenchEdgeStoreName = "bench_md5"

  /** Untimed bench-leg prep: persist the md5 link graph (with out-degree)
    * as the src-bucketed EdgeStore layout, same rewrite-fresh-each-run
    * discipline as the star-table layouts. */
  def writeBenchEdgeStore(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(s, d).select(col("doc_id"))
    graft.sources.EdgeStore.write(
      graft.ext.Graphs.prepareEdges(md5EdgesUncached(docs)),
      BenchEdgeStoreName)
  }

  /** The x_pagerank computation served from the at-rest EdgeStore layout
    * (r14 verdict item 2 — the zero-edge-exchange iteration must TREND in
    * the committed bench, not live only in BENCH_SCALE r14_edge_store): same
    * nodes, same iteration count and fixed point as the x_pagerank gate,
    * edges + degree read from the src-bucketed table that
    * [[writeBenchEdgeStore]] wrote at (untimed) leg prep. Result
    * bit-identity between the prepared and derived paths is spec-pinned
    * in EdgeStoreSpec. */
  def pagerankEdgeStore(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
    val ed = graft.sources.EdgeStore.read(s, BenchEdgeStoreName)
    graft.ext.Graphs.pageRankPrepared(nodes, ed, Iters, Scale)
      .orderBy(col("r").desc, col("id")).limit(20)
      .select(col("id").as("doc_id"), col("r").as("pagerank_e9"))
  }

  /** The 5-iteration recurrence, unrolled for DuckDB. Kept in one place so
    * the SQL can't drift from [[graft.ext.Graphs.pageRank]] /
    * [[graft.ext.Graphs.personalizedPageRank]]: r0 = scale; rK =
    * base_v + (85 * inbound_sum(r{K-1})) // 100, where base_v is the
    * uniform 0.15·scale (uniform variant) or the seed-only teleport share
    * COALESCE(sb.b, 0) (personalized variant). */
  private def pagerankOracle(personalized: Boolean, outCol: String): String = {
    val base = 15L * Scale / 100
    val baseExpr = if (personalized) "COALESCE(sb.b, 0)" else base.toString
    val sbJoin = if (personalized) "\n  LEFT JOIN sb ON d.doc_id = sb.id" else ""
    val pprCtes = if (personalized)
      s"""s AS (SELECT doc_id AS id FROM documents WHERE doc_id < 5),
         |c AS (SELECT n.n_docs AS n_nodes,
         |  (SELECT COUNT(*) FROM s) AS n_seeds FROM n),
         |sb AS (SELECT s.id,
         |  (${15L * Scale} * c.n_nodes) // (100 * c.n_seeds) AS b
         |  FROM s, c),
         |""".stripMargin
    else ""
    val iterCtes = prIterCtes(baseExpr, sbJoin)
    s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |j AS (SELECT unnest([1,2,3]) AS j),
       |e AS (SELECT d.doc_id AS src,
       |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
       |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
       |  FROM documents d, j, n),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |${pprCtes}r0 AS (SELECT doc_id AS id, CAST($Scale AS BIGINT) AS r
       |  FROM documents),
       |$iterCtes
       |SELECT id AS doc_id, r AS $outCol FROM r$Iters
       |ORDER BY r DESC, id LIMIT 20""".stripMargin
  }

  /** The PageRank iteration CTE text, shared by every oracle in this
    * module (uniform, personalized, and the near-dup-graph composition)
    * so the unrolled recurrence cannot drift from
    * [[graft.ext.Graphs.pageRank]]: rK = baseExpr +
    * (85 * inbound_sum(r{K-1})) // 100 over the `ed` (src, dst, deg) CTE,
    * LEFT-joined from `documents` so contribution-less nodes keep their
    * base. */
  private def prIterCtes(baseExpr: String, sbJoin: String): String =
    (1 to Iters).map { k =>
      s"""r$k AS (SELECT d.doc_id AS id,
         |    CAST($baseExpr + (85 * COALESCE(a.agg, 0)) // 100 AS BIGINT) AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT ed.dst AS id, CAST(SUM(r.r // ed.deg) AS BIGINT) AS agg
         |    FROM ed JOIN r${k - 1} r ON ed.src = r.id
         |    GROUP BY ed.dst) a ON d.doc_id = a.id$sbJoin)""".stripMargin
    }.mkString(",\n")

  /** The LPA oracle CTE chain (graph derivation + `iters` unrolled
    * sweeps), shared by x_label_prop and x_modularity so the community
    * recurrence cannot drift between the assignment gate and the quality
    * gate. Emits CTEs n, j, e0, und, es (symmetrized + self-votes),
    * l0..l`iters` — caller supplies the WITH prefix and final SELECT. */
  private def lpaCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS (SELECT l.id, COALESCE(w.new_label, l.label) AS label
         |  FROM l${k - 1} l LEFT JOIN (
         |    SELECT dst, label AS new_label FROM (
         |      SELECT e.dst, l2.label, COUNT(*) AS c,
         |        ROW_NUMBER() OVER (PARTITION BY e.dst
         |          ORDER BY COUNT(*) DESC, l2.label ASC) AS rn
         |      FROM es e JOIN l${k - 1} l2 ON e.src = l2.id
         |      GROUP BY e.dst, l2.label)
         |    WHERE rn = 1) w ON l.id = w.dst)""".stripMargin
    }.mkString(",\n")
    s"""n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |j AS (SELECT unnest([1,2,3]) AS j),
       |e0 AS (SELECT d.doc_id AS src,
       |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
       |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
       |  FROM documents d, j, n),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM e0 WHERE src <> dst),
       |es AS (SELECT u AS src, v AS dst FROM und
       |  UNION ALL SELECT v AS src, u AS dst FROM und
       |  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents),
       |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
       |$iterCtes""".stripMargin
  }

  /** Personalized PageRank over the REAL derived graph — the "related
    * docs" recipe end-to-end: MinHash-LSH near-dup candidate pairs at
    * est_jaccard ≥ 0.5 (= ≥ 16 of 32 signature positions agreeing — an
    * exact integer predicate on both engines, no float boundary),
    * symmetrized into an undirected edge list, then seed-teleport PPR
    * from the `source = 'src0'` facet. Rank is "how reachable from src0's
    * documents through near-duplicate chains" — exactly the
    * contamination-neighborhood / related-docs question a curation
    * pipeline asks. The oracle recomputes the ENTIRE composition: the
    * d_minhash_pairs CTE chain (DedupQueries) feeding the shared
    * [[prIterCtes]] recurrence.
    */
  private def neardupPprOracle: String = {
    val sbJoin = "\n  LEFT JOIN sb ON d.doc_id = sb.id"
    val iterCtes = prIterCtes("COALESCE(sb.b, 0)", sbJoin)
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - 2, 0)),
       |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
       |  FROM toks),
       |ab AS (
       |  SELECT doc_id,
       |    CAST(md5_number_upper(s) >> 4 AS BIGINT) AS a,
       |    CAST((md5_number_lower(s) >> 4) | 1 AS BIGINT) AS b
       |  FROM sh),
       |hv AS (
       |  SELECT doc_id, i.i AS i,
       |    MIN(CAST((CAST(a AS HUGEINT) + i.i * CAST(b AS HUGEINT))
       |      % 1152921504606846976 AS BIGINT)) AS h
       |  FROM ab, (SELECT unnest(generate_series(0, 31)) AS i) i
       |  GROUP BY doc_id, i.i),
       |sig AS (
       |  SELECT doc_id, list(h ORDER BY i) AS sig FROM hv GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, k.k AS band_idx,
       |    array_to_string(sig[k.k*4+1 : k.k*4+4], ',') AS band_key
       |  FROM sig, (SELECT unnest(generate_series(0, 7)) AS k) k),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |  WHERE x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT c.a, c.b FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sc ON sc.doc_id = c.b
       |  WHERE len(list_filter(generate_series(1, 32),
       |    i -> sa.sig[i] = sc.sig[i])) >= 16),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |s AS (SELECT doc_id AS id FROM documents WHERE source = 'src0'),
       |c AS (SELECT (SELECT COUNT(*) FROM documents) AS n_nodes,
       |  (SELECT COUNT(*) FROM s) AS n_seeds),
       |sb AS (SELECT s.id,
       |  (${15L * Scale} * c.n_nodes) // (100 * c.n_seeds) AS b
       |  FROM s, c),
       |r0 AS (SELECT doc_id AS id, CAST($Scale AS BIGINT) AS r
       |  FROM documents),
       |$iterCtes
       |SELECT id AS doc_id, r AS ppr_nd_e9 FROM r$Iters
       |ORDER BY r DESC, id LIMIT 20""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- PageRank: 5 damped power iterations over the md5 link graph ------
    QueryDef(
      "x_pagerank",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val edges = md5Edges(docs)
        val nodes = docs.select($"doc_id".as("id"))
        graft.ext.Graphs.pageRank(nodes, edges, Iters, Scale)
          .orderBy($"r".desc, $"id")
          .limit(20)
          .select($"id".as("doc_id"), $"r".as("pagerank_e9"))
      },
      Some(pagerankOracle(personalized = false, "pagerank_e9"))),

    // ---- Personalized PageRank: proximity to a seed set -------------------
    // Teleport mass returns to the 5 lowest-id documents instead of
    // spreading uniformly — rank is now "how reachable from the seeds",
    // the related-docs / topic-centrality primitive. Unreachable nodes
    // decay to exactly 0 (spec-pinned); same integer fixed point, same
    // unrolled oracle with the seed-share base term.
    QueryDef(
      "x_pagerank_ppr",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val edges = md5Edges(docs)
        val nodes = docs.select($"doc_id".as("id"))
        val seeds = nodes.filter($"id" < 5)
        graft.ext.Graphs.personalizedPageRank(nodes, edges, seeds, Iters, Scale)
          .orderBy($"r".desc, $"id")
          .limit(20)
          .select($"id".as("doc_id"), $"r".as("ppr_e9"))
      },
      Some(pagerankOracle(personalized = true, "ppr_e9"))),

    // ---- Personalized PageRank over the MinHash near-dup graph ------------
    // The composition gate (r12 verdict item 6): PPR over a graph DERIVED
    // by another operator family rather than the synthetic md5 links —
    // near-dup pairs at est_jaccard ≥ 0.5, symmetrized, seeded by the
    // source = 'src0' facet (neardupPprOracle scaladoc). Nodes outside
    // every near-dup chain from src0 decay to exactly 0 and rank below
    // any seed, so the top-20 is the src0 contamination neighborhood.
    QueryDef(
      "x_ppr_neardup",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        // cache: the LSH pair derivation would otherwise re-execute once
        // per PPR iteration (ed's lineage reaches through it) — measured
        // 11.3s -> ~3s at the 10x corpus with the pair set materialized
        val pairs = graft.ext.MinHashDedup
          .candidatePairs(docs, numHashes = 32, bands = 8)
          .filter($"est_jaccard" >= 0.5)
          .select($"a", $"b")
          .cache()
        val edges = pairs.select($"a".as("src"), $"b".as("dst"))
          .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
        val nodes = docs.select($"doc_id".as("id"))
        val seeds = docs.filter($"source" === "src0").select($"doc_id".as("id"))
        graft.ext.Graphs.personalizedPageRank(nodes, edges, seeds, Iters, Scale)
          .orderBy($"r".desc, $"id")
          .limit(20)
          .select($"id".as("doc_id"), $"r".as("ppr_nd_e9"))
      },
      Some(neardupPprOracle)),

    // ---- Label propagation communities over the doc graph -----------------
    // Synchronous LPA with min-label tie-breaks (Graphs.labelPropagation
    // scaladoc) over the SYMMETRIZED simple md5 graph: 3 iterations, full
    // (doc_id, label) assignment out. Deterministic by construction, so
    // the oracle unrolls the same three sweeps.
    QueryDef(
      "x_label_prop",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val und = md5Edges(docs).filter($"src" =!= $"dst")
          .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
          .distinct()
        val es = und.select($"u".as("src"), $"v".as("dst"))
          .unionByName(und.select($"v".as("src"), $"u".as("dst")))
        val nodes = docs.select($"doc_id".as("id"))
        graft.ext.Graphs.labelPropagation(nodes, es, iters = 3)
          .select($"id".as("doc_id"), $"label")
          .orderBy($"doc_id")
      },
      Some(s"""WITH ${lpaCtes(3)}
         |SELECT id AS doc_id, label FROM l3 ORDER BY id""".stripMargin)),

    // ---- Modularity of the LPA communities ---------------------------------
    // The community-QUALITY composition gate: Newman modularity
    // Q = Σ_c [ L_c/m − (d_c/2m)² ] of the x_label_prop partition over
    // the same symmetrized simple graph — the metric that says whether a
    // partition actually captures dense regions. Per-community rows
    // (members, intra-edges L_c, total degree d_c, the Q term) so the
    // gate pins every community's contribution, not just the sum. All
    // counts are integers; each Q term rounds to a 1e9 fixed-point long
    // from one deterministic double expression (the order-independent
    // fixed-point contract). Scale shape: the LPA sweeps plus two
    // label-keyed counts — no new join family.
    QueryDef(
      "x_modularity",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val und = md5Edges(docs).filter($"src" =!= $"dst")
          .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
          .distinct()
          .cache()
        val es = und.select($"u".as("src"), $"v".as("dst"))
          .unionByName(und.select($"v".as("src"), $"u".as("dst")))
        val nodes = docs.select($"doc_id".as("id"))
        val lab = graft.ext.Graphs.labelPropagation(nodes, es, iters = 3)
          .cache()
        val m = und.agg(count(lit(1)).as("m"))
        val inc = und
          .join(lab.select($"id".as("u"), $"label".as("la")), "u")
          .join(lab.select($"id".as("v"), $"label".as("lb")), "v")
          .filter($"la" === $"lb")
          .groupBy($"la".as("label")).agg(count(lit(1)).as("l_in"))
        val degc = und.select($"u".as("x")).unionByName(und.select($"v".as("x")))
          .join(lab.select($"id".as("x"), $"label"), "x")
          .groupBy($"label").agg(count(lit(1)).as("d_tot"))
        val members = lab.groupBy($"label").agg(count(lit(1)).as("n_members"))
        members
          .join(inc, Seq("label"), "left")
          .join(degc, Seq("label"), "left")
          .crossJoin(broadcast(m))
          .select($"label", $"n_members",
            coalesce($"l_in", lit(0L)).as("l_in"),
            coalesce($"d_tot", lit(0L)).as("d_tot"), $"m")
          .select($"label", $"n_members", $"l_in", $"d_tot",
            round(($"l_in".cast("double") / $"m"
              - ($"d_tot".cast("double") / (lit(2L) * $"m"))
                * ($"d_tot".cast("double") / (lit(2L) * $"m"))) * lit(1e9), 0)
              .cast("long").as("term_fp"))
          .orderBy($"label")
      },
      Some(s"""WITH ${lpaCtes(3)},
         |lab AS (SELECT id, label FROM l3),
         |m AS (SELECT COUNT(*) AS m FROM und),
         |inc AS (SELECT la.label, COUNT(*) AS l_in
         |  FROM und u JOIN lab la ON u.u = la.id
         |  JOIN lab lb ON u.v = lb.id
         |  WHERE la.label = lb.label GROUP BY la.label),
         |degc AS (SELECT la.label, COUNT(*) AS d_tot
         |  FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) t
         |  JOIN lab la ON t.x = la.id GROUP BY la.label),
         |members AS (SELECT label, COUNT(*) AS n_members FROM lab
         |  GROUP BY label)
         |SELECT mb.label, mb.n_members,
         |  COALESCE(i.l_in, 0) AS l_in,
         |  COALESCE(dg.d_tot, 0) AS d_tot,
         |  CAST(round((COALESCE(i.l_in, 0)::DOUBLE / m.m
         |    - (COALESCE(dg.d_tot, 0)::DOUBLE / (2 * m.m))
         |      * (COALESCE(dg.d_tot, 0)::DOUBLE / (2 * m.m))) * 1000000000.0)
         |    AS BIGINT) AS term_fp
         |FROM members mb
         |LEFT JOIN inc i ON mb.label = i.label
         |LEFT JOIN degc dg ON mb.label = dg.label, m
         |ORDER BY mb.label""".stripMargin)),

    // ---- Triangle count over the undirected simple doc graph --------------
    // The join-based graph metric: symmetrize + simplify the md5 link graph
    // (distinct (least, greatest) pairs, self-loops dropped), keep each
    // edge ORIENTED low-id -> high-id, then close wedges with a 3-way
    // self-join: (a,b) ⋈ (b,c) ⋈ (a,c), a < b < c, so every triangle is
    // counted exactly once with no permutation blowup. Orientation is the
    // scale lever: id order suffices HERE (the md5 graph is near-regular,
    // in-degree ≈ Poisson(3)) and keeps this row the simplest gate
    // anchor; the at-scale form is x_triangle_count_deg below, which
    // orients by DEGREE so fan-out is degeneracy-bounded on skewed
    // graphs. Wedge counts ride along as the work metric orientation
    // bounds; TriangleOrientationSpec pins that both forms agree on
    // n_triangles.
    QueryDef(
      "x_triangle_count",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        // cache: und feeds three join branches (e1, e2, e3) plus the edge
        // count — uncached, the md5+distinct derivation executes 4x
        val und = md5Edges(docs).filter($"src" =!= $"dst")
          .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
          .distinct()
          .cache()
        val wedges = und.as("e1").join(und.as("e2"), $"e1.v" === $"e2.u")
          .select($"e1.u".as("a"), $"e1.v".as("b"), $"e2.v".as("c"))
        val triangles = wedges.join(und.as("e3"),
          $"a" === $"e3.u" && $"c" === $"e3.v")
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
          .crossJoin(broadcast(triangles.agg(count(lit(1)).as("n_triangles"))))
      },
      Some("""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        j AS (SELECT unnest([1,2,3]) AS j),
        e0 AS (SELECT d.doc_id AS src,
            CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
              CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
          FROM documents d, j, n),
        und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM e0 WHERE src <> dst),
        w AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM und e1 JOIN und e2 ON e1.v = e2.u),
        t AS (SELECT COUNT(*) AS n_triangles FROM w
          JOIN und e3 ON w.a = e3.u AND w.c = e3.v)
        SELECT (SELECT COUNT(*) FROM und) AS n_edges,
          (SELECT COUNT(*) FROM w) AS n_wedges,
          t.n_triangles FROM t""")),

    // ---- Triangle count, degree-oriented (the at-scale form) --------------
    // Same triangle total as x_triangle_count, but edges are oriented by
    // the (degree, id) total order (Graphs.orientByDegree) before the
    // wedge join — per-apex fan-out is then bounded by the graph's
    // degeneracy instead of by raw degree, which is what survives a hot
    // vertex on a power-law graph (id-orientation gives a low-id 1M-degree
    // node 10^12 wedges; degree orientation gives it ZERO out-edges).
    // n_wedges here is the ORIENTED wedge count — the work metric the
    // orientation bounds — so it differs from x_triangle_count's by
    // design; n_triangles must agree exactly (spec-pinned). The oracle
    // recomputes the same order via the degree CTE. Measured with a
    // planted hot vertex: BENCH_SCALE r13_triangle_orientation.
    QueryDef(
      "x_triangle_count_deg",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        // cache both layers: und feeds the degree count twice + the edge
        // count; oriented feeds e1/e2/e3 — uncached, the whole md5 +
        // distinct + degree-join derivation ran per branch (measured 15x
        // wall factor at the 10x corpus from recomputation alone)
        val und = md5Edges(docs).filter($"src" =!= $"dst")
          .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
          .distinct()
          .cache()
        val oriented = graft.ext.Graphs.orientByDegree(und).cache()
        val wedges = graft.ext.Graphs.orientedWedges(oriented)
        val triangles = wedges.join(oriented.as("e3"),
          $"b" === $"e3.src" && $"c" === $"e3.dst")
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
          .crossJoin(broadcast(triangles.agg(count(lit(1)).as("n_triangles"))))
      },
      Some("""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        j AS (SELECT unnest([1,2,3]) AS j),
        e0 AS (SELECT d.doc_id AS src,
            CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
              CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
          FROM documents d, j, n),
        und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM e0 WHERE src <> dst),
        deg AS (SELECT x, COUNT(*) AS deg FROM (
            SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
          GROUP BY x),
        o AS (SELECT
            CASE WHEN du <= dv THEN u ELSE v END AS src,
            CASE WHEN du <= dv THEN v ELSE u END AS dst,
            CASE WHEN du <= dv THEN dv ELSE du END AS ddeg
          FROM (SELECT und.u, und.v, d1.deg AS du, d2.deg AS dv
            FROM und JOIN deg d1 ON und.u = d1.x
            JOIN deg d2 ON und.v = d2.x)),
        w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM o e1 JOIN o e2 ON e1.src = e2.src
            AND (e1.ddeg < e2.ddeg
              OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))),
        t AS (SELECT COUNT(*) AS n_triangles FROM w
          JOIN o e3 ON w.b = e3.src AND w.c = e3.dst)
        SELECT (SELECT COUNT(*) FROM und) AS n_edges,
          (SELECT COUNT(*) FROM w) AS n_wedges,
          t.n_triangles FROM t""")),

    // ---- HITS hubs & authorities over the directed doc graph --------------
    // The second classic eigenvector ranking (Graphs.hits scaladoc): 3
    // iterations of a(v) = Σ_{u→v} h(u), h(v) = Σ_{v→w} a(w), each side
    // sum-normalized back to total mass n·scale in integer arithmetic —
    // deterministic, so the oracle unrolls raw-sum → total → renormalize
    // per half-iteration. scale is AUTO (floor(3.03e9 / n), the finest
    // resolution whose normalization multiply fits a Long — Graphs.hits
    // scaladoc), so the same gate is hash-exact at |docs| = 500 (sf0.001
    // and sf0.01) AND 5,000 (sf0.1) with no fixed-scale cliff; the oracle
    // derives the identical value in its `m` CTE.
    // ---- Multi-source BFS hop distance -------------------------------------
    // Reachability radius from the source = 'src0' facet over the directed
    // md5 link graph: 4 synchronous relaxation rounds (Graphs.bfsHops),
    // unreached nodes hold exactly the 999 sentinel. Pure integer min/+1
    // recurrence — hash-exact against the unrolled oracle. The
    // contamination-radius primitive: "docs within h hops of a benchmark
    // doc" is this over the near-dup graph instead.
    QueryDef(
      "x_bfs_hops",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val edges = md5Edges(docs.select($"doc_id"))
        val nodes = docs.select($"doc_id".as("id"))
        val seeds = docs.filter($"source" === "src0").select($"doc_id".as("id"))
        graft.ext.Graphs.bfsHops(nodes, edges, seeds, maxHops = 4)
          .select($"id".as("doc_id"), $"d".as("hops"))
          .orderBy($"doc_id")
      },
      Some {
        val iterCtes = (1 to 4).map { k =>
          s"""d$k AS (SELECT p.id, LEAST(p.d, COALESCE(m.md, 999)) AS d
             |  FROM d${k - 1} p LEFT JOIN (
             |    SELECT e.dst AS id, MIN(p2.d + 1) AS md
             |    FROM e JOIN d${k - 1} p2 ON e.src = p2.id
             |    WHERE p2.d < 999
             |    GROUP BY e.dst) m ON p.id = m.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |j AS (SELECT unnest([1,2,3]) AS j),
           |e AS (SELECT d.doc_id AS src,
           |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
           |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
           |  FROM documents d, j, n),
           |s AS (SELECT doc_id AS id FROM documents WHERE source = 'src0'),
           |d0 AS (SELECT d.doc_id AS id,
           |    CAST(CASE WHEN s.id IS NOT NULL THEN 0 ELSE 999 END AS BIGINT) AS d
           |  FROM documents d LEFT JOIN s ON d.doc_id = s.id),
           |$iterCtes
           |SELECT id AS doc_id, d AS hops FROM d4 ORDER BY id""".stripMargin
      }),

    // ---- Weighted shortest paths (bounded Bellman–Ford) --------------------
    // Graphs.ssspWeighted over the md5 link graph with the out-link index
    // j (1..3) as the integer edge weight — the same deterministic edge
    // derivation as every other graph gate, so the 4-round min/+ recurrence
    // unrolls into the oracle exactly like x_bfs_hops (which is this with
    // w ≡ 1). Pure integer arithmetic: hash-exact. At scale this is the
    // weighted-radius primitive (cost-bounded neighborhoods over a
    // similarity graph whose weights are 1/similarity).
    QueryDef(
      "x_sssp_weighted",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val edges = docs.crossJoin(broadcast(n))
          .select($"doc_id".as("src"),
            explode(array(lit(1L), lit(2L), lit(3L))).as("j"), $"n_docs")
          .select($"src",
            pmod(
              shiftrightunsigned(Md5Hash64.md5_le64(
                concat($"src".cast("string"), lit(":"),
                  $"j".cast("string"))), 4),
              $"n_docs").as("dst"),
            $"j".as("w"))
          .cache()
        val nodes = docs.select($"doc_id".as("id"))
        val seeds = Tables.documents(s, d)
          .filter($"source" === "src0").select($"doc_id".as("id"))
        graft.ext.Graphs.ssspWeighted(nodes, edges, seeds, rounds = 4)
          .select($"id".as("doc_id"), $"d".as("dist"))
          .orderBy($"doc_id")
      },
      Some {
        val iterCtes = (1 to 4).map { k =>
          s"""d$k AS (SELECT p.id, LEAST(p.d, COALESCE(m.md, 999999)) AS d
             |  FROM d${k - 1} p LEFT JOIN (
             |    SELECT e.dst AS id, MIN(p2.d + e.w) AS md
             |    FROM e JOIN d${k - 1} p2 ON e.src = p2.id
             |    WHERE p2.d < 999999
             |    GROUP BY e.dst) m ON p.id = m.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |j AS (SELECT unnest([1,2,3]) AS j),
           |e AS (SELECT d.doc_id AS src,
           |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
           |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst,
           |    CAST(j.j AS BIGINT) AS w
           |  FROM documents d, j, n),
           |s AS (SELECT doc_id AS id FROM documents WHERE source = 'src0'),
           |d0 AS (SELECT d.doc_id AS id,
           |    CAST(CASE WHEN s.id IS NOT NULL THEN 0 ELSE 999999 END AS BIGINT) AS d
           |  FROM documents d LEFT JOIN s ON d.doc_id = s.id),
           |$iterCtes
           |SELECT id AS doc_id, d AS dist FROM d4 ORDER BY id""".stripMargin
      }),

    // ---- k-core (dense-subgraph extraction) --------------------------------
    // 3 peeling rounds of the 4-core over the symmetrized simple md5 graph
    // (Graphs.kCorePeel scaladoc): drop nodes with degree < 4, restrict
    // edges to survivors, repeat; emit survivors with their peeled-subgraph
    // degree. Integer joins/counts only — hash-exact. Dense-region triage:
    // over the near-dup graph this surfaces the heavily-cloned
    // neighborhoods a curation pass audits first.
    QueryDef(
      "x_kcore",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val und = md5Edges(docs).filter($"src" =!= $"dst")
          .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
          .distinct()
        graft.ext.Graphs.kCorePeel(und, k = 4, rounds = 3)
          .select($"id".as("doc_id"), $"deg")
          .orderBy($"doc_id")
      },
      Some {
        val peelCtes = (1 to 3).map { k =>
          s"""deg$k AS (SELECT x, COUNT(*) AS deg FROM (
             |    SELECT u AS x FROM e${k - 1} UNION ALL SELECT v AS x FROM e${k - 1})
             |  GROUP BY x),
             |keep$k AS (SELECT x FROM deg$k WHERE deg >= 4),
             |e$k AS (SELECT e.u, e.v FROM e${k - 1} e
             |  JOIN keep$k a ON e.u = a.x
             |  JOIN keep$k b ON e.v = b.x)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |j AS (SELECT unnest([1,2,3]) AS j),
           |le AS (SELECT d.doc_id AS src,
           |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
           |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
           |  FROM documents d, j, n),
           |e0 AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
           |  FROM le WHERE src <> dst),
           |$peelCtes,
           |degF AS (SELECT x, COUNT(*) AS deg FROM (
           |    SELECT u AS x FROM e3 UNION ALL SELECT v AS x FROM e3)
           |  GROUP BY x)
           |SELECT x AS doc_id, deg FROM degF WHERE deg >= 4 ORDER BY doc_id""".stripMargin
      }),

    QueryDef(
      "x_hits",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val edges = md5Edges(docs)
        val nodes = docs.select($"doc_id".as("id"))
        graft.ext.Graphs.hits(nodes, edges, iters = 3)
          .orderBy($"auth".desc, $"id")
          .limit(20)
          .select($"id".as("doc_id"), $"hub".as("hub_fp"), $"auth".as("auth_fp"))
      },
      Some(hitsOracle(iters = 3)))
  )

  /** The unrolled HITS recurrence for DuckDB — kept adjacent to the
    * pagerank oracle builder for the same no-drift reason. Per iteration
    * k: raw authority sums from h{k-1} over in-links, a total, a
    * renormalize to mass; then the same for hubs from a{k}. DuckDB SUMs
    * BIGINT into HUGEINT, so every sum is cast back before the
    * normalization multiply (raw ≤ mass, raw·mass < 2^63 by the scale
    * bound). The `m` CTE derives scale = 3037000499 // n and
    * mass = scale·n — the exact integers Graphs.hits auto-derives. */
  private def hitsOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""a${k}r AS (SELECT e.dst AS id, CAST(SUM(h.s) AS BIGINT) AS raw
         |  FROM e JOIN h${k - 1} h ON e.src = h.id GROUP BY e.dst),
         |a${k}u AS (SELECT d.doc_id AS id, COALESCE(r.raw, 0) AS raw
         |  FROM documents d LEFT JOIN a${k}r r ON d.doc_id = r.id),
         |a${k}t AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM a${k}u),
         |a$k AS (SELECT u.id,
         |    CASE WHEN t.tot > 0 THEN (u.raw * m.mass) // t.tot
         |         ELSE 0 END AS s
         |  FROM a${k}u u, a${k}t t, m),
         |h${k}r AS (SELECT e.src AS id, CAST(SUM(a.s) AS BIGINT) AS raw
         |  FROM e JOIN a$k a ON e.dst = a.id GROUP BY e.src),
         |h${k}u AS (SELECT d.doc_id AS id, COALESCE(r.raw, 0) AS raw
         |  FROM documents d LEFT JOIN h${k}r r ON d.doc_id = r.id),
         |h${k}t AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM h${k}u),
         |h$k AS (SELECT u.id,
         |    CASE WHEN t.tot > 0 THEN (u.raw * m.mass) // t.tot
         |         ELSE 0 END AS s
         |  FROM h${k}u u, h${k}t t, m)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |m AS (SELECT CAST(3037000499 // n_docs AS BIGINT) AS sc,
       |  CAST((3037000499 // n_docs) * n_docs AS BIGINT) AS mass FROM n),
       |j AS (SELECT unnest([1,2,3]) AS j),
       |e AS (SELECT d.doc_id AS src,
       |    CAST(md5_number_upper(CAST(d.doc_id AS VARCHAR) || ':' ||
       |      CAST(j.j AS VARCHAR)) >> 4 AS BIGINT) % n.n_docs AS dst
       |  FROM documents d, j, n),
       |h0 AS (SELECT doc_id AS id, m.sc AS s FROM documents, m),
       |$iterCtes
       |SELECT d.doc_id, CAST(h.s AS BIGINT) AS hub_fp,
       |  CAST(a.s AS BIGINT) AS auth_fp
       |FROM documents d
       |JOIN h$iters h ON d.doc_id = h.id
       |JOIN a$iters a ON d.doc_id = a.id
       |ORDER BY auth_fp DESC, d.doc_id LIMIT 20""".stripMargin
  }
}
