package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation as repeated equi-joins — the missing shape
  * in the surface so far: every prior operator is a bounded pipeline of
  * joins/aggs, while PageRank-style algorithms re-join a mutating rank
  * table against a static edge table N times.
  *
  * ==Why integer fixed-point==
  * Double-precision PageRank is order-of-accumulation dependent (the
  * per-destination contribution sum changes with partitioning), so a
  * distributed run could never be hash-exact against a single-threaded
  * oracle. Ranks here are LONG mass units (`scale` per node initially);
  * every step is integer arithmetic (`div` truncation) — sums are
  * order-independent, results bit-identical across engines and across any
  * partitioning. The truncation loses a bounded trickle of mass per
  * iteration (< 1 unit per edge + 1 per node); that loss is deterministic
  * and identical in the DuckDB oracle, which unrolls the same recurrence.
  *
  * ==Semantics==
  * Classic damped PageRank without dangling-mass redistribution: nodes
  * with no out-edges simply evaporate their mass, and contributions to ids
  * absent from `nodes` are dropped (both choices are deterministic and
  * mirrored in the oracle). r_0 = scale; r_{k+1}(v) = (15*scale) div 100
  * + (85 * sum_{u->v} (r_k(u) div outdeg(u))) div 100.
  *
  * ==Scale shape (the 100 TB question)==
  * Each iteration is ONE shuffle pair: edges ⋈ ranks on src (edges can be
  * pre-partitioned/bucketed by src so only the small rank table moves),
  * then a groupBy(dst) with map-side partial sums. Nothing is collected;
  * the rank table stays (id, long) — 16 bytes a node.
  *
  * `checkpointEvery = k` truncates lineage every k iterations via
  * `localCheckpoint` (single-JVM; on a real cluster use reliable
  * `checkpoint()`). MEASURED (2M nodes / 6M edges, local[32],
  * `BENCH_SCALE.json` r12_pagerank_lineage): wall time is
  * ~linear in iteration count with OR without checkpointing up to 40
  * iterations (~2.6 s/iter), and checkpoint frequency is a wash within
  * run-to-run noise — plan-depth superlinearity does not bite yet at this
  * scale. What checkpointing buys is therefore not local wall time but
  * (a) bounded recomputation on executor loss (without it, a lost task at
  * iteration 40 recomputes all 40), (b) a driver plan/task-graph size cap
  * for UNBOUNDED iteration counts (convergence-driven loops), and (c) a
  * stable memory profile. The parity spec + probe pin that checkpointing
  * never changes a single rank unit (identical total mass, all pairings).
  */
object Graphs {

  /** Static per-iteration operand (src, dst, deg). At cluster scale this
    * is the table to bucket/pre-partition by src — it never changes, so
    * the per-iteration shuffle of it amortizes to zero. */
  private def withDeg(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    edges.join(deg, Seq("src")).select(col("src"), col("dst"), col("deg"))
  }

  /** One power-iteration step: ranks (id, r) -> ranks (id, r). Shared by
    * the fixed-count and convergence-driven entry points so the recurrence
    * cannot drift between them (the oracle unrolls exactly this). */
  private def step(nodes: DataFrame, ed: DataFrame, ranks: DataFrame,
      scale: Long): DataFrame = {
    val base = lit(15L * scale / 100)
    val contrib = ed.join(ranks, ed("src") === ranks("id"))
      .select(col("dst").as("nid"), expr("r div deg").as("c"))
      .groupBy(col("nid")).agg(sum(col("c")).as("agg"))
    nodes.select(col("id"))
      .join(contrib, col("id") === col("nid"), "left")
      .select(col("id"),
        (base + expr("(85 * coalesce(agg, 0L)) div 100")).as("r"))
  }

  /** Damped PageRank over `edges` ("src", "dst") restricted to `nodes`
    * ("id"). Returns (id LONG, r LONG) with r in fixed-point `scale` units.
    *
    * @param iters           number of power iterations (plan depth per
    *                        iteration is constant once checkpointed)
    * @param scale           mass units per node at r_0 (1e9 keeps the
    *                        damped sum far from Long overflow up to ~1e8
    *                        nodes: 85 * total_mass < 2^63)
    * @param checkpointEvery 0 = never (fine for small iteration counts);
    *                        k > 0 = cut lineage every k iterations
    */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointEvery: Int = 0): DataFrame =
    pageRankPrepared(nodes, withDeg(edges), iters, scale, checkpointEvery)

  /** The static per-iteration operand in materialized form: (src, dst,
    * deg) with deg = out-degree of src. This is the frame to persist as
    * an AT-REST layout (graft.sources.EdgeStore: bucketed + sorted by
    * src) — it never changes across iterations OR runs, so bucketing it
    * eliminates both the per-iteration edge exchange AND the per-run
    * degree recompute. */
  def prepareEdges(edges: DataFrame): DataFrame = withDeg(edges)

  /** [[pageRank]] over an already-prepared (src, dst, deg) edge frame —
    * the entry point for edges served from an at-rest EdgeStore layout
    * (spec-pinned bit-identical to the derived path in EdgeStoreSpec).
    * When `ed` scans a table bucketed by src, each iteration's join plans
    * with ZERO exchange on the edge side; only the 16-byte-a-row rank
    * table moves (BENCH_SCALE r14_edge_store measures the elimination). */
  def pageRankPrepared(
      nodes: DataFrame,
      ed: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var ranks = nodes.select(col("id"), lit(scale).as("r"))
    var i = 1
    while (i <= iters) {
      ranks = step(nodes, ed, ranks, scale)
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        ranks = ranks.localCheckpoint()
      i += 1
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass returns to `seeds` ("id")
    * instead of spreading uniformly — rank becomes proximity to the seed
    * set (topic-sensitive centrality, the recommendation / related-docs
    * primitive). Same integer fixed-point contract as [[pageRank]]; the
    * per-seed base is (15·scale·|nodes|) div (100·|seeds|), both counts
    * joined in as broadcast 1-row aggregates (never collected; the
    * product bounds |nodes| ≲ 6e8 at the default scale before Long
    * overflow — raise by lowering `scale` for larger graphs). Nodes
    * unreachable from the seed set decay to EXACTLY 0 (no uniform base),
    * which the spec pins.
    *
    * `checkpointEvery` mirrors [[pageRank]]: 0 = never, k > 0 = cut
    * lineage every k iterations (bounds plan depth for large `iters`).
    */
  def personalizedPageRank(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val ed = withDeg(edges)
    val counts = nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(seeds.agg(count(lit(1)).as("n_seeds")))
    val seedBase = seeds.select(col("id").as("bid"))
      .crossJoin(broadcast(counts))
      .select(col("bid"),
        expr(s"(${15L * scale} * n_nodes) div (100 * n_seeds)").as("b"))
    var ranks = nodes.select(col("id"), lit(scale).as("r"))
    var i = 1
    while (i <= iters) {
      val contrib = ed.join(ranks, ed("src") === ranks("id"))
        .select(col("dst").as("nid"), expr("r div deg").as("c"))
        .groupBy(col("nid")).agg(sum(col("c")).as("agg"))
      ranks = nodes.select(col("id"))
        .join(contrib, col("id") === col("nid"), "left")
        .join(seedBase, col("id") === col("bid"), "left")
        .select(col("id"),
          (coalesce(col("b"), lit(0L)) +
            expr("(85 * coalesce(agg, 0L)) div 100")).as("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        ranks = ranks.localCheckpoint()
      i += 1
    }
    ranks
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each iteration it adopts the most
    * frequent label among its in-neighbors AND ITSELF, ties broken by
    * SMALLEST label. Both choices are load-bearing: min-tie-break makes
    * the sweep fully deterministic (classic async LPA is order-dependent;
    * this variant is a pure function of the graph, so a shuffled run
    * bit-matches a SQL oracle), and the self-vote breaks the synchronous
    * bipartite oscillation (without it a connected pair swaps labels
    * every sweep forever — caught by this spec's first draft). Nodes
    * with no in-edges keep their label. Pass a symmetrized edge list for
    * undirected semantics.
    *
    * Scale shape: per iteration one equi-join (edges ⋈ labels on src),
    * one (dst, label) count, and one per-dst argmax window — all keyed
    * shuffles, state is (id, label) = 16 bytes a node. Unlike connected
    * components (DedupClusters), LPA keeps DENSE regions together but
    * splits weakly-connected ones — the community structure CC flattens.
    */
  /** One synchronous LPA sweep: labels (id, label) -> labels (id, label).
    * Shared by the fixed-count and convergence-driven entry points so the
    * recurrence cannot drift between them (the oracle unrolls exactly
    * this). `voteEdges` must already contain the per-node self-vote. */
  private def lpaStep(voteEdges: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = voteEdges.join(labels, voteEdges("src") === labels("id"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("c").desc, col("label").asc)
    val winner = freq.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dst").as("nid"), col("label").as("new_label"))
    labels.join(winner, col("id") === col("nid"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Self-vote edge per node (see [[labelPropagation]] scaladoc: breaks
    * the synchronous 2-cycle). */
  private def withSelfVotes(nodes: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(nodes.select(col("id").as("src"), col("id").as("dst")))

  def labelPropagation(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val voteEdges = withSelfVotes(nodes, edges)
    var labels = nodes.select(col("id"), col("id").as("label"))
    var i = 1
    while (i <= iters) {
      labels = lpaStep(voteEdges, labels)
      i += 1
    }
    labels
  }

  /** Convergence-driven label propagation: sweep until NO node changes
    * its label (a true fixed point of [[lpaStep]] — deterministic, since
    * min-tie-break LPA is a pure function of the graph), or `maxIters`.
    * Returns (labels, sweeps actually run), where "sweeps run" counts the
    * sweep that verified stability (so a graph already stable after k
    * changes reports k+1).
    *
    * Same lineage discipline as [[pageRankConverged]]: every iterate is
    * eagerly `localCheckpoint`ed, which both bounds plan depth for the
    * unknowable iteration count and materializes the iterate that the
    * per-sweep changed-count action and the next sweep both need. The
    * changed count is ONE driver-bounded row (a join-count action per
    * sweep), never a collect of labels.
    */
  def labelPropagationConverged(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 50): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val voteEdges = withSelfVotes(nodes, edges).localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var i = 0
    var changed = Long.MaxValue
    while (i < maxIters && changed > 0) {
      val next = lpaStep(voteEdges, labels).localCheckpoint()
      changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.label") =!= col("p.label"))
        .count()
      labels = next
      i += 1
    }
    (labels, i)
  }

  /** Orient an undirected simple edge list ("u", "v"; u < v, no
    * self-loops, no multi-edges) by the (degree, id) total order: each
    * edge points from its lower-ordered endpoint to the higher. Returns
    * (src, dst, sdeg, ddeg).
    *
    * This is THE scale lever for wedge-based triangle counting: with
    * degree orientation every vertex's out-degree is bounded by
    * O(sqrt(m)) (more precisely by the graph's degeneracy/arboricity), so
    * the wedge join fans out at most sum(outdeg^2) = O(m^1.5) TOTAL even
    * on power-law graphs — whereas id-orientation gives a low-id hot
    * vertex of degree d a d^2 wedge blowup (d = 1e6 -> 1e12 wedges from
    * ONE vertex). Ties in degree break by id, so the order stays total,
    * deterministic, and expressible as a SQL join against the degree CTE
    * — the oracle can (and does) recompute it exactly.
    *
    * Scale shape: one degree aggregation over 2m endpoint rows + two
    * broadcast-or-shuffle equi-joins to attach endpoint degrees. Nothing
    * is collected; the output carries both degrees so downstream wedge
    * ordering needs no further join.
    */
  def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("x"))
      .unionByName(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // u < v by construction, so on equal degrees id order keeps u -> v.
    val lowFirst = col("du") < col("dv") || (col("du") === col("dv"))
    und
      .join(deg.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("src"),
        when(lowFirst, col("v")).otherwise(col("u")).as("dst"),
        when(lowFirst, col("du")).otherwise(col("dv")).as("sdeg"),
        when(lowFirst, col("dv")).otherwise(col("du")).as("ddeg"))
  }

  /** Wedges of a (degree, id)-oriented edge list (the [[orientByDegree]]
    * output): pairs of out-edges (a->b, a->c) from a common apex with
    * b strictly before c in the (degree, id) order. Every triangle has
    * exactly one wedge whose closing edge (b->c) exists in the oriented
    * list, so `wedges ⋈ oriented` counts each triangle once. */
  def orientedWedges(oriented: DataFrame): DataFrame = {
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    e1.join(e2, col("e1.src") === col("e2.src") &&
        (col("e1.ddeg") < col("e2.ddeg") ||
          (col("e1.ddeg") === col("e2.ddeg") &&
            col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
  }

  /** Multi-source BFS hop distance: for every node the minimum number of
    * edge hops from any seed, computed as `maxHops` rounds of synchronous
    * relaxation — dist_0 = 0 at seeds / `inf` elsewhere;
    * dist_{k+1}(v) = min(dist_k(v), 1 + min_{u→v, dist_k(u) < inf}
    * dist_k(u)). Pure integer arithmetic over a bounded unroll, so a
    * shuffled run bit-matches a SQL oracle (same discipline as
    * [[pageRank]]); nodes unreached within `maxHops` hold exactly `inf`.
    * This is the reachability / contamination-radius primitive: "every
    * doc within h near-dup hops of a benchmark doc" is one bfsHops call
    * over the near-dup graph.
    *
    * Scale shape: per round ONE equi-join (edges ⋈ dist on src, the same
    * bucketable pattern as [[pageRank]]'s step) + a groupBy(dst) min with
    * map-side partial min; state is (id, long). The `dist < inf` filter
    * keeps unreached nodes out of the join — early rounds move only the
    * frontier's neighborhoods.
    *
    * @param inf sentinel for "not reached" — must exceed any real
    *            distance (`maxHops`); kept a parameter so callers with
    *            deeper unrolls can raise it
    */
  def bfsHops(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      inf: Long = 999L): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    require(inf > maxHops, s"inf = $inf must exceed maxHops = $maxHops")
    val e = edges.select(col("src"), col("dst"))
    var dist = nodes.select(col("id"))
      .join(seeds.select(col("id").as("sid")), col("id") === col("sid"), "left")
      .select(col("id"), when(col("sid").isNotNull, 0L).otherwise(inf).as("d"))
    var i = 1
    while (i <= maxHops) {
      val relaxed = e.join(dist, e("src") === dist("id"))
        .filter(col("d") < inf)
        .select(col("dst").as("nid"), (col("d") + lit(1L)).as("nd"))
        .groupBy(col("nid")).agg(min(col("nd")).as("md"))
      dist = dist.join(relaxed, dist("id") === relaxed("nid"), "left")
        .select(col("id"),
          least(col("d"), coalesce(col("md"), lit(inf))).as("d"))
      i += 1
    }
    dist
  }

  /** Bounded Bellman–Ford: weighted single/multi-source shortest paths
    * over a directed edge list ("src", "dst", "w" — non-negative LONG
    * weights), `rounds` synchronous relaxation rounds from the `seeds`
    * ("id") frontier. dist_{k+1}(v) = min(dist_k(v),
    * min_{u→v, dist_k(u) < inf} dist_k(u) + w(u,v)). Identical loop shape
    * to [[bfsHops]] (which is this with w ≡ 1) — pure integer min/+
    * recurrence over a bounded unroll, so a shuffled run bit-matches an
    * unrolled SQL oracle. After `rounds` rounds the result is exact for
    * every path of ≤ `rounds` edges; nodes with no such path hold `inf`.
    *
    * Scale shape: per round ONE equi-join (edges ⋈ dist on src) + a
    * groupBy(dst) min with map-side partial min — state is (id, long),
    * the edge table is the static side to cache/bucket. The `d < inf`
    * filter keeps unreached nodes out of the join, so early rounds only
    * move the frontier's out-neighborhoods.
    *
    * @param inf sentinel for "not reached"; must exceed any reachable
    *            distance (`rounds` × max weight)
    */
  def ssspWeighted(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int,
      inf: Long = 999999L): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("src"), col("dst"), col("w"))
    var dist = nodes.select(col("id"))
      .join(seeds.select(col("id").as("sid")), col("id") === col("sid"), "left")
      .select(col("id"), when(col("sid").isNotNull, 0L).otherwise(inf).as("d"))
    var i = 1
    while (i <= rounds) {
      val relaxed = e.join(dist, e("src") === dist("id"))
        .filter(col("d") < inf)
        .select(col("dst").as("nid"), (col("d") + col("w")).as("nd"))
        .groupBy(col("nid")).agg(min(col("nd")).as("md"))
      dist = dist.join(relaxed, dist("id") === relaxed("nid"), "left")
        .select(col("id"),
          least(col("d"), coalesce(col("md"), lit(inf))).as("d"))
      i += 1
    }
    dist
  }

  /** k-core peeling over an UNDIRECTED simple edge list ("u", "v"):
    * `rounds` synchronous rounds of "drop every node with degree < k and
    * the edges incident to it", then return the surviving nodes whose
    * degree in the peeled subgraph is still ≥ k (i.e. the nodes that
    * would also survive the next round's degree check — at a fixed
    * point this IS the k-core). A bounded unroll rather than
    * converge-to-empty keeps the oracle a finite CTE chain; callers
    * wanting the exact core run rounds until the survivor count stops
    * changing (each round is cheap: one degree count + two semi-joins).
    * Dense-region extraction for curation: the k-core of the near-dup
    * graph is the heavily-duplicated neighborhood worth auditing first.
    *
    * Scale shape: per round one groupBy degree count (map-side partial)
    * and two equi-joins restricting edges to survivors — all keyed on
    * node ids; no all-pairs anywhere. Degrees count BOTH endpoints of
    * each undirected edge (u and v), so a simple-graph edge contributes
    * 1 to each side, matching the usual k-core definition.
    */
  def kCorePeel(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    def degrees(es: DataFrame): DataFrame =
      es.select(col("u").as("x")).unionByName(es.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // each round's edge set is CACHED: the degree count reads it twice
    // (u branch + v branch) and the next round builds on it — uncached,
    // round r's lineage re-executes every prior round per branch, turning
    // 3 rounds into O(2^rounds) recomputation of the input derivation.
    // Memory is O(surviving edges) per round; deep-rounds callers should
    // swap cache for per-round checkpointing (the pageRankConverged
    // pattern).
    var edges = und.select(col("u"), col("v")).cache()
    var i = 0
    while (i < rounds) {
      val keep = degrees(edges).filter(col("deg") >= k).select(col("x"))
      edges = edges
        .join(keep.select(col("x").as("ku")), col("u") === col("ku")).drop("ku")
        .join(keep.select(col("x").as("kv")), col("v") === col("kv")).drop("kv")
        .cache()
      i += 1
    }
    degrees(edges).filter(col("deg") >= k)
      .select(col("x").as("id"), col("deg"))
  }

  /** Convergence-driven PageRank: iterate until the total L1 rank change
    * per iteration drops to `tolPerNode` mass units per node (or
    * `maxIters`). Returns (ranks, iterations actually run).
    *
    * This is the production shape the fixed-count form approximates — and
    * the case where lineage management stops being optional: the
    * iteration count is unknowable up front, so each new rank table is
    * eagerly `localCheckpoint`ed. That serves double duty: it cuts
    * lineage AND materializes the iterate once, so the per-iteration
    * delta action (one driver-bounded row: sum |r_k − r_{k−1}|) does not
    * re-execute the step the next iteration also needs. Damping
    * contracts the iteration by 0.85 per step, so the distance to the
    * fixed point at stop is ≤ delta · 0.85/(1−0.85) ≈ 5.7 · delta.
    *
    * ==Warm start (`init`)==
    * `init = Some(prevRanks)` seeds the iteration from a previous
    * converged result instead of the uniform `scale` vector — the
    * incremental-update shape: when a micro-batch lands a few new edges,
    * re-converging from yesterday's ranks costs the few iterations the
    * PERTURBATION needs, not the full cold count (measured: BENCH_SCALE
    * `r13_pagerank_warm`). The damped iteration is a contraction, so the
    * fixed point is unique and start-independent — warm start changes
    * ONLY the iteration count, never the answer; the spec pins
    * bit-identical fixed points at tolPerNode = 0. New nodes absent from
    * `init` enter at the uniform `scale` mass (the cold prior — their
    * true rank is unknown, and a 0 start would under-weight their
    * outgoing mass during re-convergence); ids in `init` that left the
    * graph are dropped by the inner join on `nodes`.
    */
  def pageRankConverged(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 50,
      tolPerNode: Long = 1000L,
      scale: Long = 1000000000L,
      init: Option[DataFrame] = None): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val ed = withDeg(edges)
    val nNodes = nodes.count()
    var ranks = (init match {
      case Some(prev) =>
        nodes.select(col("id"))
          .join(prev.select(col("id"), col("r").as("r0")), Seq("id"), "left")
          .select(col("id"), coalesce(col("r0"), lit(scale)).as("r"))
      case None => nodes.select(col("id"), lit(scale).as("r"))
    }).localCheckpoint()
    var i = 0
    var delta = Long.MaxValue
    while (i < maxIters && delta > tolPerNode * nNodes) {
      val next = step(nodes, ed, ranks, scale).localCheckpoint()
      delta = next.as("n").join(ranks.as("p"), col("n.id") === col("p.id"))
        .agg(sum(abs(col("n.r") - col("p.r")))).head().getLong(0)
      ranks = next
      i += 1
    }
    (ranks, i)
  }

  /** [[pageRankCanonical]] termination status. */
  val StatusFixedPoint = "fixed_point"
  val StatusCycle = "cycle_canonical"
  val StatusMaxIters = "max_iters"

  /** Exact-convergence PageRank with LIMIT-CYCLE detection — the
    * unconditional-termination form of `pageRankConverged(tolPerNode=0)`
    * (r14 verdict item 4). The integer iteration is deterministic, so its
    * trajectory either reaches an exact fixed point (delta == 0) or
    * eventually REPEATS a state — the unit-level limit cycle that traps
    * k-out-regular graphs, where truncation noise never dies (measured:
    * a 1500-node 1-out-regular xxhash functional graph repeats a state
    * at iteration ~155 and would spin past any budget, while hub-shaped
    * graphs of the same size converge in ~50; several 2-out seed pairs
    * probed at this size converge in 59-73 — the documented trap class
    * is real, its minimal member is the functional graph). The
    * previous contract made callers check `iters < maxIters` themselves;
    * this form detects the repeat and returns a CANONICAL member of the
    * cycle, so termination-with-a-deterministic-answer is unconditional
    * (for maxIters large enough to reach the attractor; `status` says
    * which way the loop ended).
    *
    * ==Mechanism==
    * Each iterate is fingerprinted IN THE SAME ACTION that computes the
    * convergence delta: (bit_xor(xxhash64(id, r)), bit_xor(xxhash64(r,
    * id, 7)), count) — two independent 64-bit order-free digests plus the
    * row count, one extra aggregate over a join the loop already runs, no
    * extra pass. XOR is commutative, so the digest is partitioning-
    * independent; ids are unique per state, so cancellation needs two
    * rows swapping hashes — with 128 digest bits over a few hundred
    * iterates, collision probability is ~2^-120-scale and the digest is
    * treated as identity. On a repeat at iterate k of the fingerprint
    * first seen at iterate j, the states s_k = s_j and the cycle is
    * exactly {s_k, …, s_{k+L-1}}, L = k − j: the loop walks ONE more lap
    * tracking the minimal fingerprint, then steps at most L further to
    * land on that member and returns it. The canonical member is a pure
    * function of the cycle SET (min fingerprint), not of where the
    * trajectory entered it — so any two starts that reach the same
    * attractor return bit-identical ranks (cold ≡ warm on the measured
    * counterexample, spec-pinned in GraphsSpec/GraphStreamSpec).
    *
    * ==Scale shape==
    * Identical to pageRankConverged — one keyed shuffle pair per
    * iteration, per-iterate localCheckpoint, the fingerprint rides the
    * existing delta action; cycle bookkeeping is O(iters) 24-byte tuples
    * on the driver. Worst-case extra work on a cycle: ≤ 2L iterations.
    *
    * @return (ranks, iterations run including the canonicalization lap,
    *         status: fixed_point | cycle_canonical | max_iters)
    */
  def pageRankCanonical(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 200,
      scale: Long = 1000000000L,
      init: Option[DataFrame] = None): (DataFrame, Int, String) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val ed = withDeg(edges)
    var ranks = (init match {
      case Some(prev) =>
        nodes.select(col("id"))
          .join(prev.select(col("id"), col("r").as("r0")), Seq("id"), "left")
          .select(col("id"), coalesce(col("r0"), lit(scale)).as("r"))
      case None => nodes.select(col("id"), lit(scale).as("r"))
    }).localCheckpoint()

    // one action per iterate: delta + the two order-free digests + count
    def advance(prev: DataFrame): (DataFrame, Long, (Long, Long, Long)) = {
      val next = step(nodes, ed, prev, scale).localCheckpoint()
      val row = next.as("n").join(prev.as("p"), col("n.id") === col("p.id"))
        .agg(sum(abs(col("n.r") - col("p.r"))).as("delta"),
          expr("bit_xor(xxhash64(n.id, n.r))").as("h1"),
          expr("bit_xor(xxhash64(n.r, n.id, 7L))").as("h2"),
          count(lit(1)).as("cnt")).head()
      (next, row.getLong(0), (row.getLong(1), row.getLong(2), row.getLong(3)))
    }

    val seen = scala.collection.mutable.HashMap[(Long, Long, Long), Int]()
    var i = 0
    var status = StatusMaxIters
    while (status == StatusMaxIters && i < maxIters) {
      val (next, delta, fp) = advance(ranks)
      ranks = next
      i += 1
      if (delta == 0L) status = StatusFixedPoint
      else seen.get(fp) match {
        case None => seen(fp) = i
        case Some(j) =>
          // cycle {s_i, …, s_{i+L-1}} with s_i = s_j: walk one lap to
          // find the minimal fingerprint, then step onto that member
          val L = i - j
          var minFp = fp
          var cur = ranks
          var k = 1
          while (k < L) {
            val (nxt, _, f) = advance(cur)
            cur = nxt
            i += 1
            if (implicitly[Ordering[(Long, Long, Long)]].lt(f, minFp))
              minFp = f
            k += 1
          }
          if (minFp == fp && L > 1) {
            // the detection state is itself canonical: cur is one step
            // short of it; finish the lap back onto it
            val (nxt, _, _) = advance(cur)
            cur = nxt
            i += 1
          } else if (L > 1) {
            // minFp < fp here, so the loop entry test is well-founded
            var f = fp
            while (f != minFp) {
              val (nxt, _, f2) = advance(cur)
              cur = nxt
              i += 1
              f = f2
            }
          }
          ranks = cur
          status = StatusCycle
      }
    }
    (ranks, i, status)
  }

  /** HITS (hubs & authorities, Kleinberg 1999) in the same integer
    * fixed-point discipline as [[pageRank]] — the second classic
    * eigenvector ranking, and the one that distinguishes PAGES THAT POINT
    * WELL (hubs) from PAGES POINTED AT WELL (authorities); PageRank
    * collapses the two.
    *
    * Recurrence per iteration (both sides mirror it exactly):
    *   a'(v) = Σ_{u→v} h(u);   a(v) = a'(v) · (n·scale) div Σ a'
    *   h'(v) = Σ_{v→w} a(w);   h(v) = h'(v) · (n·scale) div Σ h'
    * i.e. authorities update from CURRENT hubs, hubs from the NEW
    * authorities (the classic ordering), and each side is sum-normalized
    * back to total mass n·scale in integer arithmetic. Nodes with no
    * in-links (out-links) hold authority (hub) 0 from iteration 1 on.
    *
    * ==Why sum-normalization, and the overflow bound==
    * Un-normalized HITS grows like λ_max^k and overflows Long within a few
    * iterations on any non-trivial graph; L2 normalization (the textbook
    * form) needs sqrt — not exactly representable in integer arithmetic.
    * Sum-normalization keeps total mass constant at n·scale, is a pure
    * integer multiply-then-div (deterministic, oracle-unrollable), and
    * preserves the ranking ORDER of the L1-normalized iteration exactly
    * (same positive scalar per side per iteration, modulo the div
    * truncation both engines share). The normalization multiply bounds the
    * usable scale: a'(v) ≤ n·scale, so a'(v)·(n·scale) < 2^63 requires
    * (n·scale)² < 2^63 — n·scale ≤ 3.03e9. The DEFAULT (scale = 0) derives
    * scale = floor(3.03e9 / n) — the finest resolution the bound admits,
    * with no fixed-n cliff (the r9 SemDedup lesson: auto-scaled parameters
    * are the default, fixed ones the opt-in): ~6e6 at 500 nodes, ~3e3 at
    * 1M, 1 at ~3e9 (top scores then still carry ~log10(n) digits, since
    * total mass n concentrates on the high end). An explicit scale is
    * require-checked loudly instead of wrapping silently under ANSI mode.
    *
    * ==Scale shape==
    * Per iteration: two keyed equi-joins (edges ⋈ scores) + two
    * groupBy-sums + two broadcast 1-row totals — all shuffles are on node
    * ids, state is 16 bytes a node per side, and the totals join in
    * broadcast (never collected). Same bucketed-edges amortization as
    * pageRank applies. `checkpointEvery` as in [[pageRank]].
    *
    * @return (id LONG, hub LONG, auth LONG) in `scale` fixed-point units
    */
  val MaxMass: Long = 3037000499L // floor(sqrt(2^63 - 1))

  def hits(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int,
      scale: Long = 0L,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = edges.select(col("src"), col("dst"))
    val nNodes = nodes.count()
    val sc = if (scale > 0) scale else MaxMass / math.max(nNodes, 1)
    require(sc >= 1, s"graph of $nNodes nodes exceeds the $MaxMass-node " +
      "integer-HITS capacity (mass per node rounds to 0)")
    val mass = nNodes * sc
    require(mass <= MaxMass,
      s"n*scale = $mass overflows the normalization multiply; " +
        s"use scale <= ${MaxMass / math.max(nNodes, 1)} for $nNodes nodes " +
        "(or scale = 0 for auto)")

    // one half-update: scores keyed by `joinSide` flow to the other
    // endpoint, then sum-normalize to total mass n*scale
    def half(scores: DataFrame, joinSide: String, outSide: String)
        : DataFrame = {
      val raw = e.join(scores, e(joinSide) === scores("id"))
        .groupBy(col(outSide).as("nid")).agg(sum(col("s")).as("agg"))
      val unnorm = nodes.select(col("id"))
        .join(raw, col("id") === col("nid"), "left")
        .select(col("id"), coalesce(col("agg"), lit(0L)).as("raw"))
      val tot = unnorm.agg(sum(col("raw")).as("tot"))
      unnorm.crossJoin(broadcast(tot))
        .select(col("id"),
          when(col("tot") > 0, expr(s"(raw * $mass) div tot"))
            .otherwise(lit(0L)).as("s"))
    }

    var hubs = nodes.select(col("id"), lit(sc).as("s"))
    var auths = hubs
    var i = 1
    while (i <= iters) {
      auths = half(hubs, "src", "dst") // a(v) = Σ h over in-links, normed
      hubs = half(auths, "dst", "src") // h(v) = Σ a over out-links, normed
      if (checkpointEvery > 0 && i % checkpointEvery == 0) {
        auths = auths.localCheckpoint(); hubs = hubs.localCheckpoint()
      }
      i += 1
    }
    nodes.select(col("id"))
      .join(hubs.select(col("id"), col("s").as("hub")), Seq("id"))
      .join(auths.select(col("id"), col("s").as("auth")), Seq("id"))
  }
}
