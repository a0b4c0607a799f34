package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-component dedup clustering: given near-duplicate PAIRS (from
  * MinHash/SimHash banding, n-gram Jaccard, or content-hash equality),
  * resolve them into duplicate GROUPS with one canonical id per group — the
  * step a training-data pipeline actually needs ("keep one doc per cluster"),
  * since near-dup relations are not transitive-closed as emitted.
  *
  * Algorithm: iterative min-label propagation with pointer jumping (the
  * standard distributed connected-components loop, cf. GraphX/Pregel CC and
  * the large-star/small-star family). Each vertex starts labeled with its
  * own id; every round each vertex takes the min of its own and its
  * neighbors' labels, then jumps through its label's label — so the loop
  * converges in O(log diameter) rounds to the unique fixpoint (min is a
  * semilattice, so the result is order- and partitioning-independent —
  * AQE/cluster-safe).
  *
  * Scale: each iteration is one equi-join + one aggregation — all shuffles
  * on the vertex id, so partitioning is stable across iterations and AQE
  * coalesces the tiny tail. `localCheckpoint` truncates the growing lineage
  * (the classic iterative-Spark trap). Near-dup graphs are sparse forests of
  * small clusters, so diameter — and the iteration count — stays small even
  * at 100 TB corpus scale.
  */
object DedupClusters {

  /** @param vertices one column `id`
    * @param edges    columns `a`, `b` — undirected (orientation ignored)
    * @return (id, comp) where comp = min id in the component
    */
  def components(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // the contract is "(id, comp) over `vertices`": an edge endpoint absent
    // from `vertices` must neither appear in the output nor bridge two real
    // components — without this semi-join the propagation join injects
    // foreign `a` endpoints straight into the label table
    val vids = vertices.select(col("id"))
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .join(vids.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(vids.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
      .distinct().cache()
    var labels = vertices.select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    // convergence via the label-sum invariant: labels only ever DECREASE
    // (min is a meet), so sum(comp) strictly drops iff any label changed —
    // one cheap aggregation per iteration instead of a join + count job.
    // Decimal accumulation: exact and un-overflowable (ANSI long sum would
    // throw at ~1e18 aggregate id mass)
    def sumComp(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head() match {
        case r if r.isNullAt(0) => java.math.BigDecimal.ZERO
        case r                  => r.getDecimal(0)
      }
    var prevSum = sumComp(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val prop = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("comp"))
      // materialize BEFORE the jump self-join: both join sides then read
      // the checkpointed rows (a lazy self-join of the union tree trips
      // Union constraint rewriting and would recompute the step twice)
      val stepped = labels.unionByName(prop)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      // pointer jumping: comp ← label[comp]. Every comp value is itself a
      // vertex id, so one extra self-join per round halves the remaining
      // distance to the root — O(log diameter) rounds instead of
      // O(diameter), which is what survives a deep component at scale.
      val next = stepped
        .join(stepped.select(col("id").as("jid"), col("comp").as("jcomp")),
          col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
        .localCheckpoint() // materialize + truncate lineage
      val nextSum = sumComp(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    sym.unpersist()
    // a silent non-converged return would split one real component into
    // several phantom "canonical" docs — fail loudly instead
    if (changed) throw new IllegalStateException(
      s"components() did not converge within $maxIter iterations; " +
        "raise maxIter above log2 of the largest component diameter")
    labels
  }

  /** MinHash-edge duplicate clusters with exact-duplicate PRE-COLLAPSE —
    * the clone-safe composition (see `MinHashDedup
    * .candidatePairsCollapsed`): components run over one representative
    * per distinct text, then every doc inherits its representative's
    * component. This is EXACT, not an approximation: representatives are
    * clone-group minima (so the component's min-id label is unchanged),
    * and clones carry the identical signature as their representative
    * (so any edge a clone would contribute, its representative
    * contributes too). The edge enumeration shrinks by the clone factor
    * SQUARED — the difference between 28M and 306 candidate pairs at the
    * factor-100 corpus. Equality with the full-corpus composition is
    * spec-pinned on planted clones.
    */
  def minhashClustersCollapsed(docs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, minEstJaccard: Double = 0.5): DataFrame = {
    val (pairs, repMap) =
      MinHashDedup.candidatePairsCollapsed(docs, numHashes, bands)
    val edges = pairs.filter(col("est_jaccard") >= minEstJaccard)
      .select(col("a"), col("b"))
    // tokenizable representatives only — the same >= 3-token vertex rule
    // as the full composition (a clone is tokenizable iff its rep is:
    // identical text)
    val tokReps = docs
      .join(repMap.filter(col("doc_id") === col("rep_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("id"))
    val comps = components(tokReps, edges)
    repMap.join(comps, repMap("rep_id") === comps("id"))
      .select(repMap("doc_id"), col("comp"))
      .orderBy(col("doc_id"))
  }
}
