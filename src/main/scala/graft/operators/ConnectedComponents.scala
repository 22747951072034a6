package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed connected components.
  *
  * Primary loop: iterative min-label propagation ("hash-min") — every node
  * repeatedly adopts the smallest label among itself and its neighbors until
  * a fixpoint. Each round is one shuffle join (edges hash-partitioned on
  * `dst` against the current labels) plus a map-side-combining `min`
  * aggregation — no driver-side graph state, so the rounds scale to any edge
  * count the cluster can shuffle. Rounds needed = the largest component's
  * diameter. That bound is why hash-min is the right default for
  * *near-duplicate clustering*: LSH candidate components are dense
  * quasi-cliques (every member collided with a shared band bucket), so
  * diameter is tiny (2-3).
  *
  * Convergence detection is fused into the materialization: the changed-label
  * count is an [[Observation]] metric collected by the same job that
  * materializes the round's `localCheckpoint` — one Spark action per round,
  * not a checkpoint plus a second `isEmpty` scan.
  *
  * Fallback for long-diameter graphs: if hash-min has not converged within
  * `maxIter` rounds, the partially-converged labels are used to contract the
  * graph (each endpoint mapped through its current label) and the alternating
  * large-star/small-star algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) finishes on the contracted graph in
  * O(log d) rounds. Contraction is label-safe: labels only decrease and stay
  * inside the component, and the component minimum always keeps itself as its
  * own label, so the contracted graph's component minima are the original
  * ones.
  *
  * Per-iteration `localCheckpoint` truncates the logical plan: without it the
  * lineage doubles every round and Catalyst re-analyzes an exponentially
  * growing tree (the classic iterative-algorithm trap).
  *
  * Reference scope note: the reference pipeline has no graph operator at
  * all — this is a beyond-reference training-data operator (dedup clusters
  * over MinHash candidate pairs).
  */
object ConnectedComponents {

  /** Per-run diagnostics. `hashMinRounds` counts LOGICAL hash-min rounds;
    * the fused loop materializes one Spark action per round PAIR, so the
    * job count is (hashMinRounds + 1) / 2 + 2 setup checkpoints. */
  final case class CcStats(
      hashMinRounds: Int,
      hashMinConverged: Boolean,
      alternatingRounds: Int)

  /** Symmetrize and checkpoint the edges ONCE so no round re-runs the
    * upstream pair-mining pipeline. NOTE a checkpoint scan (`Scan
    * ExistingRDD`) carries NO partitioning metadata, so a
    * `repartition(dst)` before the checkpoint would NOT be visible to later
    * rounds (verified on the executed plan — the r8 pre-partition
    * experiment was reverted for exactly this). Near-dup graphs keep the
    * edge side small, so AQE broadcast-joins labels↔edges per round; for a
    * genuinely edge-heavy graph the layout that survives is the on-disk
    * [[graft.sources.BucketedLayout]] bucketed by `dst`. */
  private[graft] def prepSym(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)

  /** One hash-min round's neighbor-minimum — factored out so PlanAuditSpec
    * can pin the round plan's exchange count. */
  private[graft] def hashMinRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("id", "dst"), "dst")
      .groupBy(col("src").as("id"))
      .agg(min("label").as("nlabel"))

  /** @param nodes one column `id` — every vertex, including isolated ones
    * @param edges columns `src`, `dst` — undirected (symmetrized here)
    * @return (`id`, `label`) where `label` = min node id in the component
    */
  def apply(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame =
    run(nodes, edges, maxIter)._1

  /** [[apply]] plus [[CcStats]] — for tests and `graft.Tools scale`. */
  def run(
      nodes: DataFrame,
      edges: DataFrame,
      maxIter: Int = 50,
      altMaxIter: Int = 40): (DataFrame, CcStats) = {
    val sym = prepSym(edges)
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpoint(true)
    var converged = false
    var iter = 0
    // TWO hash-min rounds per materialization (optimization guide §2.4 —
    // pay the per-round checkpoint/observe job half as often): round 2 of
    // a pair chains lazily on round 1 inside the SAME action, so a
    // diameter-2 quasi-clique (the LSH near-dup shape) converges in ONE
    // job instead of three. Convergence detection observes the LAST round
    // of the pair, which is exact: labels only decrease, so "the final
    // round changed nothing" IS the fixpoint — an earlier round's changes
    // cannot hide it. Labels are bit-identical to the one-round loop
    // (extra rounds past the fixpoint are idempotent); `iter` keeps
    // counting LOGICAL rounds so maxIter means what it always meant.
    while (!converged && iter < maxIter) {
      val take = math.min(2, maxIter - iter)
      var cur = labels
      for (_ <- 1 until take) { // lazy intermediate round(s), no action
        val nm = hashMinRound(sym, cur)
        cur = cur.join(nm, Seq("id"), "left_outer")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      }
      val neighborMin = hashMinRound(sym, cur)
      val obs = Observation(s"cc_hashmin_$iter")
      // The observe metric rides the checkpoint job: CollectMetricsExec's
      // accumulator is populated while the rows stream into the checkpoint
      // partitions, so obs.get returns without any extra scan.
      val next = cur.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("next_label"))
        .observe(obs, coalesce(
          sum(when(col("next_label") < col("label"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .select(col("id"), col("next_label").as("label"))
        .localCheckpoint(true)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next
      iter += take
    }
    var altRounds = 0
    if (!converged) {
      // Contract the graph through the current labels and finish with the
      // O(log d) alternating algorithm. Returning unconverged labels would
      // silently split components (the caller would keep duplicate
      // documents) — this path keeps the result exact instead of throwing.
      val bySrc = labels.select(col("id").as("src"), col("label").as("slabel"))
      val byDst = labels.select(col("id").as("dst"), col("label").as("dlabel"))
      val contracted = sym.join(bySrc, "src").join(byDst, "dst")
        .filter(col("slabel") =!= col("dlabel"))
        .select(col("slabel").as("src"), col("dlabel").as("dst"))
      val (leafMap, rounds) = alternating(contracted, altMaxIter)
      altRounds = rounds
      labels = labels
        .join(leafMap.select(col("src").as("label"), col("dst").as("root")),
          Seq("label"), "left_outer")
        .select(col("id"), coalesce(col("root"), col("label")).as("label"))
    }
    (labels, CcStats(iter, converged, altRounds))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al. SoCC'14).
    *
    * Edges are kept canonical as (src > dst). Per round:
    *  - large-star: every node u connects its strictly larger neighbors to
    *    m = min(neighborhood(u) + u);
    *  - small-star: every node u connects its smaller neighbors (and itself)
    *    to m = min of those.
    * Both preserve connectivity; the fixpoint is a star forest whose centers
    * are the component minima, reached in O(log diameter) rounds.
    *
    * Convergence is emission-level (a round where every rewritten edge equals
    * its input edge), observed on the same job as each star's checkpoint —
    * at the star-forest fixpoint both stars rewrite every edge to itself, so
    * the loop terminates exactly there.
    *
    * @return (leaf->center edges of the final star forest, rounds used);
    *         component minima (centers) and isolated nodes do not appear on
    *         the left side — callers default those labels to the node itself.
    */
  def alternating(edges: DataFrame, maxIter: Int = 40): (DataFrame, Int) = {
    var e = edges.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
      .localCheckpoint(true)
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: group the symmetrized neighborhood by its smaller
      // endpoint u; every canonical edge (v, u) with v > u is rewritten once,
      // from u's group, to (v, min(N(u) + u)).
      val symN = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val uMin = symN.groupBy("u").agg(min("v").as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val lsObs = Observation(s"cc_ls_$iter")
      val ls = symN.join(uMin, "u")
        .filter(col("v") > col("u"))
        .observe(lsObs, coalesce(
          sum(when(col("m") =!= col("u"), 1L).otherwise(0L)), lit(0L)).as("changed"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
        .localCheckpoint(true)
      val lsChanged = lsObs.get("changed").asInstanceOf[Long]
      // small-star: group canonical edges by their larger endpoint u; all
      // smaller neighbors and u itself attach to m = min of the group.
      val sMin = ls.groupBy(col("src").as("u")).agg(min("dst").as("m"))
      val ssObs = Observation(s"cc_ss_$iter")
      val ss = ls.select(col("src").as("u"), col("dst").as("v")).join(sMin, "u")
        .observe(ssObs, coalesce(
          sum(when(col("m") =!= col("v"), 1L).otherwise(0L)), lit(0L)).as("changed"))
        .select(
          when(col("v") === col("m"), col("u")).otherwise(col("v")).as("src"),
          col("m").as("dst"))
        .distinct()
        .localCheckpoint(true)
      val ssChanged = ssObs.get("changed").asInstanceOf[Long]
      e = ss
      converged = lsChanged == 0L && ssChanged == 0L
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents.alternating did not converge in $maxIter rounds — " +
        s"this exceeds the O(log diameter) bound; the graph is larger than " +
        s"2^$maxIter nodes or the input is pathological")
    (e, iter)
  }
}
