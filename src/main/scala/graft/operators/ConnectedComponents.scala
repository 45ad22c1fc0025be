package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Distributed connected components over a candidate-pair edge list — the
  * transitive-closure step that turns near-duplicate PAIRS (MinHash/SimHash/
  * Jaccard candidates, q42-q45) into dedup CLUSTERS with one canonical
  * representative each. Without it, A~B and B~C dedup to {A,C} or {A,B,C}
  * depending on pair order; with it, the cluster {A,B,C} keeps exactly
  * min-id A.
  *
  * Algorithm: iterative min-label propagation with pointer jumping (path
  * doubling). Each round every node takes the minimum label over itself and
  * its neighbors, then short-circuits one level of indirection
  * (lbl := lbl(lbl)). Neighbor-min alone needs O(diameter) rounds; the
  * jump step makes label chains collapse geometrically, so convergence is
  * O(log n) rounds on adversarial paths and 2-3 rounds on real dedup
  * graphs (near-clique clusters).
  *
  * Scale notes (100 TB): the input is the candidate-pair graph — orders of
  * magnitude smaller than the corpus — and every step is a keyed
  * aggregation or equi-join on node id, so each round is a constant number
  * of hash shuffles of the (node, label) set with map-side partial min.
  * Per-round `localCheckpoint` materializes the labels and TRUNCATES the
  * lineage — without it the plan doubles every iteration and the driver,
  * not the data, becomes the bottleneck. A hot node (one doc near-dup to
  * millions) skews the neighbor-min aggregation exactly like any hot
  * groupBy key; partial aggregation already collapses it to one row per
  * partition before the shuffle.
  *
  * Fault-tolerance trade-off: `localCheckpoint` stores the truncated
  * lineage's blocks on EXECUTORS — losing an executor mid-run loses
  * blocks that can no longer be recomputed, failing the job. That is the
  * right default for an iterative job whose rounds are minutes (rerun on
  * failure).
  */
object ConnectedComponents {

  /** Resolve components of the undirected graph given by `edges`.
    *
    * @param edges  DataFrame holding one row per edge; self-loops and
    *               duplicate/reversed edges are fine (normalized away)
    * @param srcCol source node column (castable to LONG, non-null)
    * @param dstCol destination node column
    * @param maxIter safety bound on propagation rounds; the algorithm
    *               throws if it has not converged by then (a converged
    *               result is exact, never approximate)
    * @return (node LONG, component LONG) — component is the MINIMUM node
    *         id reachable from `node`; one row per distinct node that
    *         appears in `edges`
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // the symmetric closure, deduped once and pinned on b (see LoopStatic).
    // One explode to (a,b)+(b,a) evaluates the upstream pipeline once (a
    // self-union would plan it twice), and the distinct reuses the
    // repartition's exchange: hashpartitioning(b) co-locates equal rows.
    val (und, _) = LoopStatic.pin(
      e.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")),
      "b", _.distinct())
    try {
      // labels seed at the FIRST round's neighbor minimum instead of the
      // identity — min(Γ(node) ∪ {node}) is one aggregation over `und`
      // that reuses its hashpartitioning(b) (zero exchanges, cheaper than
      // the old distinct-node scan), and the descent starts one round
      // further along. The fixpoint is unchanged: labels still start ≤
      // node, descend monotonically, and the convergence check certifies
      // the same stable point (every label equal to the min over
      // Γ(node) ∪ {node}); only the round count moves. The oracle replays
      // a recursive-CTE closure, not the schedule.
      var labels = GraftSqlBridge.checkpointNonAdaptive(und.groupBy(col("b"))
        .agg(least(min(col("a")), col("b")).as("lbl"))
        .select(col("b").as("node"), col("lbl")))
      try {
        var converged = false
        var iter = 0
        while (!converged && iter < maxIter) {
          iter += 1
          // 1) neighbor min + previous-label carry in ONE keyed aggregation:
          // the labels set contributes its own (lbl, prev=lbl) row and each
          // undirected edge contributes the neighbor's label with a null
          // prev, so min(lbl) is the minimum over Γ(node) ∪ {node} and
          // max(prev) recovers the node's previous label (exactly one
          // non-null per group). A groupBy FOLLOWED BY a left join back to
          // labels computes the same thing in two shuffles where this needs
          // one; at test scale the loop is pure per-round scheduling
          // overhead, so the extra exchange was ~30% of q93. (Convergence
          // is read off the same materialized result, so no round runs
          // twice.)
          val nbr = und
            .join(labels.select(col("node").as("b"), col("lbl")), "b")
            .select(col("a").as("node"), col("lbl"),
              lit(null).cast("long").as("prev"))
          val afterNbr = labels
            .select(col("node"), col("lbl"), col("lbl").as("prev"))
            .union(nbr)
            .groupBy(col("node"))
            .agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
          // 2) pointer jump: labels are themselves node ids, so resolve one
          // level of indirection. Jump through the PREVIOUS round's
          // MATERIALIZED labels (lbl := labels_t(lbl)) instead of
          // self-joining afterNbr — the self-join evaluated the whole
          // union+agg subtree twice per round; the stale map is free
          // (checkpointed blocks) and still only ever maps a label to a
          // smaller id of the same component (labels_t(x) <= x and labels
          // start at the identity), so monotone convergence to the
          // component minimum — the property the convergence check below
          // certifies — is untouched; only the number of rounds to get
          // there can differ, and the converged fixpoint (every label equal
          // to the min over Γ(node) ∪ {node}) is the same. The oracle
          // replays a recursive-CTE closure, not the round schedule, so
          // declared results cannot move.
          val stepped = afterNbr
            .join(
              labels.select(col("node").as("pn"), col("lbl").as("pl")),
              col("lbl") === col("pn"), "left")
            .select(col("node"), col("prev"),
              coalesce(col("pl"), col("lbl")).as("lbl"))
            .localCheckpoint()
          // the eager checkpoint above already ran the round's join/agg work;
          // this filter only scans the materialized label blocks (take(1),
          // short-circuits on the first changed row)
          converged = stepped.filter(col("lbl") =!= col("prev")).isEmpty
          // round t's labels are dead once `stepped` is materialized and
          // checked — free the blocks eagerly
          GraftSqlBridge.unpersistCheckpoint(labels)
          labels = stepped.select(col("node"), col("lbl"))
        }
        require(converged,
          s"connected components did not converge within $maxIter rounds")
      } catch {
        case t: Throwable => GraftSqlBridge.unpersistCheckpoint(labels); throw t
      }
      labels.select(col("node"), col("lbl").as("component"))
    } finally GraftSqlBridge.unpersistCheckpoint(und)
  }
}
