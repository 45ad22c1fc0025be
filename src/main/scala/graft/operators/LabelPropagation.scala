package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert, Kumara 2007) over a
  * DataFrame edge list — community detection as the third member of the
  * graph-operator family next to [[ConnectedComponents]] (reachability)
  * and [[PageRank]] (centrality). Communities are finer than connected
  * components: a bridge edge joins two components into one CC but LPA
  * keeps the densely-linked cores apart, which is what near-dup cluster
  * analysis actually wants when LSH buckets chain unrelated docs.
  *
  * Determinism (the cross-engine oracle discipline): the classic algorithm
  * breaks count ties randomly and updates asynchronously; both choices are
  * irreproducible. This implementation is the deterministic variant —
  * SYNCHRONOUS rounds (every node updates from the round-t labels) and
  * ties broken toward the SMALLEST label — so a SQL oracle can replay it
  * round for round. Synchronous LPA can oscillate on bipartite-ish
  * structure instead of converging; under a fixed iteration budget that
  * is harmless (and exactly reproducible), which is the trade chosen here.
  *
  * Scale shape per round: edges join the N-row label vector (src-keyed),
  * one map-side-combined count agg keyed by (dst, label), then an argmax
  * agg keyed by dst via min(struct(-cnt, label)) — ordering structs avoids
  * a second window/exchange since both aggs share the dst partitioning.
  * The label vector is re-checkpointed every round so lineage stays
  * bounded (the [[PageRank]] iteration discipline). Nothing edge-squared
  * ever forms; the per-round cost is one keyed join + two same-key aggs.
  */
object LabelPropagation {

  /** @param nodes one column `node` — every vertex, including edgeless
    *              ones (they keep their own id as label)
    * @param edges columns `src`, `dst` (undirected: pass each edge once;
    *              both directions are derived) — pre-materialized by the
    *              caller (localCheckpoint) when derived from an expensive
    *              candidate generation
    * @param iters fixed synchronous round count
    * @return (node, label) after `iters` rounds; label is the node id of
    *         the community seed
    */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the symmetric edge set, pinned on src (see LoopStatic): rounds reuse
    // its partitioning and only the label vector exchanges. One explode
    // pass, not a self-union: a union plans the upstream edge pipeline
    // twice (only exchanges are reused across branches).
    val (bidir, _) = LoopStatic.pin(
      edges.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst")),
      "src")
    try {
      var labels = nodes.select(col("node"), col("node").as("label"))
        .localCheckpoint()
      try {
        for (_ <- 0 until iters) {
          val counts = bidir
            .join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst"), col("label"))
            .agg(count(lit(1)).as("cnt"))
          // argmax by (cnt desc, label asc) without a window: lexicographic
          // struct min on (-cnt, label) rides the same dst partitioning
          val winner = counts
            .groupBy(col("dst"))
            .agg(min(struct((col("cnt") * -1).as("nc"), col("label"))).as("w"))
            .select(col("dst").as("node"), col("w.label").as("newLabel"))
          val next = labels.join(winner, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("newLabel"), col("label")).as("label"))
            .localCheckpoint()
          // round t's labels are dead once round t+1 is materialized
          GraftSqlBridge.unpersistCheckpoint(labels)
          labels = next
        }
      } catch {
        case t: Throwable => GraftSqlBridge.unpersistCheckpoint(labels); throw t
      }
      labels
    } finally GraftSqlBridge.unpersistCheckpoint(bidir)
  }
}
