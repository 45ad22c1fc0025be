package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{abs, coalesce, col, count, lit, round, sum}

/** Result of a [[PageRank.run]]: the rank vector and how many iterations
  * actually ran (== maxIters under a fixed schedule; fewer when the
  * delta-based stop triggered first).
  */
final case class PageRankResult(ranks: DataFrame, iterations: Int)

/** PageRank over a DataFrame edge list — the Pregel-on-DataFrames shape
  * q129 introduced, extracted as a reusable operator with the two
  * standard-formulation options the frozen oracle query deliberately
  * omits (r11 VERDICT #7):
  *
  *   - `redistributeDangling`: a sink node's rank mass is re-spread
  *     uniformly instead of dropped, so Σ pr stays 1 every iteration
  *     (the textbook formulation). Costs ONE extra tiny aggregate per
  *     round — the dangling set's rank sum — broadcast back as a
  *     scalar; nothing edge-sized moves.
  *   - `tol`: delta-based convergence stop — iterate until
  *     Σ |pr_t − pr_{t−1}| < tol or `maxIters`, whichever first. Costs
  *     one more tiny agg per round (an N-row join of consecutive rank
  *     vectors, both already checkpointed).
  *
  * Scale shape (unchanged from q129): the edge list must be
  * pre-materialized by the caller (localCheckpoint — iterating raw
  * lineage re-runs upstream candidate generation every round); each
  * iteration is one src-keyed join + map-side-combined agg on dst + a
  * left join back to the N-row node set, re-checkpointed so lineage
  * stays bounded. `roundDecimals` keeps every iterate on a fixed value
  * lattice (the cross-engine determinism discipline of the oracle
  * queries); pass None for full double precision.
  */
object PageRank {

  /** @param nodes  one column `node` — every vertex, including edgeless
    * @param edges  columns `src`, `dst` — pre-checkpointed by the caller
    */
  def run(
      nodes: DataFrame, edges: DataFrame,
      damping: Double = 0.85,
      maxIters: Int = 20,
      redistributeDangling: Boolean = false,
      tol: Double = 0.0,
      roundDecimals: Option[Int] = None): PageRankResult = {
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    def lattice(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      roundDecimals.fold(c)(d => round(c, d))
    // join outdeg into the edge set ONCE and pin it on src (see
    // LoopStatic): every iteration's contribution join then exchanges only
    // the N-row rank vector, never the edge set.
    val (edgesWithDeg, _) = LoopStatic.pin(
      edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src"),
      "src")
    try {
      // the node set is re-read every round (left join) — pin it too, on
      // the join key. When dangling mass is redistributed, the set carries
      // a has_out flag (computed ONCE by a node-keyed join against the
      // distinct sources) so the per-round dangling aggregate is a bare
      // filter+sum over the materialized rank vector — no per-round
      // anti-join, and no broadcast of a node-cardinality relation (at
      // 100 TB graph scale a per-round broadcast of the source nodes is a
      // driver OOM).
      val (nodeSet, nodeCount) = LoopStatic.pin(
        if (!redistributeDangling) nodes
        else nodes.join(
            edgesWithDeg.select(col("src").as("node")).distinct()
              .withColumn("has_out", lit(true)),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out")),
        "node")
      try {
        require(nodeCount > 0, "empty node set")
        val n = nodeCount.toDouble
        var pr = nodeSet
          .select(col("node") +: lattice(lit(1.0 / n)).as("pr") +:
            (if (redistributeDangling) Seq(col("has_out")) else Nil): _*)
          .localCheckpoint()
        var it = 0
        var done = false
        try {
          while (it < maxIters && !done) {
            // dangling mass: one tiny filter+sum over the materialized N-row
            // rank vector (nodes with no out-edges), collected as a scalar
            val dangling =
              if (!redistributeDangling) 0.0
              else pr.filter(!col("has_out"))
                .agg(coalesce(sum(col("pr")), lit(0.0))).collect()(0).getDouble(0)
            // With a lattice, the per-edge contribution is put on an INTEGER
            // e(d+4) lattice and summed as longs: floor(pr_eD · 1e4 / outdeg).
            // A double sum of pr/outdeg is association-order-dependent, and a
            // result within 1 ulp of a .5·10^-d boundary then rounds
            // differently between engines (observed: one q151 node at
            // sf0.1 flipped at 1e-8 when the edge set changed). The integer
            // sum is exact in ANY order, and the SQL oracle replays the same
            // integer division, so the straddle class is gone by construction.
            // (The double intermediates are exact: pr_eD·1e4 ≤ 10^(d+4) and
            // the floor of the correctly-rounded division cannot misround —
            // a non-divisible quotient sits ≥ 1/outdeg below the next
            // integer, orders of magnitude beyond 1 ulp at this scale.)
            // the contribution join carries only (node, pr) of the rank vector
            val prSlim = pr.select(col("node").as("src"), col("pr"))
            val contrib = roundDecimals match {
              case Some(d) =>
                val unit = math.pow(10.0, d + 4)
                edgesWithDeg
                  .join(prSlim, "src")
                  .groupBy(col("dst"))
                  .agg((sum(org.apache.spark.sql.functions.floor(
                      round(col("pr") * math.pow(10.0, d)) * lit(1e4)
                        / col("outdeg")).cast("long")).cast("double") / lit(unit))
                    .as("m"))
                  .withColumnRenamed("dst", "node")
              case None =>
                edgesWithDeg
                  .join(prSlim, "src")
                  .groupBy(col("dst"))
                  .agg(sum(col("pr") / col("outdeg")).as("m"))
                  .withColumnRenamed("dst", "node")
            }
            val next = nodeSet
              .join(contrib, Seq("node"), "left")
              .select(col("node") +: lattice(
                lit((1.0 - damping) / n)
                  + lit(damping) * (coalesce(col("m"), lit(0.0))
                    + lit(dangling / n))).as("pr") +:
                (if (redistributeDangling) Seq(col("has_out")) else Nil): _*)
              .localCheckpoint()
            it += 1
            if (tol > 0.0) {
              // one more tiny agg: L1 delta of consecutive N-row rank vectors
              val delta = next.select(col("node"), col("pr").as("pn"))
                .join(pr.select(col("node"), col("pr")), Seq("node"))
                .agg(coalesce(sum(abs(col("pn") - col("pr"))), lit(0.0)))
                .collect()(0).getDouble(0)
              done = delta < tol
            }
            // round t's rank vector is dead once `next` is materialized and
            // the delta read — free its blocks eagerly
            GraftSqlBridge.unpersistCheckpoint(pr)
            pr = next
          }
        } catch {
          case t: Throwable => GraftSqlBridge.unpersistCheckpoint(pr); throw t
        }
        PageRankResult(pr.select(col("node"), col("pr")), it)
      } finally GraftSqlBridge.unpersistCheckpoint(nodeSet)
    } finally GraftSqlBridge.unpersistCheckpoint(edgesWithDeg)
  }
}
