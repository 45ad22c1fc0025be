package graft.operators

import graft.SparkSpec

/** ConnectedComponents must equal brute-force union-find on arbitrary
  * graphs, converge on the adversarial worst case (a long path — maximum
  * diameter, where pointer jumping earns its keep), and normalize messy
  * input (self-loops, duplicate and reversed edges).
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical representative = min node id in the component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => ns.map(_ -> ns.min) }
  }

  private def run(edges: Seq[(Long, Long)], maxIter: Int = 30): Map[Long, Long] = {
    import spark.implicits._
    if (edges.isEmpty) Map.empty
    else ConnectedComponents.run(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("seeded random graphs equal brute-force union-find") {
    // two graphs at a time, on two threads sharing one session
    val rng = new scala.util.Random(20260812L)
    val graphs = (1 to 8).map { _ =>
      val n = 2 + rng.nextInt(40)
      val m = 1 + rng.nextInt(60)
      Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
    }.filter(_.nonEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try graphs.grouped(2).foreach { pair =>
      val runs = pair.map(es => scala.concurrent.Future(run(es)))
      pair.zip(runs).foreach { case (es, f) =>
        val got = scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf)
        assert(got == unionFind(es), s"edges: $es")
      }
    } finally pool.shutdown()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "concurrent runs left the session's AQE flag changed")
  }

  test("long path (worst-case diameter) converges in O(log n) rounds") {
    // a 200-node path has diameter 199; plain neighbor-min would need 199
    // rounds, pointer jumping must do it within the default 30
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = run(path)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("two clusters plus transitive chain resolve to min ids") {
    // {1,2,3} chained (1-2, 2-3 only: A~B, B~C) and {10,11}
    val got = run(Seq((2L, 1L), (2L, 3L), (11L, 10L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("self-loops, duplicates and reversed edges are normalized") {
    val got = run(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L)))
    // pure self-loop nodes carry no connectivity information and are
    // dropped with the loop edge; 5 contributes no row
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("neighbor-min seeding: a clique converges in ONE round (r20)") {
    // labels start at min(Γ(n) ∪ {n}) — for a clique that is already the
    // component min, so round 1 changes nothing and certifies the
    // fixpoint. The pre-r20 identity seed needed round 1 to propagate and
    // round 2 to certify, so maxIter = 1 would have failed loudly here.
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 9L))
    assert(run(clique, maxIter = 1) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("non-convergence within maxIter fails loudly") {
    val path = (0L until 50L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalArgumentException](run(path, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
    // the failed run freed every checkpoint it made: the edge set and
    // the last label vector
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"checkpoints left behind: $leaked")
  }

  test("result plan size is constant in the iteration count (lineage cut)") {
    import spark.implicits._
    // a 64-node path needs several pointer-jumping rounds; without the
    // per-round checkpoint the final plan would double per round and this
    // count would explode into the hundreds
    def planNodes(edges: Seq[(Long, Long)]): Int =
      ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
        .queryExecution.analyzed.collect { case n => n }.size
    val short = planNodes(Seq((0L, 1L), (2L, 3L)))
    val long = planNodes((0L until 63L).map(i => (i, i + 1)))
    assert(long == short,
      s"plan grew with iterations: $short nodes vs $long — lineage not truncated")
    assert(short <= 6, s"expected a checkpoint-rooted plan, got $short nodes")
  }
}
