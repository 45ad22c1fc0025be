package graft.functions

import graft.functions.{NativeExpressions => NE}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Brute force is the exactness baseline (one pass, TakeOrdered top-k).
  * The scale path is sign-random-projection LSH: nPlanes deterministic
  * hyperplanes give 2^nPlanes buckets; a probe only scans the buckets
  * within Hamming distance `probeRadius` of its own (multi-probe), so the
  * candidate set is ~n·Σ_{r<=probeRadius} C(nPlanes,r)/2^nPlanes instead
  * of n (22/64 of the corpus at the nPlanes=6, radius=2 defaults — recall
  * vs cost is tuned by radius). The hyperplane
  * sign matrix is derived from md5("plane dim") on the driver and embedded
  * in the plan as literals — the same role as a broadcast random-projection
  * matrix, and reproducible by the DuckDB oracle from the same definition.
  */
object VectorSearch {

  /** Hard ceiling on the probe-side rows the indexed entry points pull to
    * the driver (probes × nProbe). The probe relation is bounded by
    * contract — a serving query carries a handful of query vectors — but
    * an unbounded relation handed in by mistake must fail loudly with
    * this message, not OOM the driver. `take(limit + 1)` collects
    * incrementally, so the failure never materializes the full relation.
    */
  val MaxCollectedProbeRows = 100000

  private def collectBounded(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.take(MaxCollectedProbeRows + 1)
    require(rows.length <= MaxCollectedProbeRows,
      s"probe relation exceeds $MaxCollectedProbeRows rows (probes × nProbe) — " +
        "indexed ANN entry points collect the probe side to the driver; " +
        "batch large probe sets or raise MaxCollectedProbeRows deliberately")
    rows
  }

  /** Deterministic ±1 hyperplane matrix: sign(j, i) = +1 iff the top bit
    * of md5("j i") is 0. Pure function of (nPlanes, dim) — any process
    * (Spark driver, DuckDB oracle generator) recomputes identical planes.
    */
  def planeSigns(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (j, i) =>
      val d = md.digest(s"$j $i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((d(0) & 0x80) == 0) 1.0 else -1.0
    }
  }

  /** The sign row for plane j as a DuckDB list literal (oracle SQL). */
  def planeSignsSql(nPlanes: Int, dim: Int, j: Int): String =
    planeSigns(nPlanes, dim)(j)
      .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Sign-projection bucket id for an ARRAY<FLOAT> column. A vector of the
    * wrong dimensionality fails loudly (zip_with would null-pad it and
    * silently hash everything to bucket 0, degenerating LSH to one bucket).
    */
  def signBucket(vec: Column, nPlanes: Int, dim: Int): Column = {
    val signs = planeSigns(nPlanes, dim)
    val v = graft.functions.VectorFunctions.toDoubles(vec)
    def planeSum(j: Int): Column =
      graft.functions.VectorFunctions.dot(v, typedlit(signs(j).toSeq))
    val bucket = (0 until nPlanes)
      .map(j => when(planeSum(j) > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce((a, b) => a + b)
    when(size(vec) === dim, bucket)
      .otherwise(raise_error(concat(
        lit(s"signBucket: expected $dim-dim vector, got "),
        size(vec).cast("string"))))
  }

  /** Exact top-k neighbours per probe (excluding self). */
  def bruteForceTopK(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes
      .select(col("vec_id").as("pid"), col("embedding").as("pv")))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb.join(p, col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }

  /** Bucket-id XOR masks for multi-probe at Hamming distance <= radius
    * (own bucket first). Shared by lshTopK, its DuckDB oracle, and the
    * recall spec so all three probe the identical candidate set.
    */
  def probeMasks(nPlanes: Int, radius: Int): Seq[Int] = {
    def combos(start: Int, left: Int): Seq[Int] =
      if (left == 0) Seq(0)
      else (start until nPlanes).flatMap(j =>
        combos(j + 1, left - 1).map(m => m | (1 << j)))
    (0 to radius).flatMap(r => combos(0, r))
  }

  /** IVF coarse-cell assignment: cell = argmax over `cents` of
    * round(cosine(vec, centroid), 4), ties to the LOWEST centroid id.
    * Pure narrow expression — the centroid table rides into the plan as
    * literals (the broadcast-codebook pattern), so assignment adds no
    * shuffle at any corpus size. The 4-decimal rounding is the tie
    * discipline that lets an external oracle reproduce the argmax.
    */
  def ivfCell(vec: Column, cents: Seq[(Int, Seq[Float])]): Column = {
    val entries = cents.map { case (cid, cv) =>
      struct(round(NE.vectorCosine(vec, typedlit(cv)), 4).as("s"),
        lit(-cid).as("n"))
    }
    (array_max(array(entries: _*)).getField("n") * -1).cast("int")
  }

  /** ivfCell over a TRAINED codebook: centroids are quantized per-
    * dimension means (doubles), so the cosine is the generic double-array
    * fold rather than the float-native expression. `vecD` must already be
    * ARRAY<DOUBLE>.
    */
  def ivfCellD(vecD: Column, cents: Seq[(Int, Seq[Double])]): Column =
    // the native single-loop kernel (r13): identical argmax semantics to
    // the old k-way struct-literal formulation (NativeExpressionsSpec
    // pins the equivalence), but task-binary/codegen size is O(1) in k —
    // the property that makes production cell counts practical
    element_at(NE.ivfTopCells(vecD, cents, 1), 1)

  /** Seeded deterministic k-means codebook (Lloyd, FIXED iteration count)
    * over a hash-sampled subset of the corpus — the trained replacement
    * for the fixed first-k "codebook" demo. Every step is reproducible by
    * an external engine from the same definition:
    *
    *   - sample: md5 bucket(vec_id) < sampleBuckets of 10 (the q55 hash
    *     family — rand()-free, stable as the corpus grows)
    *   - init: the k sample vectors in (bucket, vec_id) order
    *   - assign: argmax of round(cosine, 4), ties to the lowest cid
    *   - update: per-dimension mean, QUANTIZED to 1e-6 — floor(m·1e6+0.5)
    *     /1e6 — so cross-engine (and cross-run partition-order) float-sum
    *     noise of ~1ulp cannot leak into the next round's assignments
    *   - empty cell: carries its previous centroid
    *
    * Scale: the sample is bounded (tune sampleBuckets), each round is one
    * narrow assignment + one (cell, dim)-keyed agg over the sample with
    * map-side combine; only the k×dim codebook ever reaches the driver.
    */
  /** The shared md5-bucket sample (q55 hash family) as (vec_id, bk, v
    * ARRAY<DOUBLE>) — single Scala-side definition of the seeding scheme
    * the k-means and PQ codebooks (and their DuckDB oracle CTEs) share.
    */
  private def bucketSample(emb: DataFrame, sampleBuckets: Int): DataFrame = {
    val bk = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 10
    emb.filter(bk < sampleBuckets)
      .select(col("vec_id"), bk.as("bk"),
        graft.functions.VectorFunctions.toDoubles(col("embedding")).as("v"))
  }

  /** The first k sample vectors in (bucket, vec_id) order. */
  private def initCenters(sample: DataFrame, k: Int): Seq[(Int, Seq[Double])] = {
    val cents = sample.orderBy(col("bk").asc, col("vec_id").asc).limit(k)
      .select(col("v")).collect().toSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }
    require(cents.size == k, s"sample has only ${cents.size} vectors, need $k")
    cents
  }

  /** Largest codebook the driver-side Lloyd update accepts: each
    * iteration collects k×dim mean rows and holds k×dim centroid doubles
    * on the driver / in the task binary. 2^17 cells × 64 dims ≈ 8.4M
    * collected rows and a ~67 MB codebook per iteration — the loud
    * ceiling (VERDICT r15 #3). Above it, train per-shard codebooks over
    * hash-disjoint corpus shards (each shard's k stays under the cap and
    * shard cells are disjoint by construction — dedup/kNN then run
    * per-shard exactly like the bucketed incremental stores), rather
    * than silently melting the driver.
    */
  val MaxDriverCodebookK = 131072

  def trainIvfCodebook(
      emb: DataFrame, k: Int, iters: Int,
      sampleBuckets: Int = 3): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"bad k=$k / iters=$iters")
    require(k <= MaxDriverCodebookK,
      s"k=$k exceeds MaxDriverCodebookK=$MaxDriverCodebookK: the Lloyd " +
        "update collects k×dim mean rows per iteration to the driver — " +
        "shard the corpus (hash-disjoint slices, one codebook per shard, " +
        "per-shard cells are disjoint) instead of training one flat " +
        "codebook this large")
    val sample = bucketSample(emb, sampleBuckets).cache()
    var cents = initCenters(sample, k)
    for (_ <- 0 until iters) {
      val byCell = sample
        .withColumn("cell", ivfCellD(col("v"), cents))
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            (cid, rows.sortBy(_.getInt(1))
              .map(r => math.floor(r.getDouble(2) * 1e6 + 0.5) / 1e6).toSeq)
          case None => (cid, old)
        }
      }
    }
    sample.unpersist()
    cents
  }

  /** probeCells over a trained (double) codebook — the native top-n
    * kernel (r16): identical (round-4 sim desc, cid asc) ranking to the
    * old k-way struct-literal array_sort (NativeExpressionsSpec pins the
    * kernel ≡ declarative equivalence), but the codebook rides as ONE
    * reference object instead of k struct literals, so plan and codegen
    * size are O(1) in k — the same literal-embedding fix the corpus
    * assignment got in r13, now on the probe side (VERDICT r15 #3).
    */
  private def probeCellsD(
      probes: DataFrame, cents: Seq[(Int, Seq[Double])], nProbe: Int): DataFrame = {
    val pv = graft.functions.VectorFunctions.toDoubles(col("pv"))
    probes.withColumn("cell", explode(NE.ivfTopCells(pv, cents, nProbe)))
  }

  /** Multi-cell assignment for CORPUS vectors: each (vec_id, embedding)
    * row is exploded into its `nAssign` nearest trained cells (same
    * ranking discipline as probeCellsD: round(cosine,4) DESC, cid ASC).
    * This is the candidate-generation step of cell-bucketed semantic
    * dedup (q111): near-dup pairs are only formed WITHIN a shared cell,
    * so the pair space is Σ_cells n_c² instead of n² — and boundary
    * pairs are caught because both members carry their top-nAssign
    * cells, not just the argmax. At 100 TB, k grows to thousands while
    * nAssign stays 2-3, so the blow-up factor is constant and the
    * per-cell pair work stays bounded by the cell size.
    */
  def assignCells(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int): DataFrame = {
    // native top-nAssign kernel (r13) — same (similarity desc, cid asc)
    // order as the old array_sort-of-structs formulation at O(1)
    // codegen size in k
    val v = graft.functions.VectorFunctions.toDoubles(col("embedding"))
    vectors.withColumn("cell", explode(NE.ivfTopCells(v, cents, nAssign)))
  }

  /** Cell-bucketed semantic near-dup pairs — the scalable counterpart
    * of all-pairs embedding comparison (q45 ↔ q111): every vector joins
    * only within its top-`nAssign` trained cells, so the candidate space
    * is ~(nAssign²/k)·n²/2 instead of n²/2 — tune k with corpus size
    * (thousands of cells at production scale; the oracle-frozen k=8 in
    * q111 exists for determinism, not as a recommendation). Returns
    * (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 4 decimals,
    * threshold applied. Norms are computed once per assigned row (n·
    * nAssign evaluations, never per pair); a pair sharing two cells is
    * deduplicated. Recall loss is boundary pairs straddling cells —
    * nAssign is the recall knob (measured on the synthetic corpus: ≥0.94
    * at nAssign=3/k=8; VectorSearchSpec pins soundness + recall + the
    * k=32 shrinkage).
    */
  def semanticDedupPairs(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int, threshold: Double, dedup: Boolean = true): DataFrame =
    pairsWithinCells(assignCells(vectors, cents, nAssign), threshold, dedup)

  /** Thresholded cosine pairs within shared `cell` values — the pairing
    * half of [[semanticDedupPairs]], shared with the IMI variant (the
    * assignment strategy is orthogonal to the pairing). The threshold
    * sink of [[cellKernel]].
    */
  private[graft] def pairsWithinCells(
      assignedIn: DataFrame, threshold: Double,
      dedup: Boolean = true): DataFrame = {
    val s = assignedIn.sparkSession
    import s.implicits._
    val raw = cellKernel(assignedIn, sameLabel = None)(
        b => new ThresholdSink(b, threshold))
      .toDF("id_a", "id_b", "cosine")
    // dedup = false skips the final distinct for callers that feed the
    // pairs straight into ConnectedComponents, whose symmetric-closure
    // distinct subsumes it — one pair-set exchange saved per composite
    // (r19); callers that EMIT the pairs keep the dedup.
    if (dedup) raw.distinct() else raw
  }

  /** Rows one kernel task may collect for a single (cell[, salt block])
    * before failing LOUDLY instead of OOMing (conf
    * `graft.cell.maxKernelRows`). The corpus-scaled codebook holds the
    * AVERAGE cell at ~64 members; this cap guards the pathological tail
    * (millions of identical vectors piling into one cell — guide §2.5
    * skew): 4M rows × ~280 B ≈ 1.1 GB of list, caught well before the
    * heap dies, with the fix named in the message. AQE's skew handling
    * cannot split aggregations, so the fix is the salt dial below.
    */
  private def maxKernelRows(s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption("graft.cell.maxKernelRows").map(_.toInt)
      .getOrElse(4000000)

  /** Salt factor for [[cellKernel]] (conf `graft.cell.salts`, default
    * 1 = off), honoured by every sink: threshold pairs, kNN and
    * label-kNN. At S > 1 every cell's members split into S hash blocks
    * on vec_id and each unordered block pair (i ≤ j) is scored by its
    * own task — identical pair arithmetic and results (VectorSearchSpec
    * pins salted ≡ unsalted ≡ join for all three sinks on a one-hot-cell
    * fixture), task memory O(cellmax/S) instead of O(cellmax), at the
    * standard salting price of an S× replicated kernel exchange (guide
    * §2.5 — salt the key, explode the counterpart side). Production sets
    * S from max-expected-cell / memory budget; the gate default keeps the
    * exact unsalted plan, and a cell that outgrows the cap under S = 1
    * fails loudly pointing here rather than melting a task.
    */
  private def cellSalts(s: org.apache.spark.sql.SparkSession): Int = {
    val n = s.conf.getOption("graft.cell.salts").map(_.toInt).getOrElse(1)
    require(n >= 1, s"graft.cell.salts must be >= 1, got $n")
    n
  }

  private def capMsg(n: Int, cap: Int): String =
    s"cell block of $n rows exceeds graft.cell.maxKernelRows=$cap — a " +
      "pathologically hot cell (duplicate-vector pileup). Raise " +
      "graft.cell.salts to split cells into hash blocks (exact same " +
      "results, O(cell/salts) task memory), run exact dedup first, or " +
      "grow the codebook (k ~ sqrt(n) holds the average cell at ~64)."

  /** GROUPED CELL-BLOCK KERNEL — the one scoring loop behind
    * [[pairsWithinCells]], [[knnWithinCells]] and [[labelNeighbors]].
    * Expects one row per (cell, vec_id, embedding[, label]) assignment.
    *
    * A cell self-join materializes every candidate row carrying BOTH
    * 64-float vectors through the join operator (plus an m²-row window
    * sort for the top-k sinks): at the cap-4 sf10 dial ~1.6e9 rows, and
    * the row plumbing, not the ~2e11 flops, held the stage at ~50 s.
    * Here each block's members are collected once and every unordered
    * pair is scored ONCE in one primitive loop that allocates nothing
    * per scored pair, only per emitted row.
    *
    * The arithmetic is BIT-IDENTICAL to the declarative join the DuckDB
    * oracle replays (VectorSearchSpec pins kernel ≡ join for every
    * sink): dot = Σ (double)aᵢ·bᵢ left-to-right (VectorDotF's loop,
    * symmetric in its operands), norms = √Σx² (VectorL2Norm), cosine =
    * round(dot/(na·nb), 4) on the HALF_UP lattice, and every comparison
    * uses java.lang.Double.compare, so NaN ranks greatest exactly like
    * Spark's `>=` and DESC sort on doubles.
    *
    * Both parameters are fixed per block. `sameLabel` is the admit rule:
    * None scores every pair, Some(true) only same-label pairs, Some(false)
    * only different-label pairs (the label rides as a long). `sink`
    * builds the block's state that admitted pairs are offered to:
    *  - [[ThresholdSink]]: (id_a < id_b, cosine) at cosine ≥ threshold;
    *  - [[TopKSink]]: each member's top-k, O(m·k) state instead of the m²
    *    candidate rows. The two-stage top-k is exact: a neighbor in a
    *    src's GLOBAL top-k is in src's top-k of every block that scored
    *    the pair (anything ranked above it there is above it globally),
    *    so the caller's distinct + row_number re-rank over the union of
    *    block survivors (≤ blocks·k per src) is the global top-k.
    *
    * Grouping: at `graft.cell.salts` S = 1 a block is one cell. At S > 1
    * member x (salt sx = hash(vec_id) mod S) replicates to every block
    * (min(sx, t), max(sx, t)) for t in 0..S-1, tagged with its role
    * (whether it is the block's i-side), so each unordered pair {x, y} is
    * scored in exactly one block: same salt → the (s, s) diagonal block,
    * which holds one copy of each member and admits all its pairs;
    * different salts → the (min, max) block, which admits cross-role
    * pairs only. [[maxKernelRows]] bounds every block either way.
    */
  private def cellKernel[T: Encoder](
      assigned: DataFrame, sameLabel: Option[Boolean])(
      sink: CellBlock => BlockSink[T]): Dataset[T] = {
    val s = assigned.sparkSession
    import s.implicits._
    val cap = maxKernelRows(s)
    val salts = cellSalts(s)
    // one member is the tuple M = (vec_id[, label], embedding)
    val fields = col("vec_id") +:
      sameLabel.map(_ => col("label").cast("long")).toSeq :+ col("embedding")
    val member = struct(
      fields.zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }: _*)
    def score(ms: Seq[Product], roles: Array[Boolean]): Iterator[T] = {
      require(ms.length <= cap, capMsg(ms.length, cap))
      val block = new CellBlock(ms, sameLabel, roles)
      val out = sink(block)
      block.scorePairs(out)
      out.rows
    }
    def run[M <: Product : TypeTag]: Dataset[T] =
      if (salts == 1) assigned
        .groupBy(col("cell"))
        .agg(collect_list(member).as("m"))
        .select(col("m").as[Seq[M]])
        .flatMap(score(_, null))
      else assigned
        .withColumn("_s", pmod(xxhash64(col("vec_id")), lit(salts)).cast("int"))
        .select(col("cell"), col("_s"), member.as("_m"),
          explode(sequence(lit(0), lit(salts - 1))).as("_t"))
        .groupBy(col("cell"), least(col("_s"), col("_t")).as("_i"),
          greatest(col("_s"), col("_t")).as("_j"))
        .agg(collect_list(struct(col("_m").as("_1"),
          (col("_s") <= col("_t")).as("_2"))).as("m"))
        .select((col("_i") === col("_j")).as("_1"), col("m").as("_2"))
        .as[(Boolean, Seq[(M, Boolean)])]
        .flatMap { case (diagonal, mm) =>
          score(mm.map(_._1), if (diagonal) null else mm.map(_._2).toArray)
        }
    if (sameLabel.isEmpty) run[(Long, Array[Float])]
    else run[(Long, Long, Array[Float])]
  }

  /** One block of [[cellKernel]], its (vec_id[, label], embedding)
    * members unpacked once: ids, vectors and norms per member (never per
    * pair), labels when the admit rule reads them, and the roles of an
    * off-diagonal salted block (null otherwise).
    */
  private final class CellBlock(
      ms: Seq[Product], sameLabel: Option[Boolean],
      private val roles: Array[Boolean]) {
    val n: Int = ms.length
    val ids = new Array[Long](n)
    val labels: Array[Long] = if (sameLabel.isEmpty) null else new Array[Long](n)
    private val vs = new Array[Array[Float]](n)
    private val norms = new Array[Double](n)
    ms.iterator.zipWithIndex.foreach { case (m, i) =>
      ids(i) = m.productElement(0).asInstanceOf[Long]
      if (labels != null) labels(i) = m.productElement(1).asInstanceOf[Long]
      val v = m.productElement(m.productArity - 1).asInstanceOf[Array[Float]]
      vs(i) = v
      var acc = 0.0
      var d = 0
      while (d < v.length) { val x = v(d).toDouble; acc += x * x; d += 1 }
      norms(i) = math.sqrt(acc)
    }

    /** Offers every admitted pair (i < j) to `sink` exactly once. */
    def scorePairs(sink: BlockSink[_]): Unit = {
      // locals, so the loop need not reload fields after each `accept`
      val ids = this.ids; val labels = this.labels; val roles = this.roles
      val vs = this.vs; val norms = this.norms; val n = this.n
      val same = sameLabel.contains(true)
      var i = 0
      while (i < n) {
        val a = vs(i)
        var j = i + 1
        while (j < n) {
          if (ids(i) != ids(j) && (roles == null || roles(i) != roles(j)) &&
              (labels == null || (labels(i) == labels(j)) == same)) {
            val b = vs(j)
            if (a.length != b.length) throw new IllegalArgumentException(
              s"vector_dot: mismatched lengths ${a.length} vs ${b.length}")
            var dot = 0.0
            var d = 0
            while (d < a.length) {
              dot += a(d).toDouble * b(d).toDouble
              d += 1
            }
            sink.accept(i, j, Round4.halfUp(dot / (norms(i) * norms(j))))
          }
          j += 1
        }
        i += 1
      }
    }
  }

  /** A block's sink state: `accept` sees each admitted pair (member
    * indices, round-4 cosine) once; `rows` emits the survivors after.
    */
  private abstract class BlockSink[T] {
    def accept(i: Int, j: Int, cos: Double): Unit
    def rows: Iterator[T]
  }

  /** Pairs at cosine ≥ `threshold` as (id_a, id_b, cosine), id_a < id_b. */
  private final class ThresholdSink(b: CellBlock, threshold: Double)
      extends BlockSink[(Long, Long, Double)] {
    private val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def accept(i: Int, j: Int, cos: Double): Unit =
      if (java.lang.Double.compare(cos, threshold) >= 0) {
        out += (if (b.ids(i) < b.ids(j)) (b.ids(i), b.ids(j), cos)
          else (b.ids(j), b.ids(i), cos))
      }
    def rows: Iterator[(Long, Long, Double)] = out.iterator
  }

  /** Each member's top-`k` neighbors under the window's (round-4 cosine
    * DESC, nbr ASC) total order, kept best-first; k is small (5-16), so
    * O(k) insertion beats heap constant factors. Each pair is offered to
    * both ends. `emit(src, nbr, cosine)` takes member indices.
    */
  private final class TopKSink[T](
      b: CellBlock, k: Int, emit: (Int, Int, Double) => T)
      extends BlockSink[T] {
    private val tkCos = Array.ofDim[Double](b.n, k)
    private val tkNbr = Array.ofDim[Int](b.n, k)
    private val tkLen = new Array[Int](b.n)
    private def beats(c1: Double, n1: Int, c2: Double, n2: Int): Boolean = {
      val cmp = java.lang.Double.compare(c1, c2)
      if (cmp != 0) cmp > 0 else b.ids(n1) < b.ids(n2)
    }
    private def offer(at: Int, cos: Double, nbr: Int): Unit = {
      val len = tkLen(at)
      val cs = tkCos(at)
      val ns = tkNbr(at)
      if (len == k && !beats(cos, nbr, cs(len - 1), ns(len - 1))) return
      var p = if (len == k) len - 1 else len
      while (p > 0 && beats(cos, nbr, cs(p - 1), ns(p - 1))) {
        cs(p) = cs(p - 1); ns(p) = ns(p - 1); p -= 1
      }
      cs(p) = cos; ns(p) = nbr
      if (len < k) tkLen(at) = len + 1
    }
    def accept(i: Int, j: Int, cos: Double): Unit = {
      offer(i, cos, j)
      offer(j, cos, i)
    }
    def rows: Iterator[T] = (0 until b.n).iterator.flatMap { at =>
      (0 until tkLen(at)).iterator.map(p => emit(at, tkNbr(at)(p), tkCos(at)(p)))
    }
  }

  /** Two-level IMI (inverted multi-index) coarse quantization (r13) —
    * the assignment-cost fix PLANS.md's production-k caveat names: a
    * flat codebook with K cells costs K·dim per row to assign; two
    * independent codebooks of k cells each over the vector HALVES span
    * K = k² product cells for 2·k·(dim/2) = k·dim assignment work —
    * O(√K) in the product-cell count. Training cost falls the same way
    * (two Lloyd chains on half-vectors). Candidates then form within
    * shared product cells exactly as in [[semanticDedupPairs]]; recall
    * is dialed by `aProbe` (top-a cells on the FIRST half × top-1 on
    * the second — a·1 product cells per vector). Everything stays on
    * the oracle lattice: per-half argmax over round(cosine, 4), ties to
    * the lowest cid, product cell id = c1 · k2 + c2.
    */
  def trainImiCodebooks(
      emb: DataFrame, k: Int, iters: Int, sampleBuckets: Int = 3)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])], Int) = {
    // r19: both half chains share every Spark job. Training the halves
    // as two independent trainIvfCodebook calls paid the whole job
    // ladder twice — two sample caches, two init collects, and 2×iters
    // Lloyd-update jobs over the SAME sample rows (~10 scheduling
    // round-trips per composite query at gate scale; two extra sample
    // passes per iteration at any scale). Here ONE cached full-vector
    // sample seeds both halves from ONE ordered collect (which also
    // supplies dim — the old separate head() job), and each Lloyd round
    // computes both halves' per-(cell, dim) means in ONE union job.
    // Values are unchanged by construction: slicing the collected
    // doubles equals collecting the sliced floats' doubles elementwise,
    // the per-half groups are disjoint (keyed by a half tag), and the
    // 1e-6 mean quantization is the same lattice the per-half chains
    // (and the DuckDB oracle CTEs) walk. VectorSearchSpec pins merged ≡
    // per-half training.
    require(k > 0 && iters >= 0, s"bad k=$k / iters=$iters")
    require(k <= MaxDriverCodebookK,
      s"k=$k exceeds MaxDriverCodebookK=$MaxDriverCodebookK: shard the " +
        "corpus (hash-disjoint slices, one codebook per shard) instead " +
        "of training one flat codebook this large")
    val sample = bucketSample(emb, sampleBuckets).cache()
    val initRows = sample.orderBy(col("bk").asc, col("vec_id").asc).limit(k)
      .select(col("v")).collect().toSeq.map(_.getSeq[Double](0))
    require(initRows.size == k,
      s"sample has only ${initRows.size} vectors, need $k")
    val dim = initRows.head.length
    require(dim % 2 == 0, s"IMI needs an even dim, got $dim")
    val half = dim / 2
    var cb1: Seq[(Int, Seq[Double])] =
      initRows.zipWithIndex.map { case (v, i) => (i, v.take(half)) }
    var cb2: Seq[(Int, Seq[Double])] =
      initRows.zipWithIndex.map { case (v, i) => (i, v.drop(half)) }
    val v1 = slice(col("v"), 1, half)
    val v2 = slice(col("v"), half + 1, half)
    for (_ <- 0 until iters) {
      def halfMeans(h: Int, vh: Column, cents: Seq[(Int, Seq[Double])]) =
        sample.select(lit(h).as("h"), ivfCellD(vh, cents).as("cell"),
          posexplode(vh).as(Seq("i", "x")))
      val byHalfCell = halfMeans(1, v1, cb1).union(halfMeans(2, v2, cb2))
        .groupBy(col("h"), col("cell"), col("i"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      def update(h: Int, cents: Seq[(Int, Seq[Double])]) =
        cents.map { case (cid, old) =>
          byHalfCell.get((h, cid)) match {
            case Some(rows) =>
              (cid, rows.sortBy(_.getInt(2))
                .map(r => math.floor(r.getDouble(3) * 1e6 + 0.5) / 1e6).toSeq)
            case None => (cid, old)
          }
        }
      cb1 = update(1, cb1)
      cb2 = update(2, cb2)
    }
    sample.unpersist()
    (cb1, cb2, half)
  }

  /** The corpus-scaled per-half codebook size (r15, VERDICT r14 #1):
    * kHalf = max(4, ceil(sqrt(n / 64))) — product cells K = kHalf² grow
    * ∝ n, holding the average cell occupancy at ~64 vectors, so the
    * within-cell pair work Σ n_c² stays ~linear in n instead of the
    * frozen-K n² blow-up. Reproduces the measured imi curve frozen in
    * BASELINE.md's r15 rows (kHalf 6/18/56 at n = 2k/20k/200k; pairs
    * 6.2 s at sf10). The same arithmetic is emitted into the DuckDB
    * oracle by [[scaledKHalfSql]] — both engines run ceil(sqrt(x)) on
    * IEEE doubles, so the derived k is identical by construction.
    */
  def scaledKHalf(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n / 64.0)).toInt)

  /** [[scaledKHalf]] as a DuckDB scalar expression over table `src`. */
  def scaledKHalfSql(src: String = "embeddings"): String =
    s"(SELECT greatest(4, CAST(ceil(sqrt(count(*) / 64.0)) AS INTEGER)) FROM $src)"

  /** Codebook size at or above which coarse assignment switches from the
    * flat centroid scan to the two-level descent (r16, VERDICT r15 #2).
    * Below it the flat scan is cheaper than the descent's two stages; at
    * the gate SFs (kHalf 4-10) the flat path always runs, so the
    * composite oracles are untouched, while sf10 (kHalf 97+) and the
    * 100 TB design point (kHalf ~10⁵, where the flat scan's total work
    * is ∝ n^1.5) run the √kHalf descent. q218 forces the threshold down
    * to oracle-check the descent itself at gate scale.
    */
  val HierKThreshold = 64

  /** Fixed Lloyd iteration count for the super-level clustering — small
    * because the inputs are already centroids (well-spread by
    * construction) and every extra round is another CTE chain the oracle
    * replays.
    */
  val HierSuperIters = 2

  /** Deterministic driver-side grouping of a trained codebook into
    * g = ⌈√k⌉ super-cells — the construction side of [[IvfHierRef]]'s
    * two-level descent. Same discipline as [[trainIvfCodebook]] so an
    * external engine can replay it from the centroid list alone:
    * init = the first g centroids in cid order; assign = argmax of
    * round(cosine, 4) with ties to the lowest sid; update = per-dim mean
    * quantized to 1e-6; empty super carries its previous vector; final
    * membership = one more assign pass against the last supers. Supers
    * that end with NO members are dropped (they describe nothing and
    * must not be rankable in stage 1); the surviving groups keep their
    * ORIGINAL sids so tie-breaks replay. Cost: O(k·g·dim) driver work —
    * at kHalf 10⁵, g ≈ 316, ~10⁹ flops once per build, amortized over
    * the corpus-sized assignment it accelerates.
    */
  def superCluster(cents: Seq[(Int, Seq[Double])])
      : Seq[(Int, Seq[Double], Seq[(Int, Seq[Double])])] = {
    val k = cents.size
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val byCid = cents.sortBy(_._1)
    val vecs = byCid.map(_._2.toArray).toArray
    val cids = byCid.map(_._1).toArray
    val dim = vecs(0).length
    def round4(x: Double): Double = Round4.halfUp(x)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < dim) {
        dot += a(i) * b(i); sa += a(i) * a(i); sb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(sa) * math.sqrt(sb))
    }
    // assign every centroid to its best super: (round4 sim desc, sid asc)
    def assign(supers: Array[Array[Double]]): Array[Int] =
      vecs.map { v =>
        var bestSid = 0
        var bestS = Double.NegativeInfinity
        var s = 0
        while (s < supers.length) {
          val sim = round4(cos(v, supers(s)))
          if (sim > bestS) { bestS = sim; bestSid = s }
          s += 1
        }
        bestSid
      }
    var supers = Array.tabulate(g)(i => vecs(i).clone())
    for (_ <- 0 until HierSuperIters) {
      val memberOf = assign(supers)
      supers = Array.tabulate(g) { sid =>
        val members = memberOf.zipWithIndex.collect {
          case (m, ci) if m == sid => ci
        }
        if (members.isEmpty) supers(sid)
        else {
          val mean = new Array[Double](dim)
          members.foreach { ci =>
            var d = 0
            while (d < dim) { mean(d) += vecs(ci)(d); d += 1 }
          }
          var d = 0
          while (d < dim) {
            mean(d) = math.floor(mean(d) / members.length * 1e6 + 0.5) / 1e6
            d += 1
          }
          mean
        }
      }
    }
    val memberOf = assign(supers)
    (0 until g).flatMap { sid =>
      val members = memberOf.zipWithIndex.collect {
        case (m, ci) if m == sid => (cids(ci), byCid(ci)._2)
      }
      if (members.isEmpty) None
      else Some((sid, supers(sid).toSeq, members.toSeq))
    }
  }

  /** [[NE.ivfTopCellsMargin]] with the scan strategy picked by codebook
    * size: flat scan below [[HierKThreshold]], the two-level descent at
    * or above it. The super-level gate is DOUBLED relative to the
    * cell-level dial (superCap = 2·cap, superMargin = 2·margin): a
    * super-centroid is the mean of ~√k cells, so similarities at the
    * super level are compressed toward each other and a same-width gate
    * under-probes — measured on the sf1 corpus at forced kHalf = 128
    * (BASELINE.md r16 row): pair recall vs the flat scan is 86.0 % at
    * (cap, margin), 93.7 % at (1.5·cap, 1.5·margin) and 97.3 % at the
    * doubled gate, which still scans ~(2·cap·√k + √k) centroids per
    * vector — the asymptotics the descent exists for.
    */
  def ivfTopCellsMarginAuto(
      vecD: Column, cents: Seq[(Int, Seq[Double])], cap: Int,
      margin: Double): Column =
    if (cents.size < HierKThreshold) NE.ivfTopCellsMargin(vecD, cents, cap, margin)
    else NE.ivfTopCellsMarginHier(vecD, superCluster(cents), cap, margin,
      superCap = 2 * cap, superMargin = 2 * margin)

  /** Margin-gated SYMMETRIC multi-probe product-cell assignment (r15,
    * VERDICT r14 #2) — the recall compensation for the IMI half-space
    * partition loss: each HALF assigns its top-1 cell always, plus cells
    * ranked 2..`cap` within `margin` of the best round-4 similarity
    * (NE.ivfTopCellsMargin), and the product explodes BOTH halves'
    * gated sets. The old top-aProbe×top-1 schedule lost every pair whose
    * second halves straddled a boundary; here a boundary vector carries
    * both adjacent cells on WHICHEVER half is ambiguous, while an
    * interior vector assigns once (usually cheaper than the old
    * unconditional 2 rows). Expansion is bounded by cap² rows per vector
    * and data-adaptive in between — VectorSearchSpec pins the measured
    * recall (≥ 90 % of the flat quantizer's pairs at equal cell count)
    * and the bounded assignment blow-up.
    */
  def imiAssignCellsMp(
      vectors: DataFrame, cb1: Seq[(Int, Seq[Double])],
      cb2: Seq[(Int, Seq[Double])], half: Int, cap: Int,
      margin: Double): DataFrame = {
    val v1 = graft.functions.VectorFunctions.toDoubles(
      slice(col("embedding"), 1, half))
    val v2 = graft.functions.VectorFunctions.toDoubles(
      slice(col("embedding"), half + 1, half))
    val k2 = cb2.size
    // scan strategy picked per half by codebook size (r16): flat below
    // HierKThreshold (the gate-SF path the oracles replay), the √kHalf
    // two-level descent at production kHalf — same gate semantics
    vectors
      .withColumn("c2", explode(ivfTopCellsMarginAuto(v2, cb2, cap, margin)))
      .withColumn("c1", explode(ivfTopCellsMarginAuto(v1, cb1, cap, margin)))
      .withColumn("cell", col("c1") * k2 + col("c2"))
      .drop("c1", "c2")
  }

  /** [[imiDedupPairs]] over margin-gated symmetric multi-probe cells. */
  def imiDedupPairsMp(
      vectors: DataFrame, cb1: Seq[(Int, Seq[Double])],
      cb2: Seq[(Int, Seq[Double])], half: Int, cap: Int, margin: Double,
      threshold: Double, dedup: Boolean = true): DataFrame =
    pairsWithinCells(
      imiAssignCellsMp(vectors, cb1, cb2, half, cap, margin), threshold,
      dedup)

  /** [[knnGraph]] over IMI product cells (the q151 production chain),
    * margin-gated symmetric multi-probe: the assignment strategy is
    * orthogonal to the two-stage top-k, exactly as [[imiDedupPairsMp]]'s
    * is to the pairing.
    */
  def imiKnnGraphMp(
      vectors: DataFrame, cb1: Seq[(Int, Seq[Double])],
      cb2: Seq[(Int, Seq[Double])], half: Int, cap: Int, margin: Double,
      k: Int): DataFrame =
    knnWithinCells(
      imiAssignCellsMp(vectors, cb1, cb2, half, cap, margin), k)

  /** IMI cell assignment: `aProbe` top cells on half 1 × top-1 on half
    * 2, exploded to one row per product cell (column `cell`).
    */
  def imiAssignCells(
      vectors: DataFrame, cb1: Seq[(Int, Seq[Double])],
      cb2: Seq[(Int, Seq[Double])], half: Int, aProbe: Int): DataFrame = {
    val v1 = graft.functions.VectorFunctions.toDoubles(
      slice(col("embedding"), 1, half))
    val v2 = graft.functions.VectorFunctions.toDoubles(
      slice(col("embedding"), half + 1, half))
    val k2 = cb2.size
    vectors
      .withColumn("c2", element_at(NE.ivfTopCells(v2, cb2, 1), 1))
      .withColumn("c1", explode(NE.ivfTopCells(v1, cb1, aProbe)))
      .withColumn("cell", col("c1") * k2 + col("c2"))
      .drop("c1", "c2")
  }

  /** [[semanticDedupPairs]] over IMI product cells. */
  def imiDedupPairs(
      vectors: DataFrame, cb1: Seq[(Int, Seq[Double])],
      cb2: Seq[(Int, Seq[Double])], half: Int, aProbe: Int,
      threshold: Double): DataFrame =
    pairsWithinCells(
      imiAssignCells(vectors, cb1, cb2, half, aProbe), threshold)

  /** Approximate kNN GRAPH over the whole corpus — for EVERY vector, its
    * top-`k` neighbors by cosine among vectors sharing a trained cell
    * (same top-`nAssign` assignment as [[semanticDedupPairs]]). This is
    * the batch all-queries counterpart of the per-probe topK entry
    * points, and the input structure for SemDeDup-style cluster curation
    * and graph-based diversity sampling. Vectors whose cells hold fewer
    * than k co-members yield fewer than k edges. Cell count is the scale
    * knob, exactly as in [[semanticDedupPairs]].
    *
    * Two-stage top-k, exact (see [[cellKernel]]): stage 1 keeps each
    * src's top-k per cell block inside the kernel, so the full candidate
    * set (n·nAssign·avg-cell-size pairs) is scored exactly once and never
    * shuffled; only the ≤ blocks·k survivors per src reach the dedup +
    * global re-rank. The ranking order (cosine DESC rounded to 4, nbr
    * ASC) is total per src, so multi-cell duplicates rank identically and
    * dedup cannot disturb it.
    */
  def knnGraph(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int, k: Int): DataFrame =
    knnWithinCells(assignCells(vectors, cents, nAssign), k)

  /** PROBE-ONLY top-k against a PERSISTED product-cell-bucketed index
    * (r14; r15 margin probe) — [[ivfTopKIndexed]] with the IMI coarse
    * quantizer: probe cells are the margin-gated multi-probe on BOTH
    * halves (top-1 always, ranks 2..`cap` within `margin` of the best —
    * the same boundary-recall compensation the dedup composites use;
    * the r14 top-aProbe×top-1 schedule missed every neighbor whose
    * SECOND half straddled a cell boundary), k·dim assignment work
    * spanning k² product cells — the O(√K) scaling that lets cell count
    * grow with a 100 TB corpus. The probe relation is collected bounded
    * and re-enters as a broadcast local relation, and the bucketed
    * index scan is pruned to the probed cells with zero training jobs
    * in the plan.
    */
  def imiTopKIndexed(
      index: DataFrame, probes: DataFrame, k: Int,
      cb1: Seq[(Int, Seq[Double])], cb2: Seq[(Int, Seq[Double])],
      half: Int, cap: Int = 2, margin: Double = 0.1): DataFrame = {
    val v1 = graft.functions.VectorFunctions.toDoubles(
      slice(col("pv"), 1, half))
    val v2 = graft.functions.VectorFunctions.toDoubles(
      slice(col("pv"), half + 1, half))
    val k2 = cb2.size
    val pcPlan = probes
      .select(col("vec_id").as("pid"), col("embedding").as("pv"))
      .withColumn("c2", explode(ivfTopCellsMarginAuto(v2, cb2, cap, margin)))
      .withColumn("c1", explode(ivfTopCellsMarginAuto(v1, cb1, cap, margin)))
      .withColumn("cell", col("c1") * k2 + col("c2"))
      .drop("c1", "c2")
    val rows = collectBounded(pcPlan)
    val pc = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), pcPlan.schema)
    val cells = rows.map(_.getAs[Int]("cell")).distinct.sorted
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    index.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(pc), Seq("cell"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }

  /** The per-cell/rank half of [[knnGraph]], shared with the IMI variant:
    * the top-k sink of [[cellKernel]] plus the global re-rank, which only
    * the ≤ blocks·k survivors per src reach.
    */
  private def knnWithinCells(assignedIn: DataFrame, k: Int): DataFrame = {
    val s = assignedIn.sparkSession
    import s.implicits._
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    cellKernel(assignedIn, sameLabel = None)(b =>
        new TopKSink(b, k, (src, nbr, cos) => (b.ids(src), b.ids(nbr), cos)))
      .toDF("src", "nbr", "cosine")
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** HARD-NEGATIVE MINING over the trained cells — for every anchor, its
    * top-`k` highest-cosine neighbors with a DIFFERENT `label`, among
    * vectors sharing a top-`nAssign` cell. This is the candidate-mining
    * pass of contrastive embedding training (the negatives that sit
    * closest to the anchor are the informative ones); structurally it is
    * [[knnGraph]] with the label carried through and the mismatch
    * predicate as the kernel's admit rule, so each block's top-k ranks
    * only different-label candidates and the two-stage exactness
    * argument holds unchanged. Cell count is the scale knob exactly as
    * in [[semanticDedupPairs]].
    *
    * Input must carry (vec_id, embedding, label); output is
    * (src, rnk, nbr, nbr_label, cosine) with the (cosine DESC rounded to
    * 4, nbr ASC) total order per anchor.
    */
  def hardNegatives(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int, k: Int): DataFrame =
    labelNeighbors(vectors, cents, nAssign, k, sameLabel = false)

  /** Generalization of [[hardNegatives]]: top-`k` highest-cosine
    * neighbors with the SAME label (`sameLabel = true` — the positives
    * of a triplet-mining pass) or a DIFFERENT label (`false` — hard
    * negatives). The label predicate is [[cellKernel]]'s admit rule, so
    * the two-stage top-k exactness argument is unchanged.
    */
  def labelNeighbors(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int, k: Int, sameLabel: Boolean): DataFrame = {
    // the label rides as a long through the kernel and is cast back to
    // its source type on the way out, so the output schema is unchanged
    val s = vectors.sparkSession
    import s.implicits._
    val labelType = vectors.schema("label").dataType
    require(Seq("tinyint", "smallint", "int", "bigint")
        .contains(labelType.simpleString),
      s"labelNeighbors kernel carries labels as LONG; got " +
        s"${labelType.simpleString} — widen the kernel rather than let a " +
        "lossy cast produce silently wrong neighbors")
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    cellKernel(assignCells(vectors, cents, nAssign), Some(sameLabel))(b =>
        new TopKSink(b, k, (src, nbr, cos) =>
          (b.ids(src), b.ids(nbr), b.labels(nbr), cos)))
      .toDF("src", "nbr", "nbr_label", "cosine")
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("nbr_label", col("nbr_label").cast(labelType))
      .select(col("src"), col("nbr"), col("nbr_label"), col("cosine"),
        col("rnk"))
  }

  /** IVF search against a PERSISTED index table (vec_id, embedding, cell)
    * — the scan side of the trained-IVF story. The probe cells are
    * collected (≤ probes×nProbe ints) and pushed as a literal IN filter
    * on the bucket column, so a cell-bucketed index table is read with
    * BUCKET PRUNING: only the probed cells' files are touched, the rest
    * of the corpus is never opened (PlanAuditSpec pins the selected-
    * bucket count). Output schema matches bruteForceTopK.
    */
  def ivfTopKIndexed(
      index: DataFrame, probes: DataFrame, k: Int,
      cents: Seq[(Int, Seq[Double])], nProbe: Int = 2): DataFrame = {
    // the probe relation is bounded (probes × nProbe rows) by contract and
    // the cell list must be collected eagerly anyway, so the scored probes
    // are collected ONCE and re-enter the plan as a local relation feeding
    // the broadcast join — no cache() (a cached probe relation would stay
    // pinned for the session's lifetime; r6 ADVICE), no double evaluation
    val pcPlan = probeCellsD(
      probes.select(col("vec_id").as("pid"), col("embedding").as("pv")),
      cents, nProbe)
    val rows = collectBounded(pcPlan)
    val pc = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), pcPlan.schema)
    val cells = rows.map(_.getAs[Int]("cell")).distinct.sorted
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    index.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(pc), Seq("cell"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) + asymmetric-distance (ADC) search: the
  // compression side of a 100 TB vector index. Vectors are split into
  // `subspaces` contiguous slices; each slice is snapped to one of k
  // per-subspace centers, so a 64-dim float vector becomes `subspaces`
  // small codes (here 8 bytes — 32× smaller). Search never decodes:
  // the probe's distance to a corpus vector is the sum of per-subspace
  // distances to the CODED centers (ADC), computed from the probe and
  // the codebook alone. Everything is deterministic and reproducible by
  // an external engine: centers are sample vectors chosen by the q55
  // md5-bucket order, assignments argmin round(L2², 4) with lowest-id
  // ties, ADC sums of 4-decimal-rounded terms.

  /** codebook(b)(j) = 8-dim center j of subspace b — slices of the first
    * k sample vectors in (md5 bucket, vec_id) order.
    */
  def pqCodebook(
      emb: DataFrame, subspaces: Int, k: Int,
      sampleBuckets: Int = 3): Seq[Seq[Seq[Double]]] = {
    require(subspaces > 0 && k > 0, s"bad subspaces=$subspaces / k=$k")
    val rows = initCenters(bucketSample(emb, sampleBuckets), k).map(_._2)
    val dim = rows.head.length
    require(dim % subspaces == 0, s"dim $dim not divisible by $subspaces")
    val w = dim / subspaces
    (0 until subspaces).map(b => rows.map(_.slice(b * w, (b + 1) * w)))
  }

  /** TRAINED PQ codebook: per-subspace Lloyd iterations under the same
    * determinism discipline as trainIvfCodebook — pqCodebook's sampled
    * slices as init, assignment = argmin round(L2², 4) with lowest-id
    * ties, per-dimension means quantized to 1e-6, empty cells carried.
    * All `subspaces` codebooks update in ONE pass per round: a narrow
    * assignment projection, then a (subspace, cell, dim)-keyed agg over
    * the sample with map-side combine; only k×dim doubles per subspace
    * reach the driver.
    */
  def trainPqCodebook(
      emb: DataFrame, subspaces: Int, k: Int, iters: Int,
      sampleBuckets: Int = 3): Seq[Seq[Seq[Double]]] = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    var cb = pqCodebook(emb, subspaces, k, sampleBuckets)
    val w = cb.head.head.length
    val sample = bucketSample(emb, sampleBuckets).cache()
    for (_ <- 0 until iters) {
      val cbNow = cb
      val sliced = sample.select(col("v") +: cbNow.indices.map(b =>
        slice(col("v"), b * w + 1, w).as(s"__s$b")): _*)
      val cells = array(cbNow.indices.map { b =>
        val entries = cbNow(b).zipWithIndex.map { case (c, j) =>
          struct(round(l2sq(col(s"__s$b"), c), 4).as("d"), lit(j).as("j"))
        }
        array_min(array(entries: _*)).getField("j")
      }: _*)
      val bOf = (col("pos") / w).cast("int") // pos < dim, division exact
      val byKey = sliced.select(col("v"), cells.as("cells"))
        .select(posexplode(col("v")).as(Seq("pos", "x")), col("cells"))
        .select(bOf.as("b"), element_at(col("cells"), bOf + 1).as("cell"),
          pmod(col("pos"), lit(w)).as("i"), col("x"))
        .groupBy(col("b"), col("cell"), col("i")).agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = cb.zipWithIndex.map { case (centers, b) =>
        centers.zipWithIndex.map { case (old, j) =>
          byKey.get((b, j)) match {
            case Some(rows) => rows.sortBy(_.getInt(2))
              .map(r => math.floor(r.getDouble(3) * 1e6 + 0.5) / 1e6).toSeq
            case None => old
          }
        }
      }
    }
    sample.unpersist()
    cb
  }

  /** r19: the coarse IVF codebook and the PQ codebook trained off ONE
    * cached sample with shared jobs — [[trainIvfCodebook]] followed by
    * [[trainPqCodebook]] paid two sample materializations, two init
    * collects and coarseIters+pqIters Lloyd jobs over the SAME rows;
    * every index build (q103/q104/q108/q109/q124, AnnIndex.ensure) runs
    * the pair. One ordered collect of max(coarseK, pqK) rows seeds both
    * (the solo inits are its prefixes), and each shared round computes
    * the coarse (cell, i) means and the PQ (b, cell, i) means in one
    * union job keyed by a source tag — groups are disjoint, so the
    * per-branch means and their 1e-6 quantization are exactly the solo
    * chains' (VectorSearchSpec pins merged ≡ solo pair).
    */
  def trainIvfAndPq(
      emb: DataFrame, coarseK: Int, coarseIters: Int,
      subspaces: Int, pqK: Int, pqIters: Int, sampleBuckets: Int = 3)
      : (Seq[(Int, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    require(coarseK > 0 && coarseIters >= 0 && pqK > 0 && pqIters >= 0
      && subspaces > 0,
      s"bad coarseK=$coarseK/iters=$coarseIters pqK=$pqK/iters=$pqIters")
    val sample = bucketSample(emb, sampleBuckets).cache()
    val need = math.max(coarseK, pqK)
    val initRows = sample.orderBy(col("bk").asc, col("vec_id").asc)
      .limit(need).select(col("v")).collect().toSeq.map(_.getSeq[Double](0))
    require(initRows.size == need,
      s"sample has only ${initRows.size} vectors, need $need")
    val dim = initRows.head.length
    require(dim % subspaces == 0, s"dim $dim not divisible by $subspaces")
    val w = dim / subspaces
    var cents: Seq[(Int, Seq[Double])] =
      initRows.take(coarseK).zipWithIndex.map { case (v, i) => (i, v) }
    var cb: Seq[Seq[Seq[Double]]] = (0 until subspaces).map(b =>
      initRows.take(pqK).map(_.slice(b * w, (b + 1) * w)))
    for (it <- 0 until math.max(coarseIters, pqIters)) {
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (it < coarseIters) {
        parts += sample.select(lit(0).as("src"), lit(0).as("b"),
          ivfCellD(col("v"), cents).as("cell"),
          posexplode(col("v")).as(Seq("i", "x")))
      }
      if (it < pqIters) {
        val cbNow = cb
        val sliced = sample.select(col("v") +: cbNow.indices.map(b =>
          slice(col("v"), b * w + 1, w).as(s"__s$b")): _*)
        val cells = array(cbNow.indices.map { b =>
          val entries = cbNow(b).zipWithIndex.map { case (c, j) =>
            struct(round(l2sq(col(s"__s$b"), c), 4).as("d"), lit(j).as("j"))
          }
          array_min(array(entries: _*)).getField("j")
        }: _*)
        val bOf = (col("pos") / w).cast("int")
        parts += sliced.select(col("v"), cells.as("cells"))
          .select(posexplode(col("v")).as(Seq("pos", "x")), col("cells"))
          .select(lit(1).as("src"), bOf.as("b"),
            element_at(col("cells"), bOf + 1).as("cell"),
            pmod(col("pos"), lit(w)).as("i"), col("x"))
      }
      val byKey = parts.reduce(_ union _)
        .groupBy(col("src"), col("b"), col("cell"), col("i"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      def mean(rows: Array[org.apache.spark.sql.Row]): Seq[Double] =
        rows.sortBy(_.getInt(3))
          .map(r => math.floor(r.getDouble(4) * 1e6 + 0.5) / 1e6).toSeq
      if (it < coarseIters) cents = cents.map { case (cid, old) =>
        byKey.get((0, 0, cid)).map(r => (cid, mean(r))).getOrElse((cid, old))
      }
      if (it < pqIters) cb = cb.zipWithIndex.map { case (centers, b) =>
        centers.zipWithIndex.map { case (old, j) =>
          byKey.get((1, b, j)).map(mean).getOrElse(old)
        }
      }
    }
    sample.unpersist()
    (cents, cb)
  }

  /** Squared L2 between an array-column slice and a literal center —
    * sequential left fold, bit-identical to DuckDB's list_reduce.
    */
  private def l2sq(sliceCol: Column, center: Seq[Double]): Column =
    aggregate(zip_with(sliceCol, typedlit(center), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ-encode an ARRAY<DOUBLE> column: array of `subspaces` codes,
    * code b = argmin_j round(L2²(v_b, c_bj), 4), ties to the lowest j.
    * Pure narrow expression over broadcast-literal centers.
    */
  def pqEncode(vecD: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val w = codebook.head.head.length
    val codes = codebook.zipWithIndex.map { case (centers, b) =>
      val entries = centers.zipWithIndex.map { case (c, j) =>
        struct(round(l2sq(slice(vecD, b * w + 1, w), c), 4).as("d"),
          lit(j).as("j"))
      }
      array_min(array(entries: _*)).getField("j")
    }
    array(codes: _*)
  }

  /** ADC top-k: corpus vectors are matched by their CODES only — the
    * probe computes its distance to each coded center (8-dim arithmetic
    * per subspace, from literals), never to the raw corpus vector. At
    * 100 TB the scan side carries `subspaces` small ints per vector
    * instead of the embedding; with the codes table bucketed or paired
    * with an IVF cell column the same plan composes with bucket pruning.
    * Output: (pid, rnk, vec_id, adc_dist) — approximate ranking,
    * quality asserted against brute force in VectorSearchSpec.
    */
  def pqAdcTopK(
      emb: DataFrame, probes: DataFrame, k: Int,
      codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    // native one-loop-per-row encoder: the declarative formulation pays
    // interpreted-fold dispatch per CENTER per row (~128x) — q103 went
    // 4.6s -> sub-second at sf0.1 on the native kernel. pqEncode (the
    // declarative Column) remains the semantics reference; equality is
    // pinned in VectorSearchSpec.
    val coded = emb.select(col("vec_id"),
      NE.pqEncode(col("embedding"), codebook).as("codes"))
    // ADC lookup tables MATERIALIZED on the probe side BEFORE the join —
    // referenced from the join output they would be recomputed per
    // (probe, corpus) pair, turning the 5-row table build into 1.3M
    // interpreted folds; as probe-row columns they are built once each
    // and ride inside the broadcast relation. r19: the tables come from
    // the ONE-loop reference-object kernel (NE.pqAdcTables) — the old
    // per-center declarative towers put ~60 KB into the plan, and
    // planning+codegen time scaled with it (VectorQuantSpec pins kernel
    // ≡ towers).
    val p = broadcast(probes
      .select(col("vec_id").as("pid"),
        graft.functions.VectorFunctions.toDoubles(col("embedding")).as("pv"))
      .select(col("pid"),
        NE.pqAdcTables(col("pv"), codebook).as("__tbls")))
    // per joined row the distance is `subspaces` array lookups + adds
    val dist = codebook.indices.map { b =>
      element_at(element_at(col("__tbls"), b + 1),
        element_at(col("codes"), b + 1) + 1)
    }.reduce(_ + _)
    val wnd = Window.partitionBy(col("pid"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    coded.join(p, col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"), round(dist, 4).as("adc_dist"))
      .withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("adc_dist"))
  }

  /** IVF-PQ search — the composed 100 TB index: the corpus is stored as
    * (cell, codes) only, bucketed by trained coarse cell; a probe reads
    * its nProbe cells' buckets (pruned scan), then ranks candidates by
    * ADC distance against its materialized lookup tables. Neither the
    * scan nor the ranking ever touches a raw corpus vector.
    */
  /** Collect-once probe-cell relation shared by the IVF-PQ entry points:
    * scored probe rows come back to the driver (bounded: probes×nProbe)
    * and re-enter the plan as a local relation, feeding both the literal
    * bucket-prune cell list and the broadcast join.
    */
  private def collectedProbeCells(
      probes: DataFrame, cents: Seq[(Int, Seq[Double])], nProbe: Int)
      : (DataFrame, Array[Int]) = {
    val pcPlan = probeCellsD(
      probes.select(col("vec_id").as("pid"),
        graft.functions.VectorFunctions.toDoubles(col("embedding")).as("pv")),
      cents, nProbe)
    val rows = collectBounded(pcPlan)
    (probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), pcPlan.schema),
      rows.map(_.getAs[Int]("cell")).distinct.sorted)
  }

  /** ADC ranking stage over a pre-collected probe relation. */
  private def adcTopK(
      index: DataFrame, pc: DataFrame, cells: Array[Int], k: Int,
      codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    // the per-probe ADC lookup tables are a projection over the local
    // relation — built once per probe row when the broadcast
    // materializes. r19: one-loop kernel tables (see pqAdcTopK).
    val p = broadcast(pc.select(col("pid"), col("cell"),
      NE.pqAdcTables(col("pv"), codebook).as("__tbls")))
    val dist = codebook.indices.map { b =>
      element_at(element_at(col("__tbls"), b + 1),
        element_at(col("codes"), b + 1) + 1)
    }.reduce(_ + _)
    val wnd = Window.partitionBy(col("pid"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    index.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .join(p, Seq("cell"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"), round(dist, 4).as("adc_dist"))
      .withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("adc_dist"))
  }

  def ivfPqTopK(
      index: DataFrame, probes: DataFrame, k: Int,
      cents: Seq[(Int, Seq[Double])], codebook: Seq[Seq[Seq[Double]]],
      nProbe: Int = 2): DataFrame = {
    val (pc, cells) = collectedProbeCells(probes, cents, nProbe)
    adcTopK(index, pc, cells, k, codebook)
  }

  /** IVF-PQ with an exact-rerank tail — the standard fix for ADC's coarse
    * ranking (r6 measured recall@10 ≈ 0.24 on ADC alone): keep the pruned
    * vector-free ADC stage, but treat its output as a CANDIDATE set of
    * `c` per probe, join back the raw vectors for those candidates only,
    * and rerank by exact cosine. Cost at 100 TB: the ADC stage is
    * unchanged; the rerank reads c×probes raw vectors through ONE
    * broadcast hash join (the candidate list broadcasts, the vectors
    * table never shuffles), so recall recovers to near-brute-force for a
    * bounded add-on cost (VectorSearchSpec pins recall@10 >= 0.8).
    */
  def ivfPqTopKRerank(
      index: DataFrame, vectors: DataFrame, probes: DataFrame,
      k: Int, c: Int,
      cents: Seq[(Int, Seq[Double])], codebook: Seq[Seq[Seq[Double]]],
      nProbe: Int = 2): DataFrame = {
    val (pc, cells) = collectedProbeCells(probes, cents, nProbe)
    val cand = adcTopK(index, pc, cells, c, codebook)
      .select(col("pid"), col("vec_id"))
    val p = broadcast(probes
      .select(col("vec_id").as("pid"), col("embedding").as("pv")))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // candidates live in the probed cells BY CONSTRUCTION, so when the
    // vectors table carries the cell column the rerank fetch is the same
    // bucket-pruned scan as the ADC stage — a full-table scan to fetch
    // c×probes rows would be the one scale regression in this plan
    val vscan =
      if (vectors.columns.contains("cell"))
        vectors.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      else vectors
    vscan.join(broadcast(cand), Seq("vec_id"))
      .join(p, Seq("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }

  /** The probe's `nProbe` nearest cells (same rounding/tie rules as
    * ivfCell), as one row per (probe row, cell).
    */
  private def probeCells(
      probes: DataFrame, cents: Seq[(Int, Seq[Float])], nProbe: Int): DataFrame = {
    val entries = cents.map { case (cid, cv) =>
      struct((round(NE.vectorCosine(col("pv"), typedlit(cv)), 4) * -1).as("ns"),
        lit(cid).as("cid"))
    }
    probes
      .withColumn("cell",
        explode(slice(array_sort(array(entries: _*)), 1, nProbe)
          .getField("cid")))
  }

  /** IVF top-k (inverted-file ANN): vectors are binned by nearest coarse
    * centroid; a probe scans only its `nProbe` nearest cells. With K
    * centroids the candidate set shrinks ~nProbe/K vs brute force; at
    * 100 TB the assigned table is written bucketed by `cell`, making the
    * probe join a pruned scan. Same output schema as bruteForceTopK.
    */
  def ivfTopK(
      emb: DataFrame, probes: DataFrame, k: Int,
      cents: Seq[(Int, Seq[Float])], nProbe: Int = 2): DataFrame = {
    val assigned = emb.withColumn("cell", ivfCell(col("embedding"), cents))
    val p = broadcast(probeCells(
      probes.select(col("vec_id").as("pid"), col("embedding").as("pv")),
      cents, nProbe))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    assigned.join(p, Seq("cell"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }

  /** LSH top-k: candidates limited to the probe's bucket and its
    * Hamming<=probeRadius neighbours (multi-probe). Returns the same
    * schema as bruteForceTopK.
    */
  def lshTopK(
      emb: DataFrame, probes: DataFrame, k: Int,
      nPlanes: Int = 6, dim: Int = 64, probeRadius: Int = 2): DataFrame = {
    val bucketed = emb
      .withColumn("bucket", signBucket(col("embedding"), nPlanes, dim))
    val probeSet = probeMasks(nPlanes, probeRadius)
      .map(m => col("bucket").bitwiseXOR(lit(m)))
    val p = broadcast(probes
      .withColumn("bucket", signBucket(col("embedding"), nPlanes, dim))
      .select(col("vec_id").as("pid"), col("embedding").as("pv"),
        explode(array(probeSet: _*)).as("bucket")))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    bucketed.join(p, Seq("bucket"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
  }
}
