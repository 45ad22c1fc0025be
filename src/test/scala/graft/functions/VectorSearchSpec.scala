package graft.functions

import graft.SparkSpec
import graft.functions.{NativeExpressions => NE}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LSH ANN quality: recall of the bucketed search against brute force on
  * the sf0.01 embeddings, and candidate-set shrinkage (the point of LSH).
  */
class VectorSearchSpec extends SparkSpec {

  private lazy val labelled =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))

  private lazy val emb = labelled.select(col("vec_id"), col("embedding"))

  private lazy val probes = emb.filter(col("vec_id") < 10)

  /** A one-centroid codebook: every vector lands in ONE cell — the
    * pathological hot cell the salt dial exists for (a corpus-scaled
    * codebook cannot spread near-identical vectors).
    */
  private val oneCell = Seq((0, Seq.fill(64)(1.0)))

  private def withSalts[T](salts: Int)(body: => T): T = {
    spark.conf.set("graft.cell.salts", salts.toString)
    try body finally spark.conf.unset("graft.cell.salts")
  }

  private def knnRows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet

  private def labelRows(df: DataFrame): Set[(Long, Long, Long, Double, Int)] =
    df.select(col("src"), col("nbr"), col("nbr_label").cast("long"),
        col("cosine"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet

  /** The pre-r16 declarative cell self-join, verbatim: the reference
    * semantics for the cell kernel's threshold sink (pairsWithinCells).
    */
  private def pairsWithinCellsJoin(
      assigned: DataFrame, threshold: Double): Set[(Long, Long, Double)] = {
    val withNorm = assigned.select(col("cell"), col("vec_id"),
      col("embedding"), NE.vectorL2Norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("cell").as("cell_a"),
      col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col("cell").as("cell_b"),
      col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.join(b,
        col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(NE.vectorDot(col("va"), col("vb"))
          / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  /** The pre-r19 cell self-join + per-(cell, src) window formulation,
    * the reference semantics for the cell kernel's top-k sink
    * (VectorSearch.knnGraph).
    */
  private def knnWithinCellsJoin(assignedIn: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignedIn
      .select(col("cell"), col("vec_id"), col("embedding"),
        NE.vectorL2Norm(col("embedding")).as("nrm"))
    val a = assigned.select(col("cell").as("cell_a"),
      col("vec_id").as("src"), col("embedding").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell").as("cell_b"),
      col("vec_id").as("nbr"), col("embedding").as("vb"), col("nrm").as("nb"))
    val wCell = Window.partitionBy(col("cell_a"), col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    a.join(b, col("cell_a") === col("cell_b") && col("src") =!= col("nbr"))
      .select(col("cell_a"), col("src"), col("nbr"),
        round(NE.vectorDot(col("va"), col("vb"))
          / (col("na") * col("nb")), 4).as("cosine"))
      .withColumn("rc", row_number().over(wCell))
      .filter(col("rc") <= k)
      .select(col("src"), col("nbr"), col("cosine"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** The pre-r19 join + window formulation of
    * VectorSearch.labelNeighbors, the reference semantics for the cell
    * kernel's label-admitting top-k sink.
    */
  private def labelNeighborsJoin(
      vectors: DataFrame, cents: Seq[(Int, Seq[Double])],
      nAssign: Int, k: Int, sameLabel: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = VectorSearch.assignCells(vectors, cents, nAssign)
      .select(col("cell"), col("vec_id"), col("label"), col("embedding"),
        NE.vectorL2Norm(col("embedding")).as("nrm"))
    val a = assigned.select(col("cell").as("cell_a"),
      col("vec_id").as("src"), col("label").as("la"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell").as("cell_b"),
      col("vec_id").as("nbr"), col("label").as("nbr_label"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val labelPred =
      if (sameLabel) col("la") === col("nbr_label")
      else col("la") =!= col("nbr_label")
    val wCell = Window.partitionBy(col("cell_a"), col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    a.join(b, col("cell_a") === col("cell_b") &&
        col("src") =!= col("nbr") && labelPred)
      .select(col("cell_a"), col("src"), col("nbr"), col("nbr_label"),
        round(NE.vectorDot(col("va"), col("vb"))
          / (col("na") * col("nb")), 4).as("cosine"))
      .withColumn("rc", row_number().over(wCell))
      .filter(col("rc") <= k)
      .select(col("src"), col("nbr"), col("nbr_label"), col("cosine"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  test("native VectorDotF/L2Norm agree with the higher-order-function path") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    val two = emb.limit(50)
      .select(col("vec_id"), col("embedding"),
        VF.toDoubles(col("embedding")).as("vd"))
    val cmp = two.select(
      abs(NE.vectorL2Norm(col("embedding")) - VF.l2norm(col("vd"))).as("dn"),
      abs(NE.vectorDot(col("embedding"), col("embedding"))
        - VF.dot(col("vd"), col("vd"))).as("dd"))
      .agg(max(col("dn")), max(col("dd"))).collect()(0)
    assert(cmp.getDouble(0) == 0.0, "norms must agree bit-for-bit")
    assert(cmp.getDouble(1) == 0.0, "dots must agree bit-for-bit")
  }

  test("native ivfTopCells equals the declarative struct-sort assignment (r13)") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    val cents = VectorSearch.trainIvfCodebook(emb, k = 32, iters = 3,
      sampleBuckets = 3)
    val v = VF.toDoubles(col("embedding"))
    // the pre-r13 formulation, verbatim: k structs of (negated rounded
    // cosine, cid), array_sort, slice — the reference semantics
    val entries = cents.map { case (cid, cv) =>
      struct((round(VF.cosine(v, typedlit(cv)), 4) * -1).as("ns"),
        lit(cid).as("cid"))
    }
    for (nAssign <- Seq(1, 2, 3)) {
      val declarative = emb.select(col("vec_id"),
        slice(array_sort(array(entries: _*)), 1, nAssign)
          .getField("cid").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val native = emb.select(col("vec_id"),
        NE.ivfTopCells(v, cents, nAssign).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(native == declarative,
        s"nAssign=$nAssign: native kernel diverged on " +
          s"${native.count { case (k2, cs) => declarative(k2) != cs }} vectors")
    }
  }

  test("IMI product cells: k-cost assignment spans k², sound pairs, " +
      "measured recall (r13)") {
    import graft.functions.{VectorFunctions => VF}
    val (cb1, cb2, half) = VectorSearch.trainImiCodebooks(emb, k = 8,
      iters = 3, sampleBuckets = 3)
    assert(half == 32 && cb1.size == 8 && cb2.size == 8)
    val assigned = VectorSearch.imiAssignCells(emb, cb1, cb2, half, aProbe = 2)
    val cells = assigned.select(col("cell")).distinct().count()
    assert(cells > 8, s"product space should exceed one half's k, got $cells")
    assert(assigned.agg(max(col("cell"))).head().getInt(0) < 64 &&
      assigned.agg(min(col("cell"))).head().getInt(0) >= 0)
    // soundness: every emitted pair's cosine really clears the threshold
    // when recomputed independently from the raw vectors
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // the aProbe dial saturates at 19 of 59 brute pairs on this corpus
    // (measured: a=2→15, a=3→18, a=4→19, a=6→19): at 64 product cells
    // over 500 vectors the recall limiter is the half-space PARTITION,
    // not the probe count — pairs whose two halves disagree about their
    // nearest sub-centroid straddle product cells no probe combination
    // covers. That is the documented IMI trade: O(√K) assignment for a
    // recall cut flat-k doesn't take; at 100 TB the cell/corpus ratio is
    // chosen so cells hold hundreds of vectors and the partition
    // boundary-loss shrinks (and aProbe probes a×a product cells if both
    // halves multi-probe — this operator dials half 1 only, matching the
    // oracle).
    val pairs = VectorSearch.imiDedupPairs(emb, cb1, cb2, half,
        aProbe = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cos(vecs(a), vecs(b)) >= 0.39995, s"unsound pair ($a,$b)")
    }
    // recall vs the brute-force thresholded set — the aProbe/k dial
    val ids = vecs.keys.toSeq.sorted
    val brute = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if BigDecimal(cos(vecs(ids(i)), vecs(ids(j))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.4
    } yield (ids(i), ids(j))
    val recall = pairs.toSet.intersect(brute.toSet).size.toDouble / brute.size
    info(f"IMI recall = $recall%.2f (${pairs.size} of ${brute.size} pairs) " +
      f"over $cells product cells at 2x8-cell assignment cost")
    assert(recall >= 0.2, s"IMI recall collapsed: $recall")
  }

  test("margin multi-probe IMI: native kernel matches the declarative " +
      "gate, pairs are sound, recall >= 0.95x flat at equal cell count " +
      "(r16 parity dial)") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    // the production geometry at this corpus: scaledKHalf(500) = 4 ->
    // 16 product cells; flat comparison trains 16 cells, nAssign=2
    val n = emb.count()
    val kHalf = VectorSearch.scaledKHalf(n)
    assert(kHalf == 4, s"scaledKHalf(500) must be 4, got $kHalf")
    val (cb1, cb2, half) = VectorSearch.trainImiCodebooks(emb, k = kHalf,
      iters = 3, sampleBuckets = 3)
    // the r16 production PAIRS dial (cap 4 / margin 0.2 — the parity
    // dial VERDICT r15 #1 shipped: 99.2 % of flat's sf10 pairs at 3.9×
    // less cost; the r15 cap-3 default measured 87 %, under criterion)
    val (cap, margin) = (4, 0.2)
    // (1) kernel equivalence: ivfTopCellsMargin == the declarative
    // formulation (rank by round4 sim desc/cid asc; keep rank 1 plus
    // ranks 2..cap while best - sim <= margin)
    val v1 = VF.toDoubles(slice(col("embedding"), 1, half))
    def declarativeGate(cb: Seq[(Int, Seq[Double])], v: org.apache.spark.sql.Column) = {
      val entries = cb.map { case (cid, cv) =>
        struct((round(VF.cosine(v, typedlit(cv)), 4) * -1).as("ns"),
          lit(cid).as("cid"))
      }
      val sorted = array_sort(array(entries: _*))
      val best = element_at(sorted, 1).getField("ns") * -1
      filter(slice(sorted, 1, cap), e =>
        (best - (e.getField("ns") * -1)) <= margin).getField("cid")
    }
    val cmp = emb.select(col("vec_id"),
        NE.ivfTopCellsMargin(v1, cb1, cap, margin).as("nat"),
        declarativeGate(cb1, v1).as("dec"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
      s"margin kernel diverged for vec ${r.getLong(0)}: " +
        s"${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}"))
    // (2) soundness + recall vs the flat quantizer at EQUAL cell count —
    // the VERDICT r15 #1 pin: the production cap-4 dial must hold >= 95%
    // of flat's pairs (the r14 top-2x-top-1 schedule found 44-65%, the
    // r15 cap-3 dial 87% at sf10)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val mp = VectorSearch.imiDedupPairsMp(emb, cb1, cb2, half,
        cap = cap, margin = margin, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    mp.foreach { case (a, b) =>
      assert(cos(vecs(a), vecs(b)) >= 0.39995, s"unsound pair ($a,$b)")
    }
    val flatCents = VectorSearch.trainIvfCodebook(emb, k = kHalf * kHalf,
      iters = 3, sampleBuckets = 3)
    val flat = VectorSearch.semanticDedupPairs(emb, flatCents,
        nAssign = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    info(s"margin-probe pairs=${mp.length} flat pairs=${flat.length} " +
      s"at ${kHalf * kHalf} cells (cap-3 measured 49 vs 40 here; cap 4 " +
      "can only widen the probe set)")
    assert(mp.length >= math.ceil(0.95 * flat.length).toInt,
      s"margin-probe recall ${mp.length}/${flat.length} below 0.95x flat")
    // (3) bounded expansion: <= cap^2 assignments per vector, and the
    // data-adaptive gate stays well under the worst case on real data
    val assigned = VectorSearch.imiAssignCellsMp(emb, cb1, cb2, half,
      cap = cap, margin = margin)
    val perVec = assigned.groupBy(col("vec_id")).count()
      .agg(max(col("count")), avg(col("count"))).head()
    assert(perVec.getLong(0) <= cap.toLong * cap,
      s"expansion exceeded cap²: ${perVec.getLong(0)}")
    info(f"assignments/vector: avg ${perVec.getDouble(1)}%.2f " +
      f"max ${perVec.getLong(0)} (cap² = ${cap * cap})")
  }

  test("matryoshka prefix rerank: recall@10 vs full-width brute force (r13)") {
    import graft.functions.{VectorFunctions => VF}
    // the q158 dial (32-dim prefix, rerank top-100); the measured curve
    // on this corpus: 16/50 -> 0.50, 16/100 -> 0.67, 32/50 -> 0.71,
    // 32/100 -> 0.89, 32/200 -> 0.99 — prefix width buys more than
    // candidate count, and untrained synthetic embeddings are the WORST
    // case (MRL-trained prefixes concentrate information by design)
    val withPrefix = emb.select(col("vec_id"),
      VF.toDoubles(col("embedding")).as("v"),
      VF.toDoubles(slice(col("embedding"), 1, 32)).as("vp")).cache()
    def top10(pid: Long, twoStage: Boolean): Seq[Long] = {
      val probe = broadcast(withPrefix.filter(col("vec_id") === pid)
        .select(col("v").as("pv"), col("vp").as("pvp")))
      val base = withPrefix.filter(col("vec_id") =!= pid).crossJoin(probe)
      val cands =
        if (!twoStage) base
        else {
          val coarse = base
            .select(col("vec_id"), round(VF.cosine(col("vp"), col("pvp")), 4).as("cs"))
            .orderBy(col("cs").desc, col("vec_id").asc).limit(100)
          withPrefix.join(broadcast(coarse.select(col("vec_id"))), Seq("vec_id"))
            .crossJoin(probe)
        }
      cands.select(col("vec_id"), round(VF.cosine(col("v"), col("pv")), 4).as("c"))
        .orderBy(col("c").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSeq
    }
    val recalls = (0L until 10L).map { pid =>
      (top10(pid, twoStage = false).toSet
        intersect top10(pid, twoStage = true).toSet).size / 10.0
    }
    withPrefix.unpersist()
    val avg = recalls.sum / recalls.size
    info(f"matryoshka recall@10 = $avg%.2f over 10 probes " +
      "(32 of 64 dims coarse, rerank top-100)")
    assert(avg >= 0.8, s"prefix coarse pass starves the rerank: $recalls")
  }

  test("lsh buckets are deterministic and cover the corpus") {
    val b1 = emb.withColumn("b",
      VectorSearch.signBucket(col("embedding"), 6, 64))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b2 = emb.withColumn("b",
      VectorSearch.signBucket(col("embedding"), 6, 64))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 64))
    assert(b1.values.toSet.size > 8, "buckets should spread")
  }

  test("indexed entry points handle an empty probe relation") {
    // empty probes → empty result, no exception (the bounded collect and
    // the literal IN over zero cells must both degrade gracefully)
    val cents = emb.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    val index = emb.withColumn("cell",
      VectorSearch.ivfCellD(VectorFunctions.toDoubles(col("embedding")), cents))
    val none = emb.filter(col("vec_id") < -1)
    assert(VectorSearch.ivfTopKIndexed(index, none, 5, cents).count() == 0)
    val cb = VectorSearch.pqCodebook(emb, 8, 16)
    val codes = index.select(col("vec_id"), col("cell"),
      NativeExpressions.pqEncode(col("embedding"), cb).as("codes"))
    assert(VectorSearch.ivfPqTopK(codes, none, 5, cents, cb).count() == 0)
    assert(VectorSearch.ivfPqTopKRerank(codes, index, none, 5, 50, cents, cb)
      .count() == 0)
  }

  test("ivf search equals brute force restricted to the probed cells") {
    val e = emb
    val cents = e.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
    val p = e.filter(col("vec_id") < 10)
    val k = 10
    val ivf = VectorSearch.ivfTopK(e, p, k, cents, nProbe = 2)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap

    // ground truth: assignment + probe-cell sets computed independently
    // on the driver, then brute-force ranking restricted to those cells
    val rows = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val centsD = cents.map { case (cid, cv) => (cid, cv.map(_.toDouble)) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cell = rows.map { case (id, v) =>
      id -> centsD.map { case (cid, cv) => (-cos(v, cv), cid) }.min._2
    }.toMap
    val byId = rows.toMap
    (0L until 10L).foreach { pid =>
      val pv = byId(pid)
      val pcells = centsD.map { case (cid, cv) => (-cos(pv, cv), cid) }
        .sorted.take(2).map(_._2).toSet
      val expect = rows.filter { case (id, _) =>
        id != pid && pcells(cell(id)) }
        .map { case (id, v) => (-cos(v, pv), id) }
        .sorted.take(k).map(_._2).toSeq
      assert(ivf.getOrElse(pid, Nil) == expect, s"probe $pid mismatch")
    }
    // recall sanity vs full brute force (informational + floor)
    val brute = VectorSearch.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 10), k)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = brute.keys.toSeq.map { pid =>
      ivf.getOrElse(pid, Nil).toSet.intersect(brute(pid)).size.toDouble / k
    }
    val avg = recalls.sum / recalls.size
    info(f"ivf avg recall@10 = $avg%.2f (8 cells, nProbe=2)")
    assert(avg >= 0.25, f"ivf recall $avg%.2f too low")
  }

  test("trained IVF codebook recall beats-or-ties the fixed-first-8 demo") {
    import graft.functions.{VectorFunctions => VF}
    val k = 10
    def recall(res: Map[Long, Set[Long]], brute: Map[Long, Set[Long]]): Double = {
      val rs = brute.keys.toSeq.map { pid =>
        res.getOrElse(pid, Set.empty).intersect(brute(pid)).size.toDouble / k
      }
      rs.sum / rs.size
    }
    def byPid(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    // probes disjoint from the fixed codebook: a probe that IS a centroid
    // trivially lands in its own cell with its neighbours, which flatters
    // the fixed codebook and makes the comparison meaningless
    val p = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val brute = byPid(VectorSearch.bruteForceTopK(emb, p, k))
    val fixedCents = emb.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
    val fixed = recall(
      byPid(VectorSearch.ivfTopK(emb, p, k, fixedCents, nProbe = 2)), brute)
    val cents = VectorSearch.trainIvfCodebook(emb, k = 8, iters = 3)
    val index = emb.withColumn("cell",
      VectorSearch.ivfCellD(VF.toDoubles(col("embedding")), cents))
    val trained = recall(
      byPid(VectorSearch.ivfTopKIndexed(index, p, k, cents, nProbe = 2)),
      brute)
    info(f"ivf recall@10: trained=$trained%.3f fixed=$fixed%.3f")
    assert(trained >= fixed,
      f"trained codebook recall $trained%.3f below fixed-codebook $fixed%.3f")
    assert(trained >= 0.3, f"trained recall $trained%.3f too low")
  }

  test("cell-bucketed semantic dedup is a high-recall subset of all-pairs (q111 vs q45)") {
    // q111 restricts the pair space to shared trained cells; every pair
    // it emits must exist in the brute-force q45 answer with the SAME
    // cosine (soundness), and it must recover >= 90% of those pairs
    // (completeness of the top-3-of-8 cell assignment; measured 0.94 at
    // sf0.001, 0.97-0.98 at sf0.01/0.1)
    val dir = "/root/testdata/sf0.001"
    val cellPairs = graft.Queries.byName("q111_dedup_semantic_cells")
      .build(spark, dir)
    val allPairs = graft.Queries.byName("q45_neardup_embedding")
      .build(spark, dir)
    assert(cellPairs.exceptAll(allPairs).isEmpty,
      "cell-restricted pairs must be a subset of brute-force pairs")
    val (nCell, nAll) = (cellPairs.count(), allPairs.count())
    info(s"recall: $nCell / $nAll")
    assert(nAll > 0, "fixture should contain near-dup pairs")
    assert(nCell.toDouble / nAll >= 0.9,
      s"cell-bucketed recall $nCell/$nAll below 0.9")
  }

  test("q113 survivors: one canonical per cluster, and no surviving pair is a near-dup pair") {
    // end-to-end invariants of the survivor set, independent of the
    // oracle's row-hash: (a) the labeling is total — every corpus vec_id
    // appears exactly once; (b) each component keeps EXACTLY one doc and
    // it is the component's min id; (c) dedup actually happened: no q111
    // near-dup pair has BOTH endpoints kept (they share a component by
    // construction, and only its min survives).
    val dir = "/root/testdata/sf0.001"
    val surv = graft.Queries.byName("q113_dedup_semantic_survivors")
      .build(spark, dir).cache()
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(surv.count() == n, "labeling must cover the corpus exactly once")
    assert(surv.select(col("vec_id")).distinct().count() == n)
    val perComp = surv.groupBy(col("component"))
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("kept"),
        min(col("vec_id")).as("mn"),
        max(when(col("keep"), col("vec_id"))).as("keptId"))
    assert(perComp.filter(col("kept") =!= 1).count() == 0,
      "every cluster must keep exactly one representative")
    assert(perComp.filter(col("keptId") =!= col("mn")).count() == 0,
      "the survivor must be the cluster's minimum vec_id")
    val pairs = graft.Queries.byName("q111_dedup_semantic_cells").build(spark, dir)
    val kept = surv.filter(col("keep")).select(col("vec_id"))
    val bothKept = pairs
      .join(kept.withColumnRenamed("vec_id", "id_a"), "id_a")
      .join(kept.withColumnRenamed("vec_id", "id_b"), "id_b")
    assert(bothKept.count() == 0,
      "two surviving docs must never be a detected near-dup pair")
    surv.unpersist()
  }

  test("q115 knn graph: sound per-edge cosines, bounded degree, and decent recall vs brute top-5") {
    val dir = "/root/testdata/sf0.001"
    val g = graft.Queries.byName("q115_knn_graph").build(spark, dir).cache()
    // degree bounded by k, ranks contiguous from 1, no self-edges
    val deg = g.groupBy(col("src"))
      .agg(count(lit(1)).as("d"), max(col("rnk")).as("mx"))
    assert(deg.filter(col("d") > 5 || col("d") =!= col("mx")).count() == 0,
      "each src must have <= 5 neighbors with contiguous ranks")
    assert(g.filter(col("src") === col("nbr")).count() == 0, "self-edge")
    // soundness: every emitted cosine equals the exact pairwise cosine
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val exact = g
      .join(e.select(col("vec_id").as("src"), col("embedding").as("es")), "src")
      .join(e.select(col("vec_id").as("nbr"), col("embedding").as("en")), "nbr")
      .filter(round(NE.vectorCosine(col("es"), col("en")), 4) =!= col("cosine"))
    assert(exact.count() == 0, "graph edge cosine must be the exact cosine")
    // recall vs brute-force top-5 (cell-restricted graphs miss cross-cell
    // neighbors; top-3-of-8 assignment keeps most. Measured 0.89 here.)
    val x = e.select(col("vec_id").as("src"), col("embedding").as("es"))
    val y = e.select(col("vec_id").as("nbr"), col("embedding").as("en"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr").asc)
    val brute = x.join(y, col("src") =!= col("nbr"))
      .select(col("src"), col("nbr"),
        round(NE.vectorCosine(col("es"), col("en")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
    val hit = g.select(col("src"), col("nbr"))
      .intersect(brute.select(col("src"), col("nbr"))).count()
    val total = brute.count()
    info(s"knn-graph recall@5 vs brute: $hit / $total")
    assert(hit.toDouble / total >= 0.8,
      s"cell-restricted knn graph recall $hit/$total below 0.8")
    g.unpersist()
  }

  test("merged IMI training == two independent per-half Lloyd chains (r19)") {
    // the r19 shared-job trainer must land on the identical codebooks the
    // old per-half trainIvfCodebook calls produced — the 1e-6 mean
    // lattice both the oracle CTEs and the spec treat as the contract
    val full = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    for (k <- Seq(4, 8)) {
      val (cb1, cb2, half) = VectorSearch.trainImiCodebooks(full, k = k,
        iters = 3, sampleBuckets = 3)
      def sliced(lo: Int) = full.select(col("vec_id"),
        slice(col("embedding"), lo, half).as("embedding"))
      val ref1 = VectorSearch.trainIvfCodebook(sliced(1), k, 3, 3)
      val ref2 = VectorSearch.trainIvfCodebook(sliced(half + 1), k, 3, 3)
      assert(half == 32)
      assert(cb1 == ref1, s"k=$k: half-1 codebook diverged")
      assert(cb2 == ref2, s"k=$k: half-2 codebook diverged")
    }
  }

  test("shared-sample IVF+PQ training == the two solo trainers (r19)") {
    val full = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (cents, cb) = VectorSearch.trainIvfAndPq(full, coarseK = 8,
      coarseIters = 3, subspaces = 8, pqK = 16, pqIters = 2)
    val refCents = VectorSearch.trainIvfCodebook(full, k = 8, iters = 3,
      sampleBuckets = 3)
    val refCb = VectorSearch.trainPqCodebook(full, subspaces = 8, k = 16,
      iters = 2)
    assert(cents == refCents, "coarse codebook diverged from solo trainer")
    assert(cb == refCb, "PQ codebook diverged from solo trainer")
  }

  test("knn block kernel == join + per-cell window formulation (r19)") {
    // the r19 grouped kernel must reproduce the pre-r19 cell self-join +
    // (cell, src) window EXACTLY — same rows, same round-4 cosines, same
    // ranks — on both the flat and the IMI assignment, both k dials
    val cents = VectorSearch.trainIvfCodebook(emb, k = 8, iters = 3,
      sampleBuckets = 3)
    for (k <- Seq(3, 5)) {
      val kernel = knnRows(VectorSearch.knnGraph(emb, cents, nAssign = 3,
        k = k))
      val join = knnRows(knnWithinCellsJoin(
        VectorSearch.assignCells(emb, cents, nAssign = 3), k = k))
      assert(kernel == join,
        s"k=$k: kernel diverged on ${(kernel diff join).size} + " +
          s"${(join diff kernel).size} edges")
    }
  }

  test("label-knn block kernel == join + per-cell window formulation (r19)") {
    val cents = VectorSearch.trainIvfCodebook(emb, k = 8, iters = 3,
      sampleBuckets = 3)
    for (sameLabel <- Seq(false, true)) {
      val kernel = labelRows(VectorSearch.labelNeighbors(labelled, cents,
        nAssign = 2, k = 3, sameLabel = sameLabel))
      val join = labelRows(labelNeighborsJoin(labelled, cents,
        nAssign = 2, k = 3, sameLabel = sameLabel))
      assert(kernel == join,
        s"sameLabel=$sameLabel: kernel diverged on " +
          s"${(kernel diff join).size} + ${(join diff kernel).size} edges")
    }
  }

  test("semantic-dedup cell count is the scale lever: k=32 shrinks the pair space ~8x") {
    // q111 freezes k=8/nAssign=3 for the oracle, where the pair space is
    // ~(nAssign²/k)·n²/2 ≈ n²/2 — no reduction, by design (8 cells can't
    // show the lever). This pins the lever itself: at k=32/nAssign=2 the
    // SAME operator generates ~12% of the all-pairs space. The recall
    // floor at the 0.4 threshold is deliberately modest: 0.4 sits at the
    // random-similarity noise floor of this synthetic corpus (max
    // pairwise cosine 0.51), where pairs straddle cells the most; real
    // semantic dedup runs at thresholds where pairs co-cell.
    val cents = VectorSearch.trainIvfCodebook(emb, k = 32, iters = 3)
    val assigned = VectorSearch.assignCells(emb, cents, nAssign = 2)
      .select(col("cell"), col("vec_id"), col("embedding"))
    val a = assigned.select(col("cell").as("ca"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = assigned.select(col("cell").as("cb"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val cand = a.join(b, col("ca") === col("cb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(NE.vectorCosine(col("va"), col("vb")), 4).as("cosine"))
      .distinct()
    val n = emb.count()
    val total = n * (n - 1) / 2.0
    val nCand = cand.count()
    info(f"candidates $nCand of ${total.toLong} (${nCand / total}%.3f)")
    assert(nCand < 0.15 * total,
      s"k=32/nAssign=2 should prune the pair space to ~12%, got $nCand/$total")
    val x = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val y = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = x.crossJoin(y).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(NE.vectorCosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= 0.4)
    val hits = cand.filter(col("cosine") >= 0.4)
    assert(hits.exceptAll(brute).isEmpty, "cell pairs must be sound")
    val (nh, nb) = (hits.count(), brute.count())
    info(s"recall@0.4 with k=32: $nh / $nb")
    assert(nb > 0 && nh.toDouble / nb >= 0.45,
      s"noise-floor recall degraded: $nh/$nb")
  }

  test("q179 hard negatives: every edge crosses labels, cosines exact, " +
      "recall vs brute different-label top-3") {
    val dir = "/root/testdata/sf0.001"
    val hn = graft.Queries.byName("q179_hard_negatives").build(spark, dir)
      .cache()
    val el = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    // (1) label integrity: src label never equals the emitted nbr_label,
    // and nbr_label is the neighbor's true label
    val joined = hn
      .join(el.select(col("vec_id").as("src"), col("label").as("ls"),
        col("embedding").as("es")), "src")
      .join(el.select(col("vec_id").as("nbr"), col("label").as("ln"),
        col("embedding").as("en")), "nbr")
      .cache()
    assert(joined.filter(col("ls") === col("nbr_label")).count() == 0,
      "a hard negative must carry a different label than its anchor")
    assert(joined.filter(col("ln") =!= col("nbr_label")).count() == 0,
      "emitted nbr_label must be the neighbor's true label")
    // (2) degree bounded by k=3, contiguous ranks, no self-edges
    val deg = hn.groupBy(col("src"))
      .agg(count(lit(1)).as("d"), max(col("rnk")).as("mx"))
    assert(deg.filter(col("d") > 3 || col("d") =!= col("mx")).count() == 0)
    assert(hn.filter(col("src") === col("nbr")).count() == 0)
    // (3) soundness: emitted cosine is the exact pairwise cosine
    assert(joined.filter(
      round(NE.vectorCosine(col("es"), col("en")), 4) =!= col("cosine"))
      .count() == 0, "edge cosine must be the exact cosine")
    // (4) recall vs brute-force different-label top-3. This corpus's
    // cross-label cosines sit at the random-similarity noise floor
    // (max pairwise ~0.51), where neighbors straddle cells the most —
    // the same regime as the k=32 scale-lever test above (0.45 floor);
    // measured 0.48 here. Real mining dials nAssign up for recall.
    val x = el.select(col("vec_id").as("src"), col("label").as("ls"),
      col("embedding").as("es"))
    val y = el.select(col("vec_id").as("nbr"), col("label").as("ln"),
      col("embedding").as("en"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr").asc)
    val brute = x.join(y, col("src") =!= col("nbr") && col("ls") =!= col("ln"))
      .select(col("src"), col("nbr"),
        round(NE.vectorCosine(col("es"), col("en")), 4).as("cosine"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    val hit = hn.select(col("src"), col("nbr"))
      .intersect(brute.select(col("src"), col("nbr"))).count()
    val total = brute.count()
    info(s"hard-negative recall@3 vs brute: $hit / $total")
    assert(total > 0 && hit.toDouble / total >= 0.4,
      s"hard-negative recall $hit/$total below the 0.4 noise floor")
    joined.unpersist(); hn.unpersist()
  }

  test("q180 softdedup weights: fixed-point arithmetic, full coverage, " +
      "effective size = #clusters + #singletons") {
    val dir = "/root/testdata/sf0.001"
    val wts = graft.Queries.byName("q180_softdedup_weights")
      .build(spark, dir).cache()
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // every corpus vector gets exactly one weight row
    assert(wts.count() == n, "one weight row per corpus vector")
    assert(wts.select(col("vec_id")).distinct().count() == n)
    // weight arithmetic: floor(1e4/csize + 0.5), singletons at 1e4
    assert(wts.filter(col("weight_e4") =!=
      floor(lit(10000.0) / col("csize") + lit(0.5)).cast("long"))
      .count() == 0, "weight must be floor(1e4/csize + 0.5)")
    assert(wts.filter(col("csize") === 1 && col("weight_e4") =!= 10000L)
      .count() == 0, "singletons keep full weight")
    // csize is consistent: the component's row count equals csize
    val sizes = wts.groupBy(col("component"))
      .agg(count(lit(1)).as("m"), max(col("csize")).as("cs"),
        min(col("csize")).as("cs2"))
    assert(sizes.filter(col("m") =!= col("cs") || col("cs") =!= col("cs2"))
      .count() == 0, "csize must equal the component's member count")
    // effective dataset size: Σ weight ≈ #components (each cluster
    // contributes ~1 effective doc; floor rounding loses < 1 per member)
    val eff = wts.agg(sum(col("weight_e4"))).head().getLong(0) / 10000.0
    val nComp = wts.select(col("component")).distinct().count()
    info(s"effective size $eff vs components $nComp of $n docs")
    assert(math.abs(eff - nComp) < 0.01 * n,
      s"effective size $eff should approximate component count $nComp")
    wts.unpersist()
  }

  test("pq codes are in range and ADC ranking recalls brute-force neighbours") {
    import graft.functions.{VectorFunctions => VF}
    val k = 10
    val cb = VectorSearch.pqCodebook(emb, subspaces = 8, k = 16)
    assert(cb.size == 8 && cb.forall(_.size == 16)
      && cb.forall(_.forall(_.size == 8)))
    val coded = emb.select(col("vec_id"),
      VectorSearch.pqEncode(VF.toDoubles(col("embedding")), cb).as("codes"))
    val codes = coded.select(explode(col("codes"))).collect().map(_.getInt(0))
    assert(codes.forall(c => c >= 0 && c < 16), "code out of range")
    assert(codes.distinct.length > 4, "codebook degenerate: codes barely used")
    // the native one-loop kernel must agree with the declarative
    // expression tree code-for-code (same rounding, same tie rule)
    val native = emb.select(col("vec_id"),
      graft.functions.NativeExpressions.pqEncode(col("embedding"), cb).as("codes"))
    val declArr = coded.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    val natArr = native.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(declArr.toSeq == natArr.toSeq,
      "native pq_encode diverges from the declarative definition")
    // ranking quality: ADC top-10 must recall a reasonable share of the
    // exact cosine top-10 (PQ approximates L2; embeddings are not
    // normalized identically, so the floor is deliberately modest), and
    // the trained codebook must not rank worse than its sampled init
    val p = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val brute = VectorSearch.bruteForceTopK(emb, p, k)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recallOf(codebook: Seq[Seq[Seq[Double]]]): Double = {
      val adc = VectorSearch.pqAdcTopK(emb, p, k, codebook)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      val rs = brute.keys.toSeq.map { pid =>
        adc.getOrElse(pid, Set.empty).intersect(brute(pid)).size.toDouble / k
      }
      rs.sum / rs.size
    }
    val sampled = recallOf(cb)
    val trained = recallOf(
      VectorSearch.trainPqCodebook(emb, subspaces = 8, k = 16, iters = 2))
    info(f"pq-adc recall@10: trained=$trained%.2f sampled=$sampled%.2f")
    assert(trained >= sampled,
      f"trained PQ recall $trained%.2f below sampled init $sampled%.2f")
    assert(trained >= 0.15, f"pq recall $trained%.2f too low")
  }

  test("ivf-pq exact rerank recovers recall@10 >= 0.8 vs brute force") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    val k = 10
    def byPid(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recall(res: Map[Long, Set[Long]], brute: Map[Long, Set[Long]]): Double = {
      val rs = brute.keys.toSeq.map { pid =>
        res.getOrElse(pid, Set.empty).intersect(brute(pid)).size.toDouble / k
      }
      rs.sum / rs.size
    }
    val cents = VectorSearch.trainIvfCodebook(emb, k = 8, iters = 3)
    val cb = VectorSearch.trainPqCodebook(emb, subspaces = 8, k = 16, iters = 2)
    val index = emb.select(col("vec_id"),
      VectorSearch.ivfCellD(VF.toDoubles(col("embedding")), cents).as("cell"),
      NE.pqEncode(col("embedding"), cb).as("codes"))
    val p = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val brute = byPid(VectorSearch.bruteForceTopK(emb, p, k))
    // parameter choice (measured over this corpus): the exact-within-
    // probed-cells CEILING is 0.78 at nProbe=4 and 0.92 at nProbe=6 — with
    // only 8 coarse cells at test scale, cell coverage binds before ADC
    // quality does (production would carry ~sqrt(n) cells and probe ~10%).
    // At nProbe=6, c=200 recovers 0.87 of brute force vs 0.56 at c=50.
    val adcOnly = recall(
      byPid(VectorSearch.ivfPqTopK(index, p, k, cents, cb, nProbe = 6)), brute)
    val reranked = recall(
      byPid(VectorSearch.ivfPqTopKRerank(
        index, emb, p, k, c = 200, cents, cb, nProbe = 6)), brute)
    info(f"ivf-pq recall@10: reranked=$reranked%.2f adc-only=$adcOnly%.2f")
    assert(reranked >= adcOnly,
      f"rerank $reranked%.2f must not lose recall vs ADC-only $adcOnly%.2f")
    // the r6 verdict's usability bar: ADC alone sat at ~0.24; fetching the
    // raw vectors for the ADC top-50 and reranking exactly must recover
    // most of brute-force recall within the probed cells
    assert(reranked >= 0.8, f"reranked recall $reranked%.2f below 0.8")
  }

  test("lsh top-10 recall vs brute force, with bounded candidate sets") {
    val k = 10
    val brute = VectorSearch.bruteForceTopK(emb, probes, k)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val lsh = VectorSearch.lshTopK(emb, probes, k, nPlanes = 6, dim = 64)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = brute.keys.toSeq.map { pid =>
      val got = lsh.getOrElse(pid, Set.empty)
      got.intersect(brute(pid)).size.toDouble / k
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"avg recall@10 = $avgRecall%.2f over ${recalls.size} probes")
    assert(avgRecall >= 0.25,
      f"avg recall $avgRecall%.2f too low for hamming-1 multiprobe")

    // efficiency: candidates scanned per probe must be a small fraction
    val bucketed = emb.withColumn("bucket",
      VectorSearch.signBucket(col("embedding"), 6, 64))
    val sizes = bucketed.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probeBuckets = probes.withColumn("bucket",
      VectorSearch.signBucket(col("embedding"), 6, 64))
      .select("bucket").collect().map(_.getInt(0))
    val total = emb.count().toDouble
    val masks = VectorSearch.probeMasks(6, 2)
    val avgCand = probeBuckets.map { b =>
      masks.map(m => sizes.getOrElse(b ^ m, 0L)).sum
    }.sum.toDouble / probeBuckets.length
    info(f"avg candidates = $avgCand%.0f of $total%.0f (${avgCand / total * 100}%.1f%%)")
    assert(avgCand / total < 0.5, "LSH must scan well under half the corpus")
  }

  test("grouped pair kernel == declarative cell self-join, bit-for-bit " +
      "(r16 pairsWithinCells restatement pin)") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    val cents = VectorSearch.trainIvfCodebook(emb, k = 16, iters = 2,
      sampleBuckets = 3)
    val assigned = emb.withColumn("cell",
      explode(NE.ivfTopCells(VF.toDoubles(col("embedding")), cents, 2)))
    // the kernel (production path)
    val got = VectorSearch.pairsWithinCells(assigned, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val want = pairsWithinCellsJoin(assigned, 0.4)
    assert(want.nonEmpty, "pin needs live pairs")
    assert(got == want,
      s"grouped kernel diverged: ${got.size} vs ${want.size} pairs, " +
        s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("salted block pairing == unsalted kernel == join, one-hot-cell " +
      "skew fixture (r20 skew guard)") {
    // every sink of the cell kernel — threshold pairs, kNN, and label-kNN
    // admitting same and different labels — must give its join
    // reference's answer on the one hot cell at every salt factor
    val hot = labelled.limit(300)
    val assigned = hot.select(col("vec_id"), col("embedding"))
      .withColumn("cell", lit(0))
    val pairsWant = pairsWithinCellsJoin(assigned, 0.4)
    val knnWant = knnRows(knnWithinCellsJoin(
      VectorSearch.assignCells(hot, oneCell, nAssign = 1), k = 5))
    val labelWant = Seq(false, true).map(same => same -> labelRows(
      labelNeighborsJoin(hot, oneCell, nAssign = 1, k = 3, sameLabel = same)))
    assert(pairsWant.nonEmpty, "skew pin needs live pairs")
    assert(knnWant.size == 300 * 5, "every member needs k neighbors")
    Seq(1, 2, 3, 7).foreach { sNum => withSalts(sNum) {
      val pairs = VectorSearch.pairsWithinCells(assigned, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(pairs == pairsWant,
        s"pairs, salts=$sNum diverged: ${pairs.size} vs ${pairsWant.size}, " +
          s"extra=${(pairs -- pairsWant).take(3)} " +
          s"missing=${(pairsWant -- pairs).take(3)}")
      val knn = knnRows(VectorSearch.knnGraph(hot.select(col("vec_id"),
        col("embedding")), oneCell, nAssign = 1, k = 5))
      assert(knn == knnWant,
        s"knn, salts=$sNum diverged: extra=${(knn -- knnWant).take(3)} " +
          s"missing=${(knnWant -- knn).take(3)}")
      labelWant.foreach { case (same, want) =>
        val got = labelRows(VectorSearch.labelNeighbors(hot, oneCell,
          nAssign = 1, k = 3, sameLabel = same))
        assert(want.nonEmpty && got == want,
          s"label-knn sameLabel=$same, salts=$sNum diverged: " +
            s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      }
    } }
  }

  test("kernel cap fails loudly on an oversized cell block (r20)") {
    // every sink checks the cap, and its message names the remedy
    val hot = labelled.limit(50)
    def loud(run: => Any): Unit = {
      val e = intercept[org.apache.spark.SparkException](run)
      assert(e.getMessage.contains("graft.cell.maxKernelRows") ||
        String.valueOf(e.getCause).contains("graft.cell.maxKernelRows"))
    }
    spark.conf.set("graft.cell.maxKernelRows", "10")
    try {
      loud(VectorSearch.pairsWithinCells(hot.select(col("vec_id"),
        col("embedding")).withColumn("cell", lit(0)), 0.4).collect())
      loud(VectorSearch.knnGraph(hot.select(col("vec_id"), col("embedding")),
        oneCell, nAssign = 1, k = 5).collect())
      Seq(false, true).foreach { same =>
        loud(VectorSearch.labelNeighbors(hot, oneCell, nAssign = 1, k = 3,
          sameLabel = same).collect())
      }
    } finally spark.conf.unset("graft.cell.maxKernelRows")
  }

  test("salts rescue the top-k sinks from a hot cell over the kernel cap") {
    // 40 rows in one cell exceed a cap of 30 at S = 1; at S = 7 a block
    // holds only two salts' members, so kNN and label-kNN complete with
    // their join reference's answer
    val hot = labelled.limit(40)
    val vecs = hot.select(col("vec_id"), col("embedding"))
    spark.conf.set("graft.cell.maxKernelRows", "30")
    try {
      intercept[org.apache.spark.SparkException](
        VectorSearch.knnGraph(vecs, oneCell, nAssign = 1, k = 5).collect())
      withSalts(7) {
        assert(knnRows(VectorSearch.knnGraph(vecs, oneCell, nAssign = 1,
            k = 5)) ==
          knnRows(knnWithinCellsJoin(
            VectorSearch.assignCells(vecs, oneCell, nAssign = 1), k = 5)))
        assert(labelRows(VectorSearch.labelNeighbors(hot, oneCell,
            nAssign = 1, k = 3, sameLabel = false)) ==
          labelRows(labelNeighborsJoin(hot, oneCell, nAssign = 1, k = 3,
            sameLabel = false)))
      }
    } finally spark.conf.unset("graft.cell.maxKernelRows")
  }

  test("two-level descent == flat margin gate when every super is probed " +
      "(r16 hier exactness pin)") {
    import graft.functions.{NativeExpressions => NE, VectorFunctions => VF}
    val cents = VectorSearch.trainIvfCodebook(emb, k = 16, iters = 2,
      sampleBuckets = 3)
    val groups = VectorSearch.superCluster(cents)
    // membership must partition the codebook: every cid exactly once
    val memberCids = groups.flatMap(_._3.map(_._1))
    assert(memberCids.sorted == cents.map(_._1).sorted,
      "superCluster membership must cover every centroid exactly once")
    val v = VF.toDoubles(col("embedding"))
    // superMargin = 2.0 >= the full cosine range, superCap = #supers →
    // every live super is probed, the scanned set is the WHOLE codebook,
    // and the descent must reproduce the flat gate bit-for-bit
    val flat = emb.select(col("vec_id"),
        NE.ivfTopCellsMargin(v, cents, 3, 0.2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hier = emb.select(col("vec_id"),
        NE.ivfTopCellsMarginHier(v, groups, 3, 0.2,
          superCap = groups.size, superMargin = 2.0).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(hier == flat,
      s"exhaustive descent diverged from the flat gate on " +
        s"${hier.count { case (id, cs) => flat(id) != cs }} vectors")
  }

  test("codebook plan size is O(1) in k: kernels carry reference objects, " +
      "not per-centroid literals (r16, VERDICT r15 #3)") {
    def planLen(k: Int): Int = {
      val cents = (0 until k).map(i => (i, Seq.tabulate(8)(d =>
        (i * 8 + d + 1).toDouble / (k * 8))))
      spark.range(1)
        .select(
          NE.ivfTopCells(typedlit(Seq.fill(8)(0.5)), cents, 2).as("c"),
          NE.ivfTopCellsMargin(typedlit(Seq.fill(8)(0.5)), cents, 2, 0.1)
            .as("m"))
        .queryExecution.executedPlan.treeString.length
    }
    val small = planLen(16)
    val big = planLen(1024)
    info(s"plan treeString length: k=16 -> $small chars, k=1024 -> $big")
    assert(big <= small * 3 / 2,
      s"plan string grew with k ($small -> $big): centroid literals leaked " +
        "back into the plan")
  }

  test("trainIvfCodebook rejects k beyond the driver Lloyd-update ceiling " +
      "loudly (r16, VERDICT r15 #3)") {
    val e = intercept[IllegalArgumentException] {
      VectorSearch.trainIvfCodebook(emb,
        k = VectorSearch.MaxDriverCodebookK + 1, iters = 1)
    }
    assert(e.getMessage.contains("MaxDriverCodebookK"),
      s"cap must name itself and the shard story: ${e.getMessage}")
    assert(e.getMessage.contains("shard"),
      s"cap message must point at the shard alternative: ${e.getMessage}")
  }
}
