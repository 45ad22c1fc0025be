package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** round(x, 4) on the family's HALF_UP lattice — the single rounding
  * every block kernel and codebook reference object goes through.
  *
  * Semantics are EXACTLY `BigDecimal.valueOf(x).setScale(4, HALF_UP)
  * .doubleValue()` (what Spark's `round(col, 4)` computes on doubles and
  * what every oracle CTE replays), but the common case runs in pure
  * double arithmetic: `BigDecimal.valueOf` stringifies the double
  * (Double.toString + a decimal parse, ~400 ns), which r20 profiling
  * showed dominating the pair kernels — the 64-dim dot product under it
  * is ~50 ns. The fast path is sound, not approximate:
  *
  *   - let D be the shortest-decimal value of x (|D − x| ≤ ulp(x)/2) and
  *     T = |D|·1e4 + 0.5; HALF_UP at 4 decimals keeps sign(x)·floor(T)
  *     (half away from zero), and `doubleValue()` of that 4-decimal
  *     value is the nearest double — identical to `floor(T)/1e4` in
  *     correctly-rounded double division;
  *   - the computed z = |x·1e4| + 0.5 differs from T by at most the
  *     multiply's half-ulp plus the representation gap, both ≤ 2·ulp(z);
  *     when z is farther than `4·ulp(z) + 1e-12` from every integer,
  *     floor(z) == floor(T) and the fast result is bit-identical;
  *   - within that window (or |x·1e4| ≥ 2^45, where 4-decimal rounding
  *     interacts with double granularity) it falls back to the
  *     BigDecimal path — correctness never depends on the fast math.
  *
  * Round4Spec pins fast ≡ BigDecimal on adversarial boundary values and
  * a dense random sweep.
  */
object Round4 {
  private def slow(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def halfUp(x: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val y = x * 1e4
    val ay = math.abs(y)
    if (ay >= 3.5e13) return slow(x) // 2^45: stay far from integer-granularity doubles
    val z = ay + 0.5
    val f = math.floor(z)
    val eps = 4.0 * math.ulp(z) + 1e-12
    if (z - f < eps || (f + 1.0) - z < eps) return slow(x)
    // BigDecimal never yields a signed zero — neither may the fast path
    if (f == 0.0) 0.0 else (if (y < 0.0) -f else f) / 1e4
  }
}

/** L2 norm of an ARRAY<FLOAT> as a native Catalyst expression with full
  * whole-stage-codegen support — the preferred extension point when built-in
  * functions can't express an operator (builder guidance: native Expression
  * beats UDF). The generated Java is a tight primitive loop: no boxing, no
  * lambda dispatch, stays inside the WholeStageCodegen stage.
  */
case class VectorL2Norm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_l2_norm requires ARRAY<FLOAT>, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_l2_norm"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) { val x = arr.getFloat(i).toDouble; s += x * x }
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    double $x = (double) $c.getFloat($i);
         |    $s += $x * $x;
         |  }
         |}
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorL2Norm =
    copy(child = newChild)
}

/** Dot product of two ARRAY<FLOAT> columns in double precision, as a native
  * codegen expression. Replaces the interpreted
  * `aggregate(zip_with(a,b,*),0.0,+)` composition in similarity joins: the
  * generated loop is ~100ns/pair for d=64, which is what keeps all-pairs and
  * LSH-bucket similarity queries viable as the pair count grows.
  * Accumulation order is left-to-right, matching DuckDB's
  * list_cosine_similarity, so oracle hashes agree bit-for-bit after ROUND.
  */
case class VectorDotF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vector_dot requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // mismatched dimensions are corrupt input: fail like the DuckDB oracle
    // (list_cosine_similarity errors), never return a plausible-wrong score
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vector_dot: mismatched lengths $n vs ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      // null element slots contribute 0 (same convention as VectorL2Norm);
      // getFloat on a null slot is unspecified by the ArrayData contract
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vector_dot: mismatched lengths " + $n + " vs " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDotF =
    copy(left = newLeft, right = newRight)
}

/** PQ encoder as a native expression: ARRAY<FLOAT> embedding → ARRAY<INT>
  * of per-subspace nearest-center codes. The declarative formulation
  * (16 struct/array_min entries × 8 subspaces of interpreted zip_with +
  * aggregate folds) pays Catalyst dispatch per CENTER per row; here the
  * whole 1024-FLOP kernel is one primitive loop per row. Ties and
  * rounding match the declarative/oracle definition exactly: candidate
  * distances are rounded to 4 decimals with BigDecimal HALF_UP (the same
  * arithmetic `round(col, 4)` performs on doubles), argmin ties to the
  * lowest center id.
  *
  * Codegen: the generated code calls into [[PqEncodeVector.encode]]
  * (referenced object) — the kernel dominates, so inlining Java for it
  * buys nothing; this keeps the expression inside whole-stage codegen
  * without a hand-assembled string.
  */
case class PqEncodeVector(
    child: Expression, codebook: Array[Array[Array[Double]]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires ARRAY<FLOAT>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    PqEncodeVector.encode(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook,
      "double[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.PqEncodeVector.encode($c, $cb);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeVector =
    copy(child = newChild)
}

object PqEncodeVector {
  /** Shared eval/codegen kernel. Input length must be subspaces × width. */
  def encode(
      arr: ArrayData, codebook: Array[Array[Array[Double]]]): ArrayData = {
    val subspaces = codebook.length
    val w = codebook(0)(0).length
    require(arr.numElements() == subspaces * w,
      s"pq_encode: expected ${subspaces * w}-dim vector, got ${arr.numElements()}")
    val out = new Array[Int](subspaces)
    var b = 0
    while (b < subspaces) {
      val centers = codebook(b)
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < centers.length) {
        val c = centers(j)
        var d = 0.0
        var i = 0
        while (i < w) {
          val x = arr.getFloat(b * w + i).toDouble - c(i)
          d += x * x
          i += 1
        }
        // 4-decimal HALF_UP, identical to round(col, 4) on doubles
        val dr = Round4.halfUp(d)
        if (dr < bestD) { bestD = dr; best = j }
        j += 1
      }
      out(b) = best
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Trained-codebook IVF assignment as a native expression (r13):
  * ARRAY<DOUBLE> vector → ARRAY<INT> of its top-`nAssign` cell ids by
  * round(cosine, 4), ties to the lowest cid — the EXACT semantics of the
  * declarative `ivfCellD`/`assignCells` formulation (left-to-right dot
  * and norm folds, BigDecimal HALF_UP rounding at 4 decimals,
  * java.lang.Double.compare ordering), so every oracle CTE replay is
  * unchanged. What it fixes: the literal-centroid formulation builds a
  * k-way struct expression tree, so task binaries and codegen grow O(k)
  * — at the k=512 scale probe that meant 4.9 MiB task binaries and a
  * 938 s training pass. Here the codebook rides as ONE reference object
  * (centroid norms precomputed once) and the whole k×dim kernel is a
  * primitive loop per row; assignment stays a narrow zero-shuffle
  * expression at ANY k, which is what makes production cell counts
  * (thousands at 100 TB) practical.
  */
case class IvfTopCells(
    child: Expression, codebook: IvfCodebookRef, nAssign: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_top_cells requires ARRAY<DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "ivf_top_cells"

  override protected def nullSafeEval(input: Any): Any =
    codebook.topCells(input.asInstanceOf[ArrayData], nAssign)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCodebook", codebook,
      "graft.functions.IvfCodebookRef")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.topCells($c, $nAssign);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfTopCells =
    copy(child = newChild)
}

/** Shared eval/codegen kernel + codebook holder for [[IvfTopCells]].
  * Centroid L2 norms are computed once per (deserialized) instance, not
  * per row; similarity = dot/(|v|·|c|) with every fold left-to-right, so
  * the doubles are bit-identical to `VectorFunctions.cosine`'s
  * `aggregate` formulation and to DuckDB's `list_cosine_similarity`.
  */
final class IvfCodebookRef(
    val cids: Array[Int], val vecs: Array[Array[Double]]) extends Serializable {

  @transient private lazy val norms: Array[Double] = vecs.map { cv =>
    var s = 0.0
    var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    math.sqrt(s)
  }

  def topCells(v: ArrayData, n: Int): ArrayData = {
    val (topC, _, filled) = selectTop(v, n)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topC, filled))
  }

  /** [[topCells]] with the data-adaptive margin gate (r15): rank-1
    * always, ranks 2..cap only while best - sim <= margin — the exact
    * subtraction the DuckDB oracle replays ([[IvfTopCellsMargin]]).
    */
  def topCellsMargin(v: ArrayData, cap: Int, margin: Double): ArrayData = {
    val (topC, topS, filled) = selectTop(v, cap)
    var keep = 1
    while (keep < filled && topS(0) - topS(keep) <= margin) keep += 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topC, math.min(keep, filled)))
  }

  private def selectTop(v: ArrayData, n: Int): (Array[Int], Array[Double], Int) = {
    val len = v.numElements()
    val a = new Array[Double](len)
    var i = 0
    while (i < len) { a(i) = v.getDouble(i); i += 1 }
    var sa = 0.0
    i = 0
    while (i < len) { sa += a(i) * a(i); i += 1 }
    val na = math.sqrt(sa)
    val k = cids.length
    val cap = math.min(n, k)
    val topS = new Array[Double](cap)
    val topC = new Array[Int](cap)
    var filled = 0
    var c = 0
    while (c < k) {
      val cv = vecs(c)
      require(cv.length == len,
        s"ivf_top_cells: ${len}-dim vector vs ${cv.length}-dim centroid")
      var dot = 0.0
      var j = 0
      while (j < len) { dot += a(j) * cv(j); j += 1 }
      val cos = dot / (na * norms(c))
      // identical to round(col, 4): BigDecimal HALF_UP, NaN/Inf pass
      // through (java.lang.Double.compare then ranks NaN greatest,
      // matching Spark's struct ordering in the declarative path)
      val s = Round4.halfUp(cos)
      val cid = cids(c)
      var pos = filled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(s, topS(pos - 1))
        cmp > 0 || (cmp == 0 && cid < topC(pos - 1))
      }) pos -= 1
      if (pos < cap) {
        var m = math.min(filled, cap - 1)
        while (m > pos) { topS(m) = topS(m - 1); topC(m) = topC(m - 1); m -= 1 }
        topS(pos) = s
        topC(pos) = cid
        if (filled < cap) filled += 1
      }
      c += 1
    }
    (topC, topS, filled)
  }
}


/** Per-probe ADC lookup tables as ONE reference-object expression (r19).
  *
  * The declarative construction built `subspaces × k` independent
  * `round(aggregate(zip_with(slice(pv, …), center, (x,y)→(x−y)²), 0,+),4)`
  * towers — 128 interpreted higher-order folds per probe row at the
  * default dials, and an expression tree that put ~60 KB into every
  * IVF-PQ probe plan (planning + codegen time scaled with it). The
  * kernel computes the same tables in one loop: per (b, j), acc =
  * Σ_d (pv[b·w+d] − c[d])² accumulated d-ascending (the zip_with array
  * is folded left-to-right, so the float sum order is identical), each
  * entry rounded on the HALF_UP 4-decimal lattice like `round(_, 4)`.
  * A dimension mismatch fails loudly instead of the declarative path's
  * silent null padding (the repo's loud-over-wrong rule);
  * VectorQuantSpec pins kernel ≡ declarative towers on the corpus.
  */
case class PqAdcTables(child: Expression, codebook: PqCodebookRef)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_tables requires ARRAY<DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_adc_tables"

  override protected def nullSafeEval(input: Any): Any =
    codebook.adcTables(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", codebook,
      "graft.functions.PqCodebookRef")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.adcTables($c);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTables =
    copy(child = newChild)
}

/** Codebook holder + eval kernel for [[PqAdcTables]]: centers(b)(j) is
  * subspace b's j-th w-dim center.
  */
final class PqCodebookRef(
    val centers: Array[Array[Array[Double]]]) extends Serializable {

  def adcTables(v: ArrayData): ArrayData = {
    val subspaces = centers.length
    val w = centers(0)(0).length
    if (v.numElements() != subspaces * w)
      throw new IllegalArgumentException(
        s"pq_adc_tables: ${v.numElements()}-dim probe vs " +
          s"$subspaces×$w codebook")
    val out = new Array[Any](subspaces)
    var b = 0
    while (b < subspaces) {
      val cb = centers(b)
      val tbl = new Array[Any](cb.length)
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var acc = 0.0
        var d = 0
        while (d < w) {
          val x = v.getDouble(b * w + d) - c(d)
          acc += x * x
          d += 1
        }
        tbl(j) = Round4.halfUp(acc)
        j += 1
      }
      out(b) = new org.apache.spark.sql.catalyst.util.GenericArrayData(tbl)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Margin-gated multi-probe IVF assignment (r15) — [[IvfTopCells]] with
  * the probe count made DATA-ADAPTIVE: always the top-1 cell, plus cells
  * ranked 2..`cap` only while `best_sim - sim <= margin` (all sims on the
  * round-4 lattice, ties to the lowest cid — the family discipline). This
  * is the near-boundary multi-probe the IMI recall compensation needs: a
  * vector safely inside its cell assigns ONCE (cheaper than the old
  * unconditional top-2), while a vector near a quantizer boundary — the
  * only place product-cell dedup loses pairs — also lands in the
  * boundary's other cell. The margin comparison is `best - sim <= margin`
  * VERBATIM on both engines (the DuckDB oracle replays the same
  * subtraction), so no float-boundary straddle is possible.
  */
case class IvfTopCellsMargin(
    child: Expression, codebook: IvfCodebookRef, cap: Int, margin: Double)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_top_cells_margin requires ARRAY<DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "ivf_top_cells_margin"

  override protected def nullSafeEval(input: Any): Any =
    codebook.topCellsMargin(input.asInstanceOf[ArrayData], cap, margin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCodebook", codebook,
      "graft.functions.IvfCodebookRef")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.topCellsMargin($c, $cap, $margin);"
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfTopCellsMargin = copy(child = newChild)
}

/** Two-level coarse-assignment kernel (r16, VERDICT r15 #2) — the
  * sub-linear replacement for [[IvfCodebookRef]]'s flat centroid scan.
  * With the corpus-scaled codebook (kHalf = √(n/64)) a flat scan costs
  * O(kHalf·dim) per vector, i.e. total assignment work ∝ n^1.5 — the
  * dominant term at 100 TB (kHalf ~10⁵). Here the kHalf centroids are
  * pre-grouped (driver-side, deterministically — see
  * `VectorSearch.superCluster`) into g ≈ √kHalf super-cells; a vector
  * first ranks the g super-centroids, keeps the top-1 plus ranks
  * 2..`superCap` within `superMargin` of the best (the same
  * data-adaptive gate [[IvfTopCellsMargin]] applies to cells), and only
  * the MEMBER centroids of those probed supers are scanned with the
  * ordinary (round-4 sim desc, cid asc) margin gate. Per-vector work
  * drops to O((g + probed·kHalf/g)·dim) ≈ O(√kHalf·dim) — total ∝
  * n^1.25. Because the final gate is a total order over the scanned set,
  * scan order cannot affect the result, and the whole descent (super
  * training included) is replayed CTE-for-CTE by the DuckDB oracle
  * (q218). Recall loss vs the flat scan is only a vector whose true
  * top cell hides in an unprobed super — exactly the boundary case the
  * super-level margin gate is there to catch; BASELINE.md's r16
  * two-level-descent row records the measured residual.
  */
final class IvfHierRef(
    val superSids: Array[Int],
    val superVecs: Array[Array[Double]],
    val memberCids: Array[Array[Int]],
    val memberVecs: Array[Array[Array[Double]]],
    val superCap: Int, val superMargin: Double) extends Serializable {
  // `superSids` are the ORIGINAL super ids (ties in the stage-1 ranking
  // break to the lowest ORIGINAL sid, so dropping empty supers at
  // construction cannot renumber the tie order the oracle replays);
  // member/vec arrays are positional against this compacted list.
  require(superSids.length == superVecs.length &&
    superVecs.length == memberCids.length &&
    memberCids.length == memberVecs.length,
    "ivf hier: ragged super arrays")

  private def l2(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }
  @transient private lazy val superNorms: Array[Double] = superVecs.map(l2)
  @transient private lazy val memberNorms: Array[Array[Double]] =
    memberVecs.map(_.map(l2))
  @transient private lazy val posOfSid: java.util.HashMap[Int, Int] = {
    val m = new java.util.HashMap[Int, Int](superSids.length * 2)
    var i = 0
    while (i < superSids.length) { m.put(superSids(i), i); i += 1 }
    m
  }

  /** round(x, 4) on the family lattice (BigDecimal HALF_UP; NaN/Inf pass
    * through) — bit-identical to [[IvfCodebookRef]]'s rounding.
    */
  private def round4(cos: Double): Double = Round4.halfUp(cos)

  /** Offer every (cid, vec) of one centroid group into the shared
    * insertion-sorted top-`cap` accumulator ordered by (sim desc, cid
    * asc) — the identical loop body to `IvfCodebookRef.selectTop`, made
    * group-appendable so stage 2 can fold several member groups into one
    * total-order selection.
    */
  private def scanGroup(
      a: Array[Double], na: Double, cids: Array[Int],
      vecs: Array[Array[Double]], norms: Array[Double],
      topC: Array[Int], topS: Array[Double], cap: Int,
      filled0: Int): Int = {
    var filled = filled0
    var c = 0
    val k = cids.length
    val len = a.length
    while (c < k) {
      val cv = vecs(c)
      require(cv.length == len,
        s"ivf_top_cells_hier: ${len}-dim vector vs ${cv.length}-dim centroid")
      var dot = 0.0
      var j = 0
      while (j < len) { dot += a(j) * cv(j); j += 1 }
      val s = round4(dot / (na * norms(c)))
      val cid = cids(c)
      var pos = filled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(s, topS(pos - 1))
        cmp > 0 || (cmp == 0 && cid < topC(pos - 1))
      }) pos -= 1
      if (pos < cap) {
        var m = math.min(filled, cap - 1)
        while (m > pos) { topS(m) = topS(m - 1); topC(m) = topC(m - 1); m -= 1 }
        topS(pos) = s
        topC(pos) = cid
        if (filled < cap) filled += 1
      }
      c += 1
    }
    filled
  }

  /** The two-stage descent: margin-gated supers, then the ordinary
    * margin gate over the probed supers' member centroids.
    */
  def topCellsMargin(v: ArrayData, cap: Int, margin: Double): ArrayData = {
    val len = v.numElements()
    val a = new Array[Double](len)
    var i = 0
    while (i < len) { a(i) = v.getDouble(i); i += 1 }
    var sa = 0.0
    i = 0
    while (i < len) { sa += a(i) * a(i); i += 1 }
    val na = math.sqrt(sa)
    // stage 1: super-cell gate (ranked by sim desc, ORIGINAL sid asc)
    val sCap = math.min(superCap, superVecs.length)
    val supC = new Array[Int](sCap)
    val supS = new Array[Double](sCap)
    val supF = scanGroup(a, na, superSids, superVecs, superNorms,
      supC, supS, sCap, 0)
    var keepSup = 1
    while (keepSup < supF && supS(0) - supS(keepSup) <= superMargin)
      keepSup += 1
    // stage 2: one total-order margin gate over the scanned members
    val topC = new Array[Int](cap)
    val topS = new Array[Double](cap)
    var filled = 0
    i = 0
    while (i < keepSup) {
      val pos = posOfSid.get(supC(i))
      filled = scanGroup(a, na, memberCids(pos), memberVecs(pos),
        memberNorms(pos), topC, topS, cap, filled)
      i += 1
    }
    var keep = 1
    while (keep < filled && topS(0) - topS(keep) <= margin) keep += 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topC, math.max(math.min(keep, filled), 0)))
  }
}

/** [[IvfTopCellsMargin]] over a two-level centroid hierarchy (r16) —
  * identical output contract (gated cell ids by sim desc / cid asc),
  * O(√kHalf·dim) per-vector work instead of O(kHalf·dim). The hierarchy
  * rides along as a reference object exactly like the flat codebook —
  * shipped once per executor with the task binary, O(1) codegen size in
  * kHalf.
  */
case class IvfTopCellsMarginHier(
    child: Expression, hier: IvfHierRef, cap: Int, margin: Double)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_top_cells_hier requires ARRAY<DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "ivf_top_cells_hier"

  override protected def nullSafeEval(input: Any): Any =
    hier.topCellsMargin(input.asInstanceOf[ArrayData], cap, margin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfHier", hier,
      "graft.functions.IvfHierRef")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.topCellsMargin($c, $cap, $margin);"
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfTopCellsMarginHier = copy(child = newChild)
}

/** One-pass character-entropy kernel (r16, VERDICT r15 #8): q173's
  * 27-term fold restated without the 27 `translate` string copies per
  * row that cost it 0.68 s of GC in a 4 s query. Counts every alphabet
  * byte in ONE scan of the UTF8 payload (the alphabet is ASCII, so a
  * byte compare is exact in valid UTF-8), then reproduces the
  * declarative tree's arithmetic BIT-FOR-BIT: l is the sum of exact
  * integer counts (any order — all partials are exact doubles), and the
  * entropy accumulates the per-character −(p·ln p) terms LEFT-TO-RIGHT
  * in alphabet order with StrictMath.log (what Spark's Log expression
  * evaluates), exactly the left-associative shape the DuckDB oracle
  * replays. Returns struct(l DOUBLE, ent DOUBLE).
  */
final class CharEntropyKernel(val alphabet: Array[Byte]) extends Serializable {
  def eval(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = u.numBytes()
    val counts = new Array[Long](alphabet.length)
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      var j = 0
      while (j < alphabet.length) {
        if (b == alphabet(j)) { counts(j) += 1; j = alphabet.length }
        else j += 1
      }
      i += 1
    }
    var l = 0.0
    var j = 0
    while (j < counts.length) { l += counts(j).toDouble; j += 1 }
    var ent = 0.0
    j = 0
    while (j < counts.length) {
      if (counts(j) > 0) {
        val p = counts(j).toDouble / l
        // StrictMath, not Math: Spark's Log expression evaluates
        // StrictMath.log, and the bit-identity contract is against the
        // declarative tree (Math.log diverges by 1 ulp on real inputs)
        ent += -(p * StrictMath.log(p))
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](l, ent))
  }
}

case class CharEntropy(child: Expression, kernel: CharEntropyKernel)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_entropy requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("ent", DoubleType,
      nullable = false)))
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    kernel.eval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charEntropyKernel", kernel,
      "graft.functions.CharEntropyKernel")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.eval($c);"
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharEntropy = copy(child = newChild)
}

/** Per-document MinHash signatures as a native expression: token array →
  * ARRAY<LONG> of `as.length` signature mins. Replicates the declared
  * q42 arithmetic exactly — word-3-shingles with concat_ws null-skipping
  * at the tail (`sequence(0, greatest(len-3, 0))` semantics), base hash =
  * the 60-bit integer at md5-hex chars 18..32 mod p, signature j =
  * min((a_j·h + b_j) mod p) — so the DuckDB oracle is unchanged. The
  * signature is a PER-ROW quantity; computing it row-locally removes the
  * (doc, shingle) explode and the groupBy(doc) exchange entirely — the
  * first shuffle in the dedup pipeline becomes the band-bucket join,
  * which is the one that carries information.
  */
case class MinhashSignatures(
    child: Expression, as: Array[Long], bs: Array[Long], p: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSignatures.sigs(input.asInstanceOf[ArrayData], as, bs, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", as, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.MinhashSignatures.sigs($c, $aRef, $bRef, ${p}L);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatures =
    copy(child = newChild)
}

object MinhashSignatures {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Shared eval/codegen kernel. */
  def sigs(toks: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val n = toks.numElements()
    val out = Array.fill(as.length)(Long.MaxValue)
    val md = digest.get()
    val sb = new java.lang.StringBuilder(48)
    // shingle i covers tokens i..i+2; the declared range is
    // 0..max(n-3, 0) inclusive, with missing tail tokens skipped the way
    // concat_ws skips nulls
    var i = 0
    val last = math.max(n - 3, 0)
    while (i <= last) {
      sb.setLength(0)
      var k = i
      val end = math.min(i + 3, n)
      while (k < end) {
        if (k > i) sb.append(' ')
        sb.append(toks.getUTF8String(k).toString)
        k += 1
      }
      md.reset()
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the 60-bit integer at md5-hex chars 18..32: low nibble of byte 8,
      // then bytes 9..15
      var v = (d(8) & 0x0fL)
      var bi = 9
      while (bi < 16) { v = (v << 8) | (d(bi) & 0xffL); bi += 1 }
      val h = v % p
      var j = 0
      while (j < as.length) {
        val s = (as(j) * h + bs(j)) % p
        if (s < out(j)) out(j) = s
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Word n-grams of a token array as a native expression — the kernel under
  * the corpus-hygiene passes (q95-q97). Matches the declared semantics
  * exactly: documents shorter than n yield an EMPTY array; otherwise
  * len-n+1 space-joined grams. The declarative form (transform + sequence
  * + per-gram concat_ws over element_at lookups) is interpreted
  * per-element; this is one loop per row.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"n must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    WordNgrams.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.WordNgrams.grams($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  /** Shared eval/codegen kernel. */
  def grams(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val words = new Array[org.apache.spark.unsafe.types.UTF8String](len)
    var i = 0
    while (i < len) { words(i) = toks.getUTF8String(i); i += 1 }
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Any](len - n + 1)
    i = 0
    while (i <= len - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = words(i + k); k += 1 }
      out(i) = org.apache.spark.unsafe.types.UTF8String
        .concatWs(space, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Serializable handle around a Spark `util.sketch.BloomFilter`: ships the
  * SERIALIZED bytes to executors and deserializes once per JVM reference
  * (transient lazy), so the per-row probe is two murmur hashes over the
  * UTF8String bytes — no per-row deserialization, no boxing. This is the
  * broadcast side of bloom-pre-filtered decontamination (q135): the sketch
  * is bounded by bits-per-item × expected items regardless of corpus size,
  * which is what lets a benchmark-set membership test ride every corpus
  * scan at 100 TB without a shuffle.
  */
final class BloomRef(val bytes: Array[Byte]) extends Serializable {
  @transient private lazy val bf: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  /** UTF8String probe — same hashing as BloomFilter.putString (which
    * hashes the string's UTF-8 bytes), without materializing a java
    * String per row.
    */
  def mightContain(s: org.apache.spark.unsafe.types.UTF8String): Boolean =
    bf.mightContainBinary(s.getBytes)
}

object BloomRef {
  /** Build a bloom filter over a STRING column of `df` (an action — the
    * sketch, not the data, returns to the driver; size is fpp-bounded).
    */
  def build(
      df: org.apache.spark.sql.DataFrame, colName: String,
      expectedItems: Long, fpp: Double): BloomRef = {
    val bf = df.stat.bloomFilter(colName, expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    new BloomRef(out.toByteArray)
  }
}

/** `bloom_might_contain(gram)` — native, codegen'd membership probe of a
  * STRING column against a driver-built [[BloomRef]]. FALSE NEGATIVES ARE
  * IMPOSSIBLE (bloom property), so placing this filter BEFORE an exact
  * confirmation join can only drop rows the join would drop anyway —
  * exactness is preserved while the join (and any exchange feeding it)
  * sees only the fpp-bounded bloom-positive slice of the corpus.
  */
case class BloomMightContain(child: Expression, bloom: BloomRef)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContain(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomRef", bloom,
      "graft.functions.BloomRef")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = $ref.mightContain($c);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object NativeExpressions {
  /** Column API for the native L2-norm expression. */
  def vectorL2Norm(v: Column): Column =
    GraftSqlBridge.column(VectorL2Norm(GraftSqlBridge.expression(v)))

  /** Column API for the native float-array dot product. */
  def vectorDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      VectorDotF(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Cosine similarity of two ARRAY<FLOAT> columns — fully codegen'd. */
  def vectorCosine(a: Column, b: Column): Column =
    vectorDot(a, b) / (vectorL2Norm(a) * vectorL2Norm(b))

  /** PQ codes of an ARRAY<FLOAT> column against a literal codebook. */
  def pqEncode(v: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    GraftSqlBridge.column(PqEncodeVector(GraftSqlBridge.expression(v),
      codebook.map(_.map(_.toArray).toArray).toArray))

  /** MinHash signature array of a token-array column. */
  def minhashSigs(
      toks: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    GraftSqlBridge.column(MinhashSignatures(GraftSqlBridge.expression(toks),
      as.toArray, bs.toArray, p))

  /** Word n-grams of a token-array column (empty when shorter than n). */
  def wordNgrams(toks: Column, n: Int): Column =
    GraftSqlBridge.column(WordNgrams(GraftSqlBridge.expression(toks), n))

  /** Bloom membership probe of a STRING column (see [[BloomMightContain]]). */
  def bloomMightContain(c: Column, bloom: BloomRef): Column =
    GraftSqlBridge.column(
      BloomMightContain(GraftSqlBridge.expression(c), bloom))

  /** Top-`nAssign` trained-codebook IVF cells of an ARRAY<DOUBLE> column
    * (see [[IvfTopCells]]); ordered by similarity desc, cid asc.
    */
  def ivfTopCells(
      vecD: Column, cents: Seq[(Int, Seq[Double])], nAssign: Int): Column = {
    val ref = new IvfCodebookRef(
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)
    GraftSqlBridge.column(
      IvfTopCells(GraftSqlBridge.expression(vecD), ref, nAssign))
  }

  /** Margin-gated multi-probe cells (see [[IvfTopCellsMargin]]): top-1
    * always, ranks 2..`cap` while best - sim <= margin.
    */
  def ivfTopCellsMargin(
      vecD: Column, cents: Seq[(Int, Seq[Double])], cap: Int,
      margin: Double): Column = {
    val ref = new IvfCodebookRef(
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)
    GraftSqlBridge.column(
      IvfTopCellsMargin(GraftSqlBridge.expression(vecD), ref, cap, margin))
  }

  /** ADC lookup tables (see [[PqAdcTables]]): one array of `subspaces`
    * arrays of k round-4 L2² distances per probe row, O(1) plan size in
    * the codebook.
    */
  def pqAdcTables(vecD: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val ref = new PqCodebookRef(codebook.map(_.map(_.toArray).toArray).toArray)
    GraftSqlBridge.column(PqAdcTables(GraftSqlBridge.expression(vecD), ref))
  }

  /** struct(l, ent) of the one-pass character-entropy kernel (see
    * [[CharEntropy]]); `alphabet` must be ASCII.
    */
  def charEntropy(nt: Column, alphabet: String): Column = {
    val bytes = alphabet.getBytes("US-ASCII")
    require(bytes.forall(b => (b & 0x80) == 0),
      s"char_entropy alphabet must be ASCII, got '$alphabet'")
    GraftSqlBridge.column(CharEntropy(GraftSqlBridge.expression(nt),
      new CharEntropyKernel(bytes)))
  }

  /** Margin-gated cells via the two-level descent (see [[IvfHierRef]]):
    * `groups` is the compacted (sid, superVec, members) hierarchy —
    * members as (cid, centroidVec), supers with no members already
    * dropped. Same output contract as [[ivfTopCellsMargin]].
    */
  def ivfTopCellsMarginHier(
      vecD: Column,
      groups: Seq[(Int, Seq[Double], Seq[(Int, Seq[Double])])],
      cap: Int, margin: Double, superCap: Int,
      superMargin: Double): Column = {
    val ref = new IvfHierRef(
      groups.map(_._1).toArray,
      groups.map(_._2.toArray).toArray,
      groups.map(_._3.map(_._1).toArray).toArray,
      groups.map(_._3.map(_._2.toArray).toArray).toArray,
      superCap, superMargin)
    GraftSqlBridge.column(
      IvfTopCellsMarginHier(GraftSqlBridge.expression(vecD), ref, cap, margin))
  }
}
