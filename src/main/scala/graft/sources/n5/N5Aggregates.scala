package graft.sources.n5

import graft.n5.{DatasetAttributes, DecodedBlock, Dtype}
import graft.sources.HadoopFs
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expression => V2Expression, GeneralScalarExpression, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** An aggregate the element scan computes per block over the block's
  * trimmed rectangle. When the box meets at most one block that value is
  * the final one (a complete pushdown: Spark only casts it to the
  * aggregate's result type); otherwise it is a partial that Spark merges:
  * a count or sum partial is summed, a min or max partial is min'd or
  * max'd.
  *
  * Only aggregates whose per-block value is exact are accepted:
  * counts for every dtype, `SUM(v)` for integer dtypes of at most 32 bits
  * (a block holds under 2³¹ voxels, so its sum fits a long) and
  * `MIN`/`MAX(v)` for integer dtypes. Float sums, minima and maxima are
  * left to Spark, so summation order, NaN and −0.0 stay Spark's.
  */
sealed trait N5Aggregate extends Serializable {
  def dataType(elem: DataType): DataType = LongType
  /** Whether the partial reads voxel values (else the rectangle suffices). */
  def needsValues: Boolean = true
}

object N5Aggregate {
  /** `COUNT(*)` or `COUNT(v)`: v is never null. */
  case object CountRows extends N5Aggregate {
    override def needsValues: Boolean = false
    override def toString: String = "COUNT(*)"
  }
  /** `COUNT(CASE WHEN <v cmp literal> THEN <non-null> END)`. */
  final case class CountIf(cmp: N5Comparison) extends N5Aggregate {
    override def toString: String = s"COUNT_IF($cmp)"
  }
  case object SumV extends N5Aggregate {
    override def toString: String = "SUM(v)"
  }
  case object MinV extends N5Aggregate {
    override def dataType(elem: DataType): DataType = elem
    override def toString: String = "MIN(v)"
  }
  case object MaxV extends N5Aggregate {
    override def dataType(elem: DataType): DataType = elem
    override def toString: String = "MAX(v)"
  }

  /** The scan's output schema when `aggs` are pushed: one column each. */
  def schema(aggs: Array[N5Aggregate], d: Dtype): StructType =
    StructType(aggs.zipWithIndex.map { case (a, i) =>
      StructField(s"agg$i", a.dataType(N5Schema.elementType(d)))
    })

  /** The element scan's version of `f`, or None when it must stay in Spark. */
  def of(f: AggregateFunc, d: Dtype): Option[N5Aggregate] = {
    val ints = !d.isFloat
    f match {
      case _: CountStar => Some(CountRows)
      case c: Count if !c.isDistinct && isV(c.column) => Some(CountRows)
      case c: Count if !c.isDistinct => countIf(c.column, d)
      case s: Sum if !s.isDistinct && isV(s.column) && ints && d.bytesPerElement <= 4 =>
        Some(SumV)
      case m: Min if isV(m.column) && ints => Some(MinV)
      case m: Max if isV(m.column) && ints => Some(MaxV)
      case _ => None
    }
  }

  private def isV(e: V2Expression): Boolean = e match {
    case r: NamedReference => r.fieldNames.sameElements(Array("v"))
    case _ => false
  }

  private def literal(e: V2Expression): Option[Literal[_]] = e match {
    case l: Literal[_] => Some(l)
    case _ => None
  }

  private def countIf(e: V2Expression, d: Dtype): Option[N5Aggregate] = e match {
    case c: GeneralScalarExpression if c.name == "CASE_WHEN" &&
        (c.children.length == 2 ||
          (c.children.length == 3 && literal(c.children()(2)).exists(_.value == null))) &&
        literal(c.children()(1)).exists(_.value != null) =>
      comparison(c.children()(0), N5Schema.elementType(d)).map(CountIf)
    case _ => None
  }

  /** `v <cmp> literal` in either operand order, possibly under NOT; `v` may
    * sit under a cast that preserves every value.
    */
  private def comparison(e: V2Expression, elem: DataType): Option[N5Comparison] =
    e match {
      case p: GeneralScalarExpression if p.name == "NOT" && p.children.length == 1 =>
        comparison(p.children()(0), elem).map(_.negated)
      case p: GeneralScalarExpression if p.children.length == 2 &&
          N5Comparison.ops.contains(p.name) =>
        val Array(l, r) = p.children
        (literal(l), literal(r)) match {
          case (None, Some(c)) => N5Comparison(p.name, valueType(l, elem), c)
          case (Some(c), None) =>
            N5Comparison(p.name, valueType(r, elem), c).map(_.swapped)
          case _ => None
        }
      case _ => None
    }

  private val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  /** The type `v` is compared in, when `e` is `v` or a value-preserving
    * cast of it.
    */
  private def valueType(e: V2Expression, elem: DataType): Option[DataType] = e match {
    case _ if isV(e) => Some(elem)
    case c: V2Cast if isV(c.expression) && exact(elem, c.dataType) => Some(c.dataType)
    case _ => None
  }

  private def exact(from: DataType, to: DataType): Boolean = (from, to) match {
    case _ if from == to => true
    case (f, t) if integral.contains(f) && integral.contains(t) =>
      integral.indexOf(t) >= integral.indexOf(f)
    case (ByteType | ShortType | IntegerType, DoubleType) => true
    case (ByteType | ShortType, FloatType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }
}

/** `value <op> literal` as the outcome for value below, equal to and above
  * the literal. Floating comparisons order like Spark's: NaN is greatest
  * and equals itself, −0.0 equals 0.0.
  */
final case class N5Comparison(
    lt: Boolean, eq: Boolean, gt: Boolean,
    floating: Boolean, long: Long, double: Double) {
  def negated: N5Comparison = copy(lt = !lt, eq = !eq, gt = !gt)
  def swapped: N5Comparison = copy(lt = gt, gt = lt)

  private def outcome(c: Int): Boolean = if (c < 0) lt else if (c == 0) eq else gt

  def holds(v: Long): Boolean =
    if (floating) holds(v.toDouble) else outcome(java.lang.Long.compare(v, long))

  def holds(v: Double): Boolean =
    outcome(if (v == double) 0 else java.lang.Double.compare(v, double))

  override def toString: String = {
    val op = N5Comparison.ops.collectFirst { case (o, c) if c == ((lt, eq, gt)) => o }
    s"v ${op.getOrElse(if (eq) "any" else "none")} ${if (floating) double else long}"
  }
}

object N5Comparison {
  val ops: Map[String, (Boolean, Boolean, Boolean)] = Map(
    "=" -> (false, true, false), "<>" -> (true, false, true),
    "<" -> (true, false, false), "<=" -> (true, true, false),
    ">" -> (false, false, true), ">=" -> (false, true, true))

  /** `value <op> c` when `valueType` is the literal's own numeric type. */
  def apply(op: String, valueType: Option[DataType], c: Literal[_]): Option[N5Comparison] = {
    val (lt, eq, gt) = ops(op)
    (valueType, c.value) match {
      case (Some(t), n: Number) if t == c.dataType => t match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(N5Comparison(lt, eq, gt, floating = false, n.longValue, 0.0))
        case FloatType | DoubleType =>
          Some(N5Comparison(lt, eq, gt, floating = true, 0L, n.doubleValue))
        case _ => None
      }
      case _ => None
    }
  }
}

/** Emits one ColumnarBatch holding an aggregate row per block of its
  * partition, or one empty-box row when it has none (count 0, null sum,
  * min and max, as Spark's own aggregate over no rows). Under a complete
  * pushdown the partition holds at most one block, so its one row is the
  * query's final row; otherwise the rows are partials that Spark merges.
  * A fill block's voxels are all zero, so its row needs no payload.
  */
class N5AggregateReader(
    part: N5BlocksPartition, attrs: DatasetAttributes, box: N5Box,
    aggregates: Array[N5Aggregate])
    extends PartitionReader[ColumnarBatch] {

  private val fs = HadoopFs.fs(new HPath(part.root))
  private val shardState = new N5BlockIO.ShardReadState
  private val metrics = new N5ReadMetrics
  private val vectors: Array[OnHeapColumnVector] = OnHeapColumnVector.allocateColumns(
    math.max(1, part.grids.length), N5Aggregate.schema(aggregates, attrs.dataType))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private val needValues = aggregates.exists(_.needsValues)
  private var done = false

  override def next(): Boolean = {
    if (done) return false
    done = true
    var row = 0
    part.grids.foreach { g =>
      val rect = box.rect(attrs, g)
      if (rect.rows > 0) {
        val dec =
          if (part.fill) { metrics.blocksFilled += 1; null }
          else if (!needValues) null
          else {
            metrics.blocksRead += 1
            N5BlockIO.readChecked(fs, part.root, part.dataset, g, attrs, shardState)
          }
        var c = 0
        while (c < aggregates.length) { put(c, row, rect, dec); c += 1 }
        row += 1
      }
    }
    if (row == 0) {
      aggregates.indices.foreach { c =>
        aggregates(c) match {
          case N5Aggregate.CountRows | _: N5Aggregate.CountIf => vectors(c).putLong(0, 0L)
          case _ => vectors(c).putNull(0)
        }
      }
      row = 1
    }
    batch.setNumRows(row)
    metrics.rowsEmitted += row
    true
  }

  /** Partial `c` of `rect` into row `row`; `dec` is null when every voxel
    * is zero (a fill block) or no partial reads values.
    */
  private def put(c: Int, row: Int, rect: BlockRect, dec: DecodedBlock): Unit = {
    val out = vectors(c)
    aggregates(c) match {
      case N5Aggregate.CountRows => out.putLong(row, rect.rows)
      case N5Aggregate.CountIf(cmp) =>
        var n = 0L
        if (dec == null) { if (cmp.holds(0L)) n = rect.rows }
        else if (dec.longs != null) {
          val a = dec.longs
          rect.foreachRun { (s, len) =>
            var i = s
            while (i < s + len) { if (cmp.holds(a(i))) n += 1; i += 1 }
          }
        } else {
          val a = dec.doubles
          rect.foreachRun { (s, len) =>
            var i = s
            while (i < s + len) { if (cmp.holds(a(i))) n += 1; i += 1 }
          }
        }
        out.putLong(row, n)
      case N5Aggregate.SumV =>
        var sum = 0L
        if (dec != null) {
          val a = dec.longs
          rect.foreachRun { (s, len) =>
            var i = s
            while (i < s + len) { sum += a(i); i += 1 }
          }
        }
        out.putLong(row, sum)
      case agg @ (N5Aggregate.MinV | N5Aggregate.MaxV) =>
        val isMin = agg == N5Aggregate.MinV
        var best = if (dec == null) 0L else if (isMin) Long.MaxValue else Long.MinValue
        if (dec != null) {
          val a = dec.longs
          rect.foreachRun { (s, len) =>
            var i = s
            while (i < s + len) {
              best = if (isMin) math.min(best, a(i)) else math.max(best, a(i))
              i += 1
            }
          }
        }
        out.dataType match {
          case ByteType => out.putByte(row, best.toByte)
          case ShortType => out.putShort(row, best.toShort)
          case IntegerType => out.putInt(row, best.toInt)
          case _ => out.putLong(row, best)
        }
    }
  }

  override def get(): ColumnarBatch = batch
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    metrics.values(shardState.bytesRead)
  override def close(): Unit = { batch.close(); shardState.close() }
}
