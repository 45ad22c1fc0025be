package graft.sources.n5

import java.util

import graft.n5._
import graft.sources.HadoopFs
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => swrite}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the N5 chunked-array format — the engine's
  * core novel piece (SURVEY §7 Phase 2-3; reference read/write semantics:
  * `n5_utils.py:6-18`, `n5_utils.py:21-33`).
  *
  * Read: `spark.read.format("n5").option("dataset", "mri/c0/s0").load(root)`
  * yields one row per stored block:
  * (gx,gy,gz INT, x0,y0,z0 LONG, shape ARRAY<INT>, data ARRAY<elem>), with
  * unsigned dtypes widened (uint8→SHORT, uint16→INT, uint32→LONG).
  * Internal pipelines declare `data` as BINARY in the schema they pass to
  * `DataFrameReader.schema` and get the big-endian element bytes instead.
  *
  * Scale design:
  *  - block files group into size-targeted InputPartitions (element
  *    scans and the internal element-byte block view also spread over
  *    the session's cores) → a 1000-executor cluster reads a 100 TB
  *    volume with full parallelism and no driver bottleneck beyond the
  *    block listing (one RPC per grid directory);
  *  - grid predicates (gx/gy/gz =, <, >, IN, ranges) are pushed down and
  *    prune block files BEFORE any I/O — a box read touches only
  *    intersecting chunks, exactly like the reference's zarr slicing
  *    (`n5_to_tif.py:26`);
  *  - column pruning skips payload decode entirely for metadata-only
  *    queries (block counts, grid scans).
  *
  * Write: `df.write.format("n5").option(...)` with rows
  * (gx,gy,gz,shape,data), `data` either the typed array or BINARY
  * big-endian element bytes. Blocks are write-disjoint by grid position
  * (Spark partitions never share a block), writes are idempotent blind
  * overwrites (task retry safe — same semantics as `ometif_to_n5.py:205`),
  * and attributes.json is committed AFTER the data by the driver, fixing
  * the reference's metadata-before-data wart (`n5_multiscale.py:133`).
  */
class N5DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "n5"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = options.get("path")
    val dataset = options.getOrDefault("dataset", "")
    val elementsView = options.getOrDefault("view", "blocks") == "elements"
    if (root != null && options.containsKey("dataset")) {
      val attrs = N5Meta.datasetAttributes(root, dataset)
      if (elementsView) N5Schema.elementSchema(attrs.dataType)
      else N5Schema.blockSchema(attrs.dataType)
    } else {
      // write-only usage where attrs come from options
      N5Schema.blockSchema(
        Dtype.fromName(options.getOrDefault("dataType", "uint8")))
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new N5Table(new CaseInsensitiveStringMap(properties), schema)

  override def supportsExternalMetadata(): Boolean = true
}

object N5Schema {
  def elementType(d: Dtype): DataType = d match {
    case Dtype.UInt8 => ShortType
    case Dtype.Int8 => ByteType
    case Dtype.UInt16 => IntegerType
    case Dtype.Int16 => ShortType
    case Dtype.UInt32 => LongType
    case Dtype.Int32 => IntegerType
    case Dtype.UInt64 | Dtype.Int64 => LongType
    case Dtype.Float32 => FloatType
    case Dtype.Float64 => DoubleType
  }

  /** The read conversion, and the only place Spark's typed arrays are
    * built from element bytes: a decoded block's big-endian elements as the
    * primitive array of [[elementType]], unsigned dtypes zero-extended into
    * the wider type; `numElements` long. int8 bytes pass through uncopied.
    */
  def sparkValues(dec: DecodedBlock, d: Dtype): AnyRef = {
    val buf = java.nio.ByteBuffer.wrap(dec.bytes)
    val n = dec.numElements
    var i = 0
    d match {
      case Dtype.UInt8 =>
        val a = new Array[Short](n); while (i < n) { a(i) = (dec.bytes(i) & 0xff).toShort; i += 1 }; a
      case Dtype.Int8 =>
        if (dec.bytes.length == n) dec.bytes else java.util.Arrays.copyOf(dec.bytes, n)
      case Dtype.UInt16 =>
        val a = new Array[Int](n); while (i < n) { a(i) = buf.getShort() & 0xffff; i += 1 }; a
      case Dtype.Int16 => val a = new Array[Short](n); buf.asShortBuffer().get(a); a
      case Dtype.UInt32 =>
        val a = new Array[Long](n); while (i < n) { a(i) = buf.getInt() & 0xffffffffL; i += 1 }; a
      case Dtype.Int32 => val a = new Array[Int](n); buf.asIntBuffer().get(a); a
      case Dtype.UInt64 | Dtype.Int64 => val a = new Array[Long](n); buf.asLongBuffer().get(a); a
      case Dtype.Float32 => val a = new Array[Float](n); buf.asFloatBuffer().get(a); a
      case Dtype.Float64 => val a = new Array[Double](n); buf.asDoubleBuffer().get(a); a
    }
  }

  def blockSchema(d: Dtype): StructType =
    blockSchemaOf(ArrayType(elementType(d), containsNull = false))

  /** The block schema internal pipelines read through
    * `DataFrameReader.schema`: `data` is the block's big-endian element
    * bytes, emitted by the reader uncopied.
    */
  val blockBytesSchema: StructType = blockSchemaOf(BinaryType)

  private def blockSchemaOf(data: DataType): StructType = StructType(Seq(
    StructField("gx", IntegerType, nullable = false),
    StructField("gy", IntegerType, nullable = false),
    StructField("gz", IntegerType, nullable = false),
    StructField("x0", LongType, nullable = false),
    StructField("y0", LongType, nullable = false),
    StructField("z0", LongType, nullable = false),
    StructField("shape", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("data", data, nullable = false)))

  /** Schema of the columnar per-element view (`option("view","elements")`):
    * one row per voxel, emitted as ColumnarBatches directly from the
    * decoded block payload — no posexplode generator, no per-row boxing.
    */
  def elementSchema(d: Dtype): StructType = StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("z", LongType, nullable = false),
    StructField("v", elementType(d), nullable = false)))
}

class N5Table(options: CaseInsensitiveStringMap, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {

  private def root: String = options.get("path")
  private def dataset: String = options.getOrDefault("dataset", "")

  /** Dataset attributes for planner-side rules (None for write-only tables
    * whose attributes.json does not exist yet).
    */
  private[graft] lazy val readAttributes: Option[DatasetAttributes] =
    scala.util.Try(N5Meta.datasetAttributes(root, dataset)).toOption

  override def name(): String = s"n5:`$root`/$dataset"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // a table without attributes re-reads them to fail with the read error
    val attrs = readAttributes.getOrElse(N5Meta.datasetAttributes(root, dataset))
    // merge table options (load-time) over scan options
    val merged = new java.util.HashMap[String, String]()
    o.forEach((k, v) => merged.put(k, v))
    options.forEach((k, v) => merged.put(k, v))
    new N5ScanBuilder(root, dataset, attrs, tableSchema,
      new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new N5WriteBuilder(root, dataset, options, info)
}

// ---------------------------------------------------------------- read path

class N5ScanBuilder(
    root: String, dataset: String, attrs: DatasetAttributes,
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private val elementsView = options.getOrDefault("view", "blocks") == "elements"
  if (elementsView) require(attrs.ndim == 3,
    s"view=elements requires a 3-D dataset, got ${attrs.ndim}-D")
  /** Internal flag set by `N5.readBox(fillMissing = true)`: an absent
    * block inside the box yields fill (zero) rows instead of none.
    */
  private val fillMissing = options.getBoolean("fillMissing", false)
  require(!fillMissing || elementsView, "fillMissing requires view=elements")

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggregates: Array[N5Aggregate] = Array.empty
  private var hasAvg = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] =
    if (elementsView) {
      pushed = filters.filter(N5GridFilters.isElementFilter)
      // the reader trims every block to the box the x/y/z comparisons
      // select, so Spark evaluates only the filters the box cannot express
      filters.filterNot(N5GridFilters.isBoxFilter)
    } else {
      pushed = filters.filter(isGridFilter)
      // grid filters only prune block files; Spark re-evaluates them
      filters
    }
  override def pushedFilters(): Array[Filter] = pushed

  private def isGridFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _) => Set("gx", "gy", "gz")(a)
    case GreaterThan(a, _) => Set("gx", "gy", "gz")(a)
    case GreaterThanOrEqual(a, _) => Set("gx", "gy", "gz")(a)
    case LessThan(a, _) => Set("gx", "gy", "gz")(a)
    case LessThanOrEqual(a, _) => Set("gx", "gy", "gz")(a)
    case In(a, _) => Set("gx", "gy", "gz")(a)
    case _ => false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** True when the scan's one row is the aggregation's final row: the
    * aggregation is pushable and the pushed box meets at most one grid
    * position, so the scan plans exactly one partition (stored, fill or
    * empty-box) and its reader emits one row. Spark then plans no
    * Aggregate and no exchange; with [[graft.GraftExtensions]] installed
    * the scan is answered on the driver by [[N5DriverAggregateExec]] and
    * `collect` runs no job. Larger boxes answer false and get per-block
    * partials that Spark merges.
    * Filters are pushed before aggregates, so the box is known here, and
    * whether it meets one block is arithmetic on it: no listing.
    *
    * Spark asks this first, with the aggregation as written; an AVG in it
    * would come back split into SUM and COUNT, whose long sum rounds
    * differently from Spark's double-summing average, so it is remembered
    * (across the later calls with the split aggregation) and refused.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    hasAvg ||= agg.aggregateExpressions.exists(_.isInstanceOf[Avg])
    pushable(agg) && N5GridFilters.elementBox(pushed, attrs.dimensions).meetsOneBlock(attrs)
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = pushable(agg)
    if (ok) aggregates = agg.aggregateExpressions.map(N5Aggregate.of(_, attrs.dataType).get)
    ok
  }

  /** Every aggregate has an exact per-block form (see [[N5Aggregate]]);
    * otherwise the whole aggregation takes the row path.
    */
  private def pushable(agg: Aggregation): Boolean =
    elementsView && !hasAvg && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.forall(N5Aggregate.of(_, attrs.dataType).isDefined)

  /** The scan, with the session's leaf parallelism for the element view
    * and the element-byte block view, so they spread over its cores; the
    * typed block view gets parallelism 1 and keeps the size target alone.
    */
  override def build(): Scan =
    new N5Scan(root, dataset, attrs, pushed,
      if (aggregates.isEmpty) required else N5Aggregate.schema(aggregates, attrs.dataType),
      targetBytes = options.getOrDefault(
        "targetPartitionBytes", N5Scan.DefaultTargetPartitionBytes.toString).toLong,
      maxBlocksPerPartition = options.getOrDefault(
        "maxBlocksPerPartition", Long.MaxValue.toString).toLong,
      maxBlocksPerBatch = options.getOrDefault(
        "maxBlocksPerBatch", "0").toInt,
      elementsView = elementsView,
      elementBatchRows = {
        val n = options.getOrDefault("elementBatchRows", "16384").toInt
        // 0 would make the reader emit empty batches forever
        require(n > 0, s"elementBatchRows must be positive, got $n")
        n
      },
      fillMissing = fillMissing,
      aggregates = aggregates,
      parallelism =
        if (elementsView || bytesView) GraftSqlBridge.leafNodeParallelism(SparkSession.active)
        else 1)

  /** The element-byte block view internal pipelines read ([[N5.readBytes]]:
    * rechunk, the pyramid, TIFF export). Like the element view it spreads
    * over the cores, since every block it reads is decoded, cut and
    * re-encoded; the public typed block view keeps the size target.
    */
  private def bytesView: Boolean =
    tableSchema.find(_.name == "data").exists(_.dataType == BinaryType)
}

object N5Scan {
  /** ~decoded bytes per scan partition (targetPartitionBytes option). */
  val DefaultTargetPartitionBytes: Long = 128L * 1024 * 1024

  /** Group blocks into partitions of ~targetBytes decoded payload and at
    * most `maxBlocksPerPartition` blocks. One-partition-per-block would
    * mean tens of millions of tasks on a 100 TB volume; grouping keeps
    * task count = volume size / target, while the walk order preserves
    * grid locality within a task. Sharded zarr v3 is cut only at shard
    * boundaries. Shared by the batch scan and the streaming source's
    * batch planning.
    */
  def groupIntoPartitions(
      root: String, dataset: String, grids: Seq[Array[Int]],
      attrs: DatasetAttributes, targetBytes: Long,
      maxBlocksPerPartition: Long = Long.MaxValue): Array[InputPartition] = {
    val blockBytes = math.max(1L,
      attrs.blockSize.map(_.toLong).product * attrs.dataType.bytesPerElement)
    val perPartition = math.min(Int.MaxValue.toLong, math.max(1L,
      math.min(maxBlocksPerPartition, targetBytes / blockBytes))).toInt
    attrs.shard match {
      case Some(_) =>
        // sharded v3 (r19): grids arrive shard-by-shard from the walk;
        // cut partitions only at shard BOUNDARIES so a shard's inner
        // chunks share one reader, whose ShardReadState then opens +
        // index-reads each shard exactly once per scan
        val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
        val cur = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
        var curShard: Seq[Int] = null
        def flush(): Unit = if (cur.nonEmpty) {
          parts += N5BlocksPartition(root, dataset, cur.toArray)
          cur.clear()
        }
        grids.foreach { g =>
          val sg = attrs.shardGrid(g).toSeq
          if (sg != curShard) {
            if (cur.length >= perPartition) flush()
            curShard = sg
          }
          cur += g
        }
        flush()
        parts.toArray
      case None =>
        grids.grouped(perPartition)
          .map(gs => N5BlocksPartition(root, dataset, gs.toArray): InputPartition)
          .toArray
    }
  }
}

/** Per-axis evaluation of pushed gx/gy/gz filters — shared by the batch
  * scan's pruned directory walk and the streaming source.
  */
object N5GridFilters {
  private val axes = Array("gx", "gy", "gz")

  def asInt(v: Any): Int = v match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case o => o.toString.toInt
  }

  /** True when grid value v on `axis` satisfies every pushed filter
    * (null comparison values: keep — same policy as elementAxisOk).
    */
  def axisOk(filters: Array[Filter])(axis: Int, v: Int): Boolean =
    filters.forall {
      case EqualTo(a, x) if a == axes(axis) && x != null => v == asInt(x)
      case GreaterThan(a, x) if a == axes(axis) && x != null => v > asInt(x)
      case GreaterThanOrEqual(a, x) if a == axes(axis) && x != null => v >= asInt(x)
      case LessThan(a, x) if a == axes(axis) && x != null => v < asInt(x)
      case LessThanOrEqual(a, x) if a == axes(axis) && x != null => v <= asInt(x)
      case In(a, xs) if a == axes(axis) && xs.forall(_ != null) =>
        xs.map(asInt).contains(v)
      case _ => true
    }

  private val elemAxes = Array("x", "y", "z")

  def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case o => o.toString.toLong
  }

  /** Coordinate predicates on the element view: every one prunes block
    * files; the range comparisons among them also trim (see [[isBoxFilter]]).
    */
  def isElementFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _) => elemAxes.contains(a)
    case GreaterThan(a, _) => elemAxes.contains(a)
    case GreaterThanOrEqual(a, _) => elemAxes.contains(a)
    case LessThan(a, _) => elemAxes.contains(a)
    case LessThanOrEqual(a, _) => elemAxes.contains(a)
    case In(a, _) => elemAxes.contains(a)
    case _ => false
  }

  /** A comparison of x, y or z with an integer literal: the element scan
    * applies it exactly by trimming every block to [[N5Box]], so Spark
    * need not evaluate it again.
    */
  def isBoxFilter(f: Filter): Boolean = boxBound(f).isDefined

  private def integral(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** (axis, lo, hi): the half-open coordinate interval a box filter keeps. */
  private def boxBound(f: Filter): Option[(Int, Long, Long)] = {
    // saturating successor: x > Long.MaxValue keeps nothing, x <= it all
    def succ(v: Long) = if (v == Long.MaxValue) v else v + 1
    def on(a: String, v: Any)(bound: Long => (Long, Long)) =
      if (!elemAxes.contains(a)) None
      else integral(v).map { c =>
        val (lo, hi) = bound(c)
        (elemAxes.indexOf(a), lo, hi)
      }
    f match {
      case EqualTo(a, v) => on(a, v)(c => (c, succ(c)))
      case GreaterThan(a, v) => on(a, v)(c => (succ(c), Long.MaxValue))
      case GreaterThanOrEqual(a, v) => on(a, v)(c => (c, Long.MaxValue))
      case LessThan(a, v) => on(a, v)(c => (Long.MinValue, c))
      case LessThanOrEqual(a, v) => on(a, v)(c => (Long.MinValue, succ(c)))
      case _ => None
    }
  }

  /** The box the pushed range filters select, within `dims`. */
  def elementBox(filters: Array[Filter], dims: Array[Long]): N5Box = {
    val lo = Array.fill(3)(0L)
    val hi = Array.tabulate(3)(dims(_))
    filters.flatMap(boxBound).foreach { case (axis, l, h) =>
      lo(axis) = math.max(lo(axis), l)
      hi(axis) = math.min(hi(axis), h)
    }
    N5Box(lo, hi)
  }

  /** Block-level test of pushed ELEMENT-coordinate filters: keep grid
    * position g on `axis` when the block's coordinate range
    * [g·bs, (g+1)·bs) meets the box. `In` lists prune conservatively (a
    * block holding any listed value is kept) and Spark evaluates them on
    * the rows. An empty box keeps no block, whatever its other axes span.
    */
  def elementAxisOk(filters: Array[Filter], box: N5Box, blockSize: Array[Int])(
      axis: Int, g: Int): Boolean = {
    val bs = blockSize(axis).toLong
    val lo = g * bs
    val hi = (g + 1) * bs - 1
    !box.isEmpty && box.lo(axis) <= hi && box.hi(axis) > lo && filters.forall {
      // an In list with a null member (isin(5, null)) cannot prune
      case In(a, xs) if a == elemAxes(axis) && xs.forall(_ != null) =>
        xs.exists(x => { val v = asLong(x); v >= lo && v <= hi })
      case _ => true
    }
  }
}

/** The half-open voxel box [lo, hi) per axis that an element scan answers,
  * already clamped to the dataset's dimensions.
  */
final case class N5Box(lo: Array[Long], hi: Array[Long]) {
  def isEmpty: Boolean = (0 until 3).exists(a => lo(a) >= hi(a))

  /** The box's intersection with block `g`, as local [lo, hi) offsets
    * within the block's edge-trimmed shape (empty when they do not meet).
    */
  def rect(attrs: DatasetAttributes, g: Array[Int]): BlockRect = {
    val shape = attrs.blockShape(g)
    val l = new Array[Int](3)
    val h = new Array[Int](3)
    for (a <- 0 until 3) {
      val origin = g(a).toLong * attrs.blockSize(a)
      l(a) = math.min(math.max(lo(a) - origin, 0L), shape(a).toLong).toInt
      h(a) = math.max(math.min(hi(a) - origin, shape(a).toLong), l(a).toLong).toInt
    }
    BlockRect(shape, l, h)
  }

  /** The grid positions the box meets on `axis` (box not empty). */
  private def range(attrs: DatasetAttributes, axis: Int): Range = {
    val bs = attrs.blockSize(axis)
    (lo(axis) / bs).toInt to ((hi(axis) - 1) / bs).toInt
  }

  /** Every grid position the box meets, x outermost. */
  def grids(attrs: DatasetAttributes): Seq[Array[Int]] =
    if (isEmpty) Nil
    else for (gx <- range(attrs, 0); gy <- range(attrs, 1); gz <- range(attrs, 2))
      yield Array(gx, gy, gz)

  /** Whether the box meets at most one grid position, by arithmetic on the
    * box: no listing.
    */
  def meetsOneBlock(attrs: DatasetAttributes): Boolean =
    isEmpty || (0 until 3).forall(range(attrs, _).length == 1)
}

/** A block of edge-trimmed `shape` restricted to the local rectangle
  * [lo, hi); its rows run x-fastest, like the block's payload.
  */
final case class BlockRect(shape: Array[Int], lo: Array[Int], hi: Array[Int]) {
  val ex: Int = hi(0) - lo(0)
  val ey: Int = hi(1) - lo(1)
  val rows: Long = ex.toLong * ey * (hi(2) - lo(2))
  /** Payload index of the rectangle's first voxel in row (y, z) of it. */
  def rowStart(j: Int, k: Int): Int =
    lo(0) + (lo(1) + j) * shape(0) + (lo(2) + k) * shape(0) * shape(1)

  /** Calls `f(start, len)` for each x-run of the rectangle's payload. */
  def foreachRun(f: (Int, Int) => Unit): Unit = {
    val ez = hi(2) - lo(2)
    var k = 0
    while (k < ez) {
      var j = 0
      while (j < ey) { f(rowStart(j, k), ex); j += 1 }
      k += 1
    }
  }
}

/** The grid-directory walk shared by the batch scan and the streaming
  * source: digit-named tree traversal applying the per-axis predicate
  * DURING descent (a pruned gx subtree is never listed), yielding
  * (grid, modificationTime) per stored block file.
  */
object N5GridWalk {
  private def list(
      fs: FileSystem, base: HPath, ndim: Int,
      axisOk: (Int, Int) => Boolean): Seq[(Array[Int], Long)] = {
    def digits(s: String) = s.nonEmpty && s.forall(_.isDigit)
    def walk(dir: HPath, axis: Int, prefix: List[Int]): Seq[(Array[Int], Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (!digits(name)) Nil
        else {
          val v = name.toInt
          if (!axisOk(axis, v)) Nil
          else if (axis == ndim - 1) {
            if (st.isFile) Seq(((prefix :+ v).toArray, st.getModificationTime))
            else Nil
          } else if (st.isDirectory) walk(st.getPath, axis + 1, prefix :+ v)
          else Nil
        }
      }
    if (fs.exists(base)) walk(base, 0, Nil) else Nil
  }

  /** Container-aware chunk enumeration: N5's nested x/y/z directories,
    * zarr "/"-separated keys (same walk, axes reversed — zarr keys are
    * C-order), or zarr "."-separated flat keys (ONE listing of the
    * dataset dir). Grids return in the engine's x,y,z order either way;
    * `axisOk` is always called with engine axes. Missing chunks simply
    * don't list — the N5 sparse semantics carry over to zarr reads
    * (zarr-side fill_value reconstruction is the reader's caller's
    * choice, exactly as for absent N5 blocks).
    */
  def listChunks(
      fs: FileSystem, base: HPath, attrs: DatasetAttributes,
      axisOk: (Int, Int) => Boolean): Seq[(Array[Int], Long)] =
    if (attrs.isZarr3) listZarr3(fs, base, attrs, axisOk)
    else if (attrs.isZarr)
      listZarrKeys(fs, base, attrs.ndim, attrs.zarrSeparator, prefixed = false, axisOk)
    else list(fs, base, attrs.ndim, axisOk)

  /** zarr chunk FILES keyed by C-order indices joined by `sep` (after a
    * leading "c" key part when `prefixed`, zarr v3's default encoding):
    * "/" keys are the nested walk with axes reversed, "." keys ONE
    * listing of the dataset dir. Grids and `axisOk` are in engine order.
    */
  private def listZarrKeys(
      fs: FileSystem, base: HPath, ndim: Int, sep: String, prefixed: Boolean,
      axisOk: (Int, Int) => Boolean): Seq[(Array[Int], Long)] =
    if (sep == "/")
      list(fs, if (prefixed) new HPath(base, "c") else base, ndim,
        (axis, v) => axisOk(ndim - 1 - axis, v))
        .map { case (g, m) => (g.reverse, m) }
    else if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.flatMap { st =>
      val all = st.getPath.getName.split('.')
      val parts =
        if (!prefixed) all
        else if (all.length == ndim + 1 && all.head == "c") all.tail
        else Array.empty[String]
      if (!st.isFile || parts.length != ndim ||
        !parts.forall(p => p.nonEmpty && p.forall(_.isDigit))) Nil
      else {
        val g = parts.map(_.toInt).reverse
        if (g.indices.forall(i => axisOk(i, g(i))))
          Seq((g, st.getModificationTime))
        else Nil
      }
    }

  /** zarr v3 chunk enumeration (r18): walk the chunk FILES ("c"-prefixed
    * nested keys for the default encoding, flat dotted keys otherwise),
    * then — for sharded stores — expand each shard file into its
    * in-bounds inner-chunk grids (the engine grid is the inner grid).
    * Pushed per-axis predicates prune during the walk: for shards the
    * axis test passes when ANY contained inner index passes, and the
    * exact per-inner test re-applies after expansion.
    */
  private def listZarr3(
      fs: FileSystem, base: HPath, attrs: DatasetAttributes,
      axisOk: (Int, Int) => Boolean): Seq[(Array[Int], Long)] = {
    val ndim = attrs.ndim
    val cps = attrs.shard.map(_.chunksPerShard)
    def fileAxisOk(axis: Int, v: Int): Boolean = cps match {
      case None => axisOk(axis, v)
      case Some(c) =>
        (0 until c(axis)).exists(l => axisOk(axis, v * c(axis) + l))
    }
    val files = listZarrKeys(fs, base, ndim, attrs.zarrSeparator,
      attrs.zarr3ChunkPrefix, fileAxisOk)
    cps match {
      case None => files
      case Some(c) =>
        val gd = attrs.gridDims
        val locals = c.map(n => 0 until n)
          .foldRight(Seq(List.empty[Int])) { (r, acc) =>
            for (i <- r; rest <- acc) yield i :: rest
          }
        files.flatMap { case (sg, m) =>
          locals.flatMap { loc =>
            val inner = Array.tabulate(ndim)(i => sg(i) * c(i) + loc(i))
            if (inner.indices.forall(i => inner(i) < gd(i) && axisOk(i, inner(i))))
              Seq((inner, m))
            else Nil
          }
        }
    }
  }
}

/** Shared chunk-file read + decode, container-aware (N5 block header vs
  * zarr headerless full chunk). Both DSv2 readers and the box paths go
  * through here so zarr support is a property of the SOURCE, not of one
  * view.
  */
object N5BlockIO {
  /** Whole-file read: nio for file://, Hadoop stream otherwise. */
  private def readAllBytes(fs: FileSystem, p: HPath): Array[Byte] = {
    val lp = HadoopFs.localPath(fs, p)
    if (lp != null) java.nio.file.Files.readAllBytes(lp)
    else {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  /** Per-partition-reader cache of the currently-OPEN shard: stream,
    * length, parsed index (r19). Same-shard inner chunks arrive
    * consecutively (the v3 walk emits shard-by-shard and partition
    * grouping cuts only at shard boundaries), so one open + one
    * positioned index read serves every inner chunk of a shard. Owned by
    * a single PartitionReader — not thread-safe, closed with it. It also
    * counts the compressed bytes the reader has read, shard indexes
    * included.
    */
  final class ShardReadState extends AutoCloseable {
    var bytesRead: Long = 0L
    private[N5BlockIO] var path: String = null
    private[N5BlockIO] var in: org.apache.hadoop.fs.FSDataInputStream = null
    private[N5BlockIO] var fileLen: Long = 0L
    private[N5BlockIO] var index: Array[Long] = null
    override def close(): Unit = {
      if (in != null) { in.close(); in = null }
      path = null
      index = null
    }
  }

  def readDecode(
      fs: FileSystem, root: String, dataset: String, g: Array[Int],
      attrs: DatasetAttributes,
      shardState: ShardReadState = null): DecodedBlock = {
    val p = new HPath(root, s"$dataset/${attrs.chunkKey(g)}")
    // name the block: a bare EOFException or BufferUnderflowException names none
    try attrs.shard match {
      case Some(sp) if attrs.isZarr3 =>
        readSharded(fs, p, g, attrs, sp, shardState)
      case _ =>
        val raw = readAllBytes(fs, p)
        if (shardState != null) shardState.bytesRead += raw.length
        if (attrs.isZarr3) {
          val body = if (attrs.zarr3Crc) stripCrc32c(raw, "chunk") else raw
          BlockCodec.decodeZarr(body, attrs.dataType, attrs.compression,
            attrs.blockSize, attrs.blockShape(g), attrs.zarrLittleEndian)
        } else if (attrs.isZarr)
          BlockCodec.decodeZarr(raw, attrs.dataType, attrs.compression,
            attrs.blockSize, attrs.blockShape(g), attrs.zarrLittleEndian)
        else BlockCodec.decode(raw, attrs.dataType, attrs.compression)
    } catch {
      case scala.util.control.NonFatal(e) => throw new java.io.IOException(
        s"cannot read block $dataset/${g.mkString("/")} ($p): $e", e)
    }
  }

  /** Ranged sharded read (r19, closes the r18 whole-shard `weak`): never
    * touch shard bytes beyond this block's inner chunk. The
    * 16·nInner-byte index is positioned-read ONCE per shard — cached with
    * the open stream in `shardState` across a partition's consecutive
    * same-shard blocks — then each inner chunk is a positioned read of
    * exactly [off, off+nbytes). Cost per block: O(chunk) bytes (+ one
    * index per shard), vs r18's whole-file `readAllBytes` which was
    * O(innerChunks × shardBytes) I/O and held a ≥shard-sized byte array
    * per read (2 GB JVM array cap) — real shards are GBs by design.
    * The all-ones index entry means the inner chunk was never written and
    * reconstructs as fill (zeros) — zarr semantics at the INDEX level,
    * while a wholly missing shard file keeps the engine's sparse no-row
    * semantics at the FILE level (it never lists).
    */
  private def readSharded(
      fs: FileSystem, p: HPath, g: Array[Int], attrs: DatasetAttributes,
      sp: ShardSpec, shardState: ShardReadState): DecodedBlock = {
    val st = if (shardState != null) shardState else new ShardReadState
    try {
      val key = p.toString
      if (st.path != key) {
        st.close()
        st.fileLen = fs.getFileStatus(p).getLen
        st.in = fs.open(p)
        st.index = readShardIndex(st.in, st.fileLen, sp)
        st.bytesRead += sp.chunksPerShard.product * 16 + (if (sp.indexCrc) 4 else 0)
        st.path = key
      }
      val flat = sp.flatIndex(g)
      val off = st.index(flat * 2)
      val nbytes = st.index(flat * 2 + 1)
      if (off == -1L && nbytes == -1L)
        fillBlock(attrs.blockShape(g), attrs) // never written: fill 0
      else {
        if (off < 0 || nbytes < 0 || off + nbytes > st.fileLen)
          throw new IllegalArgumentException(
            s"zarr3: shard index entry [$off, ${off + nbytes}) outside " +
              s"the ${st.fileLen} B shard")
        if (nbytes > Int.MaxValue - 8) throw new IllegalArgumentException(
          s"zarr3: inner chunk of $nbytes B exceeds the JVM array limit")
        val chunk = new Array[Byte](nbytes.toInt)
        st.in.readFully(off, chunk)
        st.bytesRead += nbytes
        val body = if (sp.chunkCrc) stripCrc32c(chunk, "inner chunk") else chunk
        BlockCodec.decodeZarr(body, attrs.dataType, sp.innerCompression,
          attrs.blockSize, attrs.blockShape(g), sp.innerLittleEndian)
      }
    } finally if (shardState == null) st.close()
  }

  /** Positioned read + crc-verify + parse of a shard's u64-pair index
    * (C-order over the shard's inner grid, at the declared end/start).
    */
  private def readShardIndex(
      in: org.apache.hadoop.fs.FSDataInputStream, fileLen: Long,
      sp: ShardSpec): Array[Long] = {
    val nInner = sp.chunksPerShard.product
    val idxSize = nInner * 16 + (if (sp.indexCrc) 4 else 0)
    if (fileLen < idxSize) throw new IllegalArgumentException(
      s"zarr3: shard of $fileLen B smaller than its $idxSize B index")
    val idxRaw = new Array[Byte](idxSize)
    in.readFully(if (sp.indexAtEnd) fileLen - idxSize else 0L, idxRaw)
    val idx = if (sp.indexCrc) stripCrc32c(idxRaw, "shard index") else idxRaw
    val bb = java.nio.ByteBuffer.wrap(idx)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Long](nInner * 2)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  /** Verify and strip a trailing crc32c codec's 4-byte LE checksum. */
  private def stripCrc32c(b: Array[Byte], what: String): Array[Byte] = {
    if (b.length < 4) throw new IllegalArgumentException(
      s"zarr3: $what shorter than its crc32c (${b.length} B)")
    val crc = new java.util.zip.CRC32C()
    crc.update(b, 0, b.length - 4)
    val stored = (b(b.length - 4) & 0xffL) | ((b(b.length - 3) & 0xffL) << 8) |
      ((b(b.length - 2) & 0xffL) << 16) | ((b(b.length - 1) & 0xffL) << 24)
    if (crc.getValue != stored) throw new IllegalArgumentException(
      s"zarr3: $what crc32c mismatch (stored $stored, computed ${crc.getValue})")
    java.util.Arrays.copyOfRange(b, 0, b.length - 4)
  }

  /** [[readDecode]] for the element readers, which unravel coordinates
    * from the attrs-derived trimmed shape: a block file whose stored
    * header disagrees (corrupt write, foreign tool) or that decodes short
    * fails here rather than being misread as the wrong voxels.
    */
  def readChecked(
      fs: FileSystem, root: String, dataset: String, g: Array[Int],
      attrs: DatasetAttributes, shardState: ShardReadState): DecodedBlock = {
    val dec = readDecode(fs, root, dataset, g, attrs, shardState)
    val shape = attrs.blockShape(g)
    require(java.util.Arrays.equals(dec.shape, shape),
      s"block ${g.mkString("/")}: stored shape ${dec.shape.mkString("x")} " +
        s"!= attrs-derived ${shape.mkString("x")}")
    require(dec.elementCount >= shape.product,
      s"block ${g.mkString("/")}: decoded ${dec.elementCount} elements, " +
        s"expected ${shape.product} — truncated or varlength-short block")
    dec
  }

  private def fillBlock(shape: Array[Int], attrs: DatasetAttributes): DecodedBlock =
    DecodedBlock(shape, attrs.dataType,
      new Array[Byte](shape.product * attrs.dataType.bytesPerElement))

}

class N5Scan(
    root: String, dataset: String, attrs: DatasetAttributes,
    filters: Array[Filter], required: StructType,
    targetBytes: Long,
    maxBlocksPerPartition: Long,
    maxBlocksPerBatch: Int = 0,
    elementsView: Boolean = false,
    elementBatchRows: Int = 16384,
    fillMissing: Boolean = false,
    aggregates: Array[N5Aggregate] = Array.empty,
    parallelism: Int = 1)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"N5Scan $dataset PushedFilters: ${filters.mkString("[", ", ", "]")}" +
      (if (aggregates.isEmpty) "" else s", PushedAggregates: ${aggregates.mkString("[", ", ", "]")}") +
      (if (fillMissing) ", FillMissing" else "")

  override def supportedCustomMetrics(): Array[CustomMetric] =
    N5ReadMetrics.supported ++ N5ReadMetrics.driver

  /** The plan's shape, after pruning: partitions and blocks (stored plus
    * filled). Spark asks once the partitions are planned.
    */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    N5ReadMetrics.taskMetric("scanPartitions", partitions.length),
    N5ReadMetrics.taskMetric("blocksPlanned", stored.length + absent.length))

  /** Streaming read: new block files become rows as they appear (see
    * N5MicroBatchStream for the offset design). Pushed grid filters prune
    * the streaming walk exactly like the batch scan's. The elements view
    * is batch-only — the streaming reader factory emits block rows, so
    * accepting the option here would crash on the executor at the first
    * micro-batch (and silently ignore pushed x/y/z filters); fail loudly
    * at plan time instead.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (elementsView) throw new UnsupportedOperationException(
      "n5 view=elements is batch-only; stream the block view and apply " +
        "N5.elements to the result")
    new N5MicroBatchStream(root, dataset, attrs, required, filters, targetBytes,
      maxBlocksPerBatch)
  }

  /** The voxels the element view answers: the pushed x/y/z ranges. */
  private lazy val box: N5Box = N5GridFilters.elementBox(filters, attrs.dimensions)

  /** Statistics of what the scan emits: one row per voxel of the trimmed
    * blocks (element view), one aggregate row per block and at least one
    * (pushed aggregates: a complete pushdown's single row, or partials) or
    * one row per block (block view). Lets Catalyst broadcast small (or
    * heavily pruned) block tables in joins.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val blocks = stored ++ absent
    private val voxels = blocks.map(g =>
      if (elementsView) box.rect(attrs, g).rows
      else attrs.blockShape(g).map(_.toLong).product).sum
    private val rows =
      if (aggregates.nonEmpty) math.max(1L, blocks.length.toLong)
      else if (elementsView) voxels
      else stored.length.toLong
    private val bytes =
      if (aggregates.nonEmpty) rows * 8L * aggregates.length
      else if (elementsView) voxels * (24L + attrs.dataType.bytesPerElement)
      else voxels * attrs.dataType.bytesPerElement + stored.length * 64L
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  /** Enumerate stored blocks by walking the grid directory tree level by
    * level, applying the pushed per-axis predicates DURING traversal: a
    * pruned gx subtree is never listed at all. One listStatus RPC per
    * surviving directory (vs one exists() per grid position), and sparse
    * volumes (missing blocks) are handled for free. Listed once, shared
    * with the statistics estimate. With `fillMissing`, `absent` holds the
    * box's grid positions that have no block file.
    */
  private lazy val (stored, absent): (Seq[Array[Int]], Seq[Array[Int]]) = {
    val rootPath = new HPath(root, dataset)
    val fs = HadoopFs.fs(rootPath)
    val axisOk: (Int, Int) => Boolean =
      if (elementsView) N5GridFilters.elementAxisOk(filters, box, attrs.blockSize)
      else N5GridFilters.axisOk(filters)
    val listed = N5GridWalk.listChunks(fs, rootPath, attrs, axisOk).map(_._1)
    if (!fillMissing) (listed, Nil)
    else {
      val present = listed.map(_.toSeq).toSet
      (listed, box.grids(attrs).filter(g =>
        g.indices.forall(a => axisOk(a, g(a))) && !present(g.toSeq)))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Blocks grouped by [[N5Scan.groupIntoPartitions]]: at most
    * `targetPartitionBytes` of decoded payload (default 128 MiB) and
    * `maxBlocksPerPartition` blocks each (`1` restores per-block tasks).
    * An element scan and the element-byte block view of
    * [[graft.n5.N5.readBytes]] also take at most ceil(blocks /
    * `parallelism`) blocks per partition, so a box or volume of a few
    * dozen small blocks spreads over the session's cores instead of
    * decoding on one; the public typed block view and the streaming
    * source keep the size target alone. Absent blocks are filled by
    * partitions of their own. An empty box lists no block,
    * and pushed aggregates always get a partition, so it still yields its
    * row; a box over at most one block therefore plans exactly one
    * partition, which a complete aggregate pushdown relies on.
    */
  private lazy val partitions: Array[InputPartition] = {
    val spread = math.max(1L, (stored.length + absent.length + parallelism - 1L) / parallelism)
    def group(grids: Seq[Array[Int]]) = N5Scan.groupIntoPartitions(root, dataset,
      grids, attrs, targetBytes, math.min(maxBlocksPerPartition, spread))
    val parts = group(stored) ++
      group(absent).map(p => p.asInstanceOf[N5BlocksPartition].copy(fill = true))
    if (parts.isEmpty && aggregates.nonEmpty)
      Array(N5BlocksPartition(root, dataset, Array.empty))
    else parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (elementsView)
      new N5ElementsReaderFactory(attrs, required, elementBatchRows, box, aggregates)
    else new N5ReaderFactory(attrs, required)

  /** Whether the scan's one row is its aggregation's final row: the test
    * of [[N5ScanBuilder.supportCompletePushDown]], pushed aggregates over a
    * box that meets at most one grid position.
    */
  def completeAggregate: Boolean = aggregates.nonEmpty && box.meetsOneBlock(attrs)

  /** The one row of a [[completeAggregate]] scan, read in the calling
    * thread by the task's reader over the scan's single partition (stored,
    * fill or empty-box), with the metrics a task and the driver would
    * report for it.
    */
  def aggregateRow(): (InternalRow, Array[CustomTaskMetric]) = {
    require(completeAggregate, s"not a one-block aggregate scan: ${description()}")
    val Array(part: N5BlocksPartition) = partitions
    val reader = new N5AggregateReader(part, attrs, box, aggregates)
    try {
      reader.next()
      (reader.get().getRow(0).copy(), reader.currentMetricsValues() ++ reportDriverMetrics())
    } finally reader.close()
  }
}

/** Blocks a task reads; a `fill` partition's blocks are absent and read as
  * zeros.
  */
final case class N5BlocksPartition(
    root: String, dataset: String, grids: Array[Array[Int]],
    fill: Boolean = false) extends InputPartition

class N5ReaderFactory(attrs: DatasetAttributes, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new N5BlockReader(p.asInstanceOf[N5BlocksPartition], attrs, required)
}

/** Task-side counts behind [[N5ReadMetrics.supported]]. */
final class N5ReadMetrics {
  var blocksRead = 0L
  var blocksFilled = 0L
  var rowsEmitted = 0L

  def values(bytesRead: Long): Array[CustomTaskMetric] =
    Array("blocksRead" -> blocksRead, "blocksFilled" -> blocksFilled,
      "rowsEmitted" -> rowsEmitted, "bytesRead" -> bytesRead).map {
      case (n, v) => N5ReadMetrics.taskMetric(n, v)
    }
}

object N5ReadMetrics {
  /** The task-side scan metrics Spark shows in the SQL UI and status store. */
  val supported: Array[CustomMetric] = Array(
    new N5BlocksReadMetric, new N5BlocksFilledMetric,
    new N5RowsEmittedMetric, new N5BytesReadMetric)

  /** The driver-side ones: what the scan planned (see `reportDriverMetrics`). */
  val driver: Array[CustomMetric] = Array(
    new N5ScanPartitionsMetric, new N5BlocksPlannedMetric)

  def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// Spark re-creates a metric from its class name, so each is a top-level class
class N5BlocksReadMetric extends CustomSumMetric {
  override def name(): String = "blocksRead"
  override def description(): String = "n5 blocks read"
}
class N5BlocksFilledMetric extends CustomSumMetric {
  override def name(): String = "blocksFilled"
  override def description(): String = "n5 absent blocks filled"
}
class N5RowsEmittedMetric extends CustomSumMetric {
  override def name(): String = "rowsEmitted"
  override def description(): String = "n5 rows emitted"
}
class N5BytesReadMetric extends CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "n5 compressed bytes read"
}
class N5ScanPartitionsMetric extends CustomSumMetric {
  override def name(): String = "scanPartitions"
  override def description(): String = "n5 scan partitions"
}
class N5BlocksPlannedMetric extends CustomSumMetric {
  override def name(): String = "blocksPlanned"
  override def description(): String = "n5 blocks planned"
}

/** Emits one row per block of its partition; payload decode is skipped
  * entirely when the `data` column was pruned away. A `binary` `data`
  * column (declared by the reader's schema) carries the decoded element
  * bytes uncopied; an array column carries [[N5Schema.sparkValues]].
  */
class N5BlockReader(
    part: N5BlocksPartition, attrs: DatasetAttributes, required: StructType)
    extends PartitionReader[InternalRow] {

  private var i = -1
  private var row: InternalRow = _
  private val fs: FileSystem =
    HadoopFs.fs(new HPath(part.root))
  private val shardState = new N5BlockIO.ShardReadState
  private val metrics = new N5ReadMetrics

  private def needsData = required.fieldNames.contains("data")
  private def asBytes = needsData && required("data").dataType == BinaryType

  override def next(): Boolean = {
    i += 1
    if (i >= part.grids.length) return false
    val g = part.grids(i)
    val shape: Array[Int] = attrs.blockShape(g)
    val data: AnyRef =
      if (needsData) {
        metrics.blocksRead += 1
        val dec = N5BlockIO.readDecode(fs, part.root, part.dataset, g, attrs, shardState)
        // every block consumer assumes data covers shape.product elements,
        // so a short varlength (mode-1) block must fail here with a
        // diagnostic, not as an index error mid-copy
        require(dec.elementCount >= dec.numElements,
          s"block decodes ${dec.elementCount} elements, expected " +
            s"${dec.numElements} — truncated or varlength-short block")
        if (asBytes) dec.bytes else toSparkArray(dec)
      } else null
    val values = required.fieldNames.map {
      case "gx" => g(0)
      case "gy" => if (g.length > 1) g(1) else 0
      case "gz" => if (g.length > 2) g(2) else 0
      case "x0" => g(0).toLong * attrs.blockSize(0)
      case "y0" => if (g.length > 1) g(1).toLong * attrs.blockSize(1) else 0L
      case "z0" => if (g.length > 2) g(2).toLong * attrs.blockSize(2) else 0L
      case "shape" => new GenericArrayData(shape.map(i => i: Any))
      case "data" => data
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    row = InternalRow.fromSeq(values.toSeq)
    metrics.rowsEmitted += 1
    true
  }

  /** Payload → Spark array without per-element boxing:
    * UnsafeArrayData.fromPrimitiveArray stores the elements contiguously,
    * so a 16M-voxel block costs one primitive-array copy instead of 16M
    * boxed objects (this path dominates every element-view read).
    */
  private def toSparkArray(dec: DecodedBlock): org.apache.spark.sql.catalyst.expressions.UnsafeArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    N5Schema.sparkValues(dec, attrs.dataType) match {
      case a: Array[Short] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Byte] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Int] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Long] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Float] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    }
  }

  override def get(): InternalRow = row
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    metrics.values(shardState.bytesRead)
  override def close(): Unit = shardState.close()
}

/** Columnar reader factory for the per-element view (r6 VERDICT #3): the
  * batch scan hands whole-stage codegen primitive column vectors filled
  * straight from the decoded block payload, replacing the block-row →
  * posexplode → per-row unravel pipeline for element consumers. With
  * pushed aggregates the [[N5AggregateReader]] emits aggregate rows instead.
  */
class N5ElementsReaderFactory(
    attrs: DatasetAttributes, required: StructType, batchRows: Int,
    box: N5Box, aggregates: Array[N5Aggregate])
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[N5BlocksPartition]
    if (aggregates.nonEmpty) new N5AggregateReader(part, attrs, box, aggregates)
    else new N5ElementsReader(part, attrs, required, batchRows, box)
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "n5 elements view is columnar-only (supportColumnarReads is true)")
}

/** Emits ColumnarBatches of (x,y,z,v) voxel rows: exactly the voxels of
  * each block inside `box`, x-fastest (for whole blocks the same order as
  * N5.elements). Coordinates are integer unravel of the row index within
  * the block's trimmed rectangle; the value vector is copied from the
  * decoded payload one x-run at a time with primitive puts — no boxing
  * anywhere. A fill partition's blocks are absent and read as zeros. A
  * block larger than `batchRows` spans several batches (vectors are
  * reused across batches); payload decode is skipped entirely when `v`
  * was pruned away (metadata and count-only queries read no bytes).
  */
class N5ElementsReader(
    part: N5BlocksPartition, attrs: DatasetAttributes, required: StructType,
    batchRows: Int, box: N5Box)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val fs: FileSystem =
    HadoopFs.fs(new HPath(part.root))
  private val shardState = new N5BlockIO.ShardReadState
  private val metrics = new N5ReadMetrics
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchRows, required)
  private val batch =
    new ColumnarBatch(vectors.map(v => v: ColumnVector).toArray)
  private val needV = required.fieldNames.contains("v")

  // current-block state: its trimmed rectangle, the global coordinates of
  // the rectangle's first voxel, the payload (null: all zeros) and the
  // next row to emit
  private var bi = -1
  private var rect: BlockRect = null
  private var values: AnyRef = null // N5Schema.sparkValues of the block
  private var n = 0
  private var off = 0
  private var x0 = 0L; private var y0 = 0L; private var z0 = 0L

  private def openNextBlock(): Boolean = {
    bi += 1
    if (bi >= part.grids.length) return false
    val g = part.grids(bi)
    rect = box.rect(attrs, g)
    n = rect.rows.toInt
    x0 = g(0).toLong * attrs.blockSize(0) + rect.lo(0)
    y0 = g(1).toLong * attrs.blockSize(1) + rect.lo(1)
    z0 = g(2).toLong * attrs.blockSize(2) + rect.lo(2)
    values = null
    if (part.fill) metrics.blocksFilled += 1
    else if (needV) {
      metrics.blocksRead += 1
      values = N5Schema.sparkValues(N5BlockIO.readChecked(fs, part.root,
        part.dataset, g, attrs, shardState), attrs.dataType)
    }
    off = 0
    true
  }

  override def next(): Boolean = {
    while (off >= n) if (!openNextBlock()) return false
    val m = math.min(batchRows, n - off)
    val ex = rect.ex
    val exy = ex * rect.ey
    var c = 0
    while (c < vectors.length) {
      val v = vectors(c)
      v.reset()
      required.fields(c).name match {
        case "x" =>
          var i = 0
          while (i < m) { v.putLong(i, x0 + (off + i) % ex); i += 1 }
        case "y" =>
          var i = 0
          while (i < m) { v.putLong(i, y0 + ((off + i) / ex) % rect.ey); i += 1 }
        case "z" =>
          var i = 0
          while (i < m) { v.putLong(i, z0 + (off + i) / exy); i += 1 }
        case "v" => if (values == null) putZeros(v, m) else putValues(v, m)
        case other =>
          throw new IllegalArgumentException(s"unknown element column $other")
      }
      c += 1
    }
    off += m
    metrics.rowsEmitted += m
    batch.setNumRows(m)
    true
  }

  /** Rows [off, off + m) of the rectangle into `v`: one put per x-run, or
    * one for the whole batch when the rectangle spans full x-y planes.
    */
  private def putValues(v: OnHeapColumnVector, m: Int): Unit = {
    val whole = rect.ex == rect.shape(0) && rect.ey == rect.shape(1)
    var r = 0
    while (r < m) {
      val t = off + r
      val i = t % rect.ex
      val len = if (whole) m - r else math.min(rect.ex - i, m - r)
      val src = rect.rowStart((t / rect.ex) % rect.ey, t / rect.ex / rect.ey) + i
      values match {
        case a: Array[Short] => v.putShorts(r, len, a, src)
        case a: Array[Byte] => v.putBytes(r, len, a, src)
        case a: Array[Int] => v.putInts(r, len, a, src)
        case a: Array[Long] => v.putLongs(r, len, a, src)
        case a: Array[Float] => v.putFloats(r, len, a, src)
        case a: Array[Double] => v.putDoubles(r, len, a, src)
      }
      r += len
    }
  }

  private def putZeros(v: OnHeapColumnVector, m: Int): Unit = v.dataType match {
    case ShortType => v.putShorts(0, m, 0.toShort)
    case ByteType => v.putBytes(0, m, 0.toByte)
    case IntegerType => v.putInts(0, m, 0)
    case LongType => v.putLongs(0, m, 0L)
    case FloatType => v.putFloats(0, m, 0.0f)
    case DoubleType => v.putDoubles(0, m, 0.0)
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    metrics.values(shardState.bytesRead)
  override def close(): Unit = { batch.close(); shardState.close() }
}

// --------------------------------------------------------------- write path

class N5WriteBuilder(
    root: String, dataset: String,
    options: CaseInsensitiveStringMap, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** `blockMode` option: `default` (mode-0, dense) or `varlength`
    * (mode-1 header carrying its element count — full-count, so the
    * volume stays dense-complete; the VALUE of mode-1 here is byte-
    * compatible round-trips of label volumes that arrived mode-1).
    */
  private def varlengthMode(): Boolean =
    options.getOrDefault("blockMode", "default") match {
      case "default" => false
      case "varlength" => true
      case other => throw new IllegalArgumentException(
        s"unknown blockMode '$other' (default | varlength)")
    }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val attrs = writeAttrs()
      new N5BatchWrite(root, dataset, attrs, info.schema(), doTruncate,
        varlengthMode())
    }
    /** Streaming sink: each micro-batch writes its block rows with the
      * same idempotent blind-overwrite writers; replayed epochs rewrite
      * identical bytes (at-least-once + idempotent = the declared
      * semantics, SURVEY §2.3 non-goals). Attrs are (re)committed after
      * every epoch so the dataset is readable between batches.
      */
    override def toStreaming: swrite.StreamingWrite = {
      val attrs = writeAttrs()
      // truncate-per-epoch (Complete mode) would have to wipe earlier
      // epochs' blocks; silently ignoring it would leave stale blocks on
      // disk, so reject it up front — the sink is append-only
      if (doTruncate) throw new UnsupportedOperationException(
        "n5 streaming sink supports Append output mode only")
      new swrite.StreamingWrite {
        private val batch =
          new N5BatchWrite(root, dataset, attrs, info.schema(), false,
            varlengthMode())
        override def createStreamingWriterFactory(
            pinfo: PhysicalWriteInfo): swrite.StreamingDataWriterFactory = {
          val f = batch.createBatchWriterFactory(pinfo)
            .asInstanceOf[N5WriterFactory]
          (partitionId: Int, taskId: Long, _: Long) =>
            f.createWriter(partitionId, taskId)
        }
        override def commit(
            epochId: Long, messages: Array[WriterCommitMessage]): Unit =
          batch.commit(messages)
        override def abort(
            epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }

  /** Attributes from writer options, falling back to an existing
    * attributes.json (append to an existing dataset). Option
    * `format=zarr` (r14) writes the dataset as a zarr v2 container —
    * C-order fill-padded chunks + `.zarray` metadata — with
    * `zarrSeparator` ("." default | "/") picking the chunk-key layout;
    * the compressor profile is raw/zlib/gzip/blosc, rejected loudly
    * otherwise (the narrow set every zarr v2 reader ships).
    */
  private def writeAttrs(): DatasetAttributes = {
    val fmt = options.getOrDefault("format", "n5") match {
      case f @ ("n5" | "zarr" | "zarr3") => f
      case other => throw new IllegalArgumentException(
        s"unknown container format '$other' (n5 | zarr | zarr3)")
    }
    if (options.containsKey("dimensions")) {
      val blockSize = options.getOrDefault("blockSize",
        options.get("dimensions")).split(",").map(_.trim.toInt)
      val compression = Compression(options.getOrDefault("compression", "gzip"),
        options.getOrDefault("compressionLevel", "-1").toInt)
      val little = options.getOrDefault("zarrLittleEndian", "true").toBoolean
      // v3 chunks stamp a trailing crc32c unless told otherwise
      val crc = fmt == "zarr3" &&
        options.getOrDefault("zarr3Crc", "true").toBoolean
      // sharded v3 write (r19): `shardChunks` = chunks per shard per
      // axis (engine order); blockSize is the INNER chunk shape and
      // chunk FILES are shards of blockSize·shardChunks voxels
      val shard = Option(options.get("shardChunks")).map { s =>
        require(fmt == "zarr3",
          "shardChunks: sharding_indexed is a zarr v3 codec " +
            s"(container format is '$fmt')")
        val cps = s.split(",").map(_.trim.toInt)
        require(cps.length == blockSize.length && cps.forall(_ > 0),
          s"shardChunks '${s}' must give a positive count per axis")
        ShardSpec(cps, compression, little,
          indexAtEnd = true,
          indexCrc = options.getOrDefault("shardIndexCrc", "true").toBoolean,
          chunkCrc = crc)
      }
      DatasetAttributes(
        options.get("dimensions").split(",").map(_.trim.toLong),
        blockSize,
        Dtype.fromName(options.getOrDefault("dataType", "uint8")),
        compression,
        Option(options.get("extraAttrs"))
          .map(parseExtra).getOrElse(Map.empty),
        format = fmt,
        // v3 writes use the spec-default "/"-separated "c/" key
        // encoding unless told otherwise
        zarrSeparator = options.getOrDefault("zarrSeparator",
          if (fmt == "zarr3") "/" else "."),
        zarrLittleEndian = little,
        zarr3ChunkPrefix =
          options.getOrDefault("zarr3ChunkPrefix", "true").toBoolean,
        zarr3Crc = crc,
        shard = shard)
    } else N5Meta.datasetAttributes(root, dataset)
  }

  /** extraAttrs option: `key1=json1;;key2=json2`. */
  private def parseExtra(s: String): Map[String, String] =
    s.split(";;").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
}

class N5BatchWrite(
    root: String, dataset: String, attrs: DatasetAttributes,
    inputSchema: StructType, truncate: Boolean,
    varlength: Boolean = false) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side prep: optional truncate, container root marker
    if (truncate) {
      val p = new HPath(root, dataset)
      val fs = HadoopFs.fs(p)
      if (fs.exists(p)) fs.delete(p, true)
    }
    // a zarr store has no N5 root marker; injecting attributes.json into
    // a foreign container would corrupt it for strict zarr readers
    if (!attrs.isZarrFamily) N5Meta.ensureRoot(root)
    new N5WriterFactory(root, dataset, attrs, inputSchema, varlength)
  }

  /** Metadata commit AFTER data: the dataset only becomes readable once
    * every task has written its blocks. For sharded v3 each task reports
    * the shard FILES it published; a shard spanning two tasks means two
    * partial files raced the same rename — detect it here and fail
    * BEFORE the metadata commit (the store stays unreadable rather than
    * silently half-written). `N5.writeZarr3` prevents it by clustering
    * on the shard key; this guards direct DSv2 writes.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (attrs.shard.isDefined) {
      val all = messages.collect { case ShardCommitMessage(keys) => keys }.flatten
      val dups = all.groupBy(identity).filter(_._2.length > 1).keys
      if (dups.nonEmpty) throw new IllegalStateException(
        s"sharded zarr v3 write: shard(s) ${dups.mkString(", ")} received " +
          "inner chunks from MORE than one task — the published files are " +
          "partial. Cluster the input by shard (repartition on the shard " +
          "grid, as N5.writeZarr3 does) and rewrite.")
    }
    if (attrs.isZarr3) N5Meta.writeZarr3Attributes(root, dataset, attrs)
    else if (attrs.isZarr) N5Meta.writeZarrAttributes(root, dataset, attrs)
    else N5Meta.writeDatasetAttributes(root, dataset, attrs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class N5WriterFactory(
    root: String, dataset: String, attrs: DatasetAttributes,
    inputSchema: StructType, varlength: Boolean = false) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new N5BlockWriter(root, dataset, attrs, inputSchema, varlength)
}

/** Writes each incoming (gx,gy,gz,shape,data) row as one block file. A
  * BINARY `data` is the block's big-endian element bytes and is encoded
  * as it is; a typed array goes through the codec's range-checked
  * [[BlockCodec.narrow]]. The input schema picks the branch.
  * Each block is written to a hidden temp file and atomically renamed
  * into place (FileContext rename with OVERWRITE — atomic on POSIX and
  * HDFS), so a crashed or speculative task can never leave a torn block
  * behind: readers (including writeBox's read-modify-write) always see
  * either the old complete bytes or the new complete bytes. Blocks are
  * write-disjoint across tasks, so retries are idempotent. Temps are
  * UUID-unique per attempt; an aborted attempt deletes its in-flight temp
  * in abort(), and temps orphaned by a hard crash (no abort callback) are
  * invisible to scans (non-digit names).
  */
class N5BlockWriter(
    root: String, dataset: String, attrs: DatasetAttributes,
    inputSchema: StructType, varlength: Boolean = false)
    extends DataWriter[InternalRow] {

  private val fs: FileSystem = HadoopFs.fs(new HPath(root))
  private val fc = org.apache.hadoop.fs.FileContext.getFileContext(
    fs.getUri, HadoopFs.conf)
  private val idx: Map[String, Int] =
    inputSchema.fieldNames.zipWithIndex.toMap
  private val elemType = N5Schema.elementType(attrs.dataType)
  private val es = attrs.dataType.bytesPerElement
  private val bytesIn = inputSchema("data").dataType == BinaryType

  override def write(r: InternalRow): Unit = {
    val gx = r.getInt(idx("gx"))
    val gy = if (idx.contains("gy")) r.getInt(idx("gy")) else 0
    val gz = if (idx.contains("gz")) r.getInt(idx("gz")) else 0
    val shape = r.getArray(idx("shape")).toIntArray()
    val n = shape.product
    // element bytes are written as they are; a typed array is narrowed
    // (range-checked) by the one dtype codec
    val elems =
      if (bytesIn) {
        val b = r.getBinary(idx("data"))
        require(b.length == n * es,
          s"block ($gx,$gy,$gz): data has ${b.length} bytes, shape needs ${n * es}")
        b
      } else {
        val data = r.getArray(idx("data"))
        require(data.numElements() == n,
          s"block ($gx,$gy,$gz): data has ${data.numElements()} elements, shape needs $n")
        val (longs, doubles) = elemType match {
          case ShortType => (data.toShortArray().map(_.toLong), null)
          case ByteType => (data.toByteArray().map(_.toLong), null)
          case IntegerType => (data.toIntArray().map(_.toLong), null)
          case LongType => (data.toLongArray(), null)
          case FloatType => (null, data.toFloatArray().map(_.toDouble))
          case DoubleType => (null, data.toDoubleArray())
          case other => throw new IllegalArgumentException(s"bad element type $other")
        }
        BlockCodec.narrow(longs, doubles, n, attrs.dataType)
      }
    val bytes =
      if (attrs.isZarrFamily) {
        require(!varlength,
          "zarr chunks have no header; blockMode=varlength is N5-only")
        // sharded inner chunks encode through the SHARD's inner chain
        // (which can differ from the attrs-level mirror on appends)
        val (comp, little, crc) = attrs.shard match {
          case Some(sp) => (sp.innerCompression, sp.innerLittleEndian, sp.chunkCrc)
          case None => (attrs.compression, attrs.zarrLittleEndian,
            attrs.isZarr3 && attrs.zarr3Crc)
        }
        val chunk = BlockCodec.encodeZarr(shape, attrs.blockSize, elems,
          attrs.dataType, comp, little)
        // v3 chains end with crc32c: checksum of the compressed chunk,
        // 4 bytes little-endian (verified+stripped on read)
        if (crc) withCrc32c(chunk) else chunk
      } else BlockCodec.encode(shape, elems, attrs.dataType,
        attrs.compression, varlength)
    attrs.shard match {
      case Some(sp) =>
        writeSharded(Array(gx, gy, gz), sp, bytes)
        return
      case None => ()
    }
    val path =
      if (attrs.isZarrFamily)
        new HPath(root, s"$dataset/${attrs.chunkKey(Array(gx, gy, gz))}")
      else new HPath(root, s"$dataset/$gx/$gy/$gz")
    val lp = HadoopFs.localPath(fs, path)
    if (lp != null) {
      // file:// fast path (see HadoopFs.localPath): same temp-write →
      // publish-mtime → atomic-rename sequence through java.nio
      HadoopFs.writeLocal(lp, bytes)
      return
    }
    // unique temp per attempt: concurrent speculative attempts must not
    // share a temp file (a truncate under a live fd would corrupt the
    // published inode on POSIX)
    val tmp = new HPath(path.getParent,
      s".${path.getName}.tmp-${java.util.UUID.randomUUID()}")
    fs.mkdirs(path.getParent)
    pending = tmp
    val out = fs.create(tmp, true)
    try { out.write(bytes); out.close() }
    catch { case e: Throwable => out.close(); fs.delete(tmp, false); throw e }
    // stamp the mtime at PUBLISH time (not temp-close time) so the
    // streaming source's watermark can never advance past a block that
    // is not yet visible — the stamp→rename gap is microseconds, well
    // inside the source's grace window
    fs.setTimes(tmp, System.currentTimeMillis(), -1)
    fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    pending = null
  }

  // the one temp that can exist between create and publish-rename; with
  // UUID-unique names a retry never reclaims it by name, so the aborted
  // attempt must clean up after itself
  private var pending: HPath = null

  // ---- sharded v3 write (r19): STREAM the open shard ----------------
  // Inner chunks append to the shard temp file as rows arrive and the
  // u64-pair index goes at the END (the write profile), so memory is
  // O(one encoded chunk + 16·nInner index) however large the shard —
  // GB-scale shards never materialize in the JVM. Requires same-shard
  // rows to arrive consecutively within the task (N5.writeZarr3
  // clusters + sorts to guarantee it; a shard key that REAPPEARS after
  // its flush is a loud reject, and cross-task splits are caught at
  // commit by the shard-key manifest).
  private var shardKey: String = null
  private var shardTmp: HPath = null
  private var shardOut: java.io.OutputStream = null
  private var shardIndex: Array[Long] = null
  private var shardPos: Long = 0L
  private val publishedShards = scala.collection.mutable.ArrayBuffer.empty[String]
  private val publishedSet = scala.collection.mutable.HashSet.empty[String]

  private def withCrc32c(b: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32C()
    crc.update(b, 0, b.length)
    val v = crc.getValue
    b ++ Array[Byte](v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
  }

  private def writeSharded(g: Array[Int], sp: ShardSpec, bytes: Array[Byte]): Unit = {
    val key = attrs.chunkKey(g) // sharded stores key the SHARD file
    if (key != shardKey) {
      flushShard(sp)
      require(sp.indexAtEnd,
        "sharded zarr v3 write streams chunks then the index — an " +
          "index_location=start store cannot be appended to")
      if (publishedSet.contains(key)) throw new IllegalArgumentException(
        s"sharded zarr v3 write: inner chunks for shard $key arrived " +
          "NON-consecutively — the shard was already published by this " +
          "task. Cluster the input by shard (repartition on the shard " +
          "grid + sortWithinPartitions, as N5.writeZarr3 does).")
      val nInner = sp.chunksPerShard.map(_.toLong).product
      require(nInner <= (Int.MaxValue - 8L) / 16L,
        s"shard of $nInner inner chunks: index exceeds the JVM array limit")
      val path = new HPath(root, s"$dataset/$key")
      shardTmp = new HPath(path.getParent,
        s".${path.getName}.tmp-${java.util.UUID.randomUUID()}")
      val lp = HadoopFs.localPath(fs, path)
      pending = shardTmp
      shardOut =
        if (lp != null) {
          // file:// fast path: stream the shard through java.nio (the
          // Hadoop checksummed create costs ~8 ms per file; the shard
          // keeps streaming semantics — O(chunk) memory — either way)
          java.nio.file.Files.createDirectories(lp.getParent)
          java.nio.file.Files.newOutputStream(
            lp.getParent.resolve(shardTmp.getName))
        } else {
          fs.mkdirs(path.getParent)
          fs.create(shardTmp, true)
        }
      shardIndex = Array.fill(2 * nInner.toInt)(-1L) // all-ones = fill
      shardPos = 0L
      shardKey = key
    }
    val flat = sp.flatIndex(g)
    require(shardIndex(2 * flat) == -1L,
      s"duplicate inner chunk (${g.mkString(",")}) in shard $key")
    shardIndex(2 * flat) = shardPos
    shardIndex(2 * flat + 1) = bytes.length.toLong
    shardOut.write(bytes)
    shardPos += bytes.length
  }

  /** Append the index (+ its crc32c), close, and atomically publish the
    * open shard, if any.
    */
  private def flushShard(sp: ShardSpec): Unit = if (shardOut != null) {
    val bb = java.nio.ByteBuffer.allocate(shardIndex.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    shardIndex.foreach(bb.putLong)
    val idx = bb.array()
    shardOut.write(if (sp.indexCrc) withCrc32c(idx) else idx)
    shardOut.close()
    shardOut = null
    val dest = new HPath(root, s"$dataset/$shardKey")
    val lp = HadoopFs.localPath(fs, dest)
    if (lp != null)
      HadoopFs.publishLocal(lp.getParent.resolve(shardTmp.getName), lp)
    else {
      fs.setTimes(shardTmp, System.currentTimeMillis(), -1)
      fc.rename(shardTmp, dest,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    publishedShards += shardKey
    publishedSet += shardKey
    pending = null; shardTmp = null; shardKey = null
    shardIndex = null; shardPos = 0L
  }

  override def commit(): WriterCommitMessage = attrs.shard match {
    case Some(sp) =>
      flushShard(sp)
      ShardCommitMessage(publishedShards.toArray)
    case None => N5CommitMessage
  }
  override def abort(): Unit = {
    if (shardOut != null) { shardOut.close(); shardOut = null }
    if (pending != null) {
      val lp = HadoopFs.localPath(fs, pending)
      if (lp != null) java.nio.file.Files.deleteIfExists(lp)
      else fs.delete(pending, false)
      pending = null
    }
  }
  override def close(): Unit =
    if (shardOut != null) { shardOut.close(); shardOut = null }
}

case object N5CommitMessage extends WriterCommitMessage

/** Shard files this task published (sharded v3): the driver-side commit
  * cross-checks global uniqueness before metadata commit.
  */
final case class ShardCommitMessage(shardKeys: Array[String])
    extends WriterCommitMessage
