package graft.n5

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.sources.HadoopFs.fs
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** N5 element dtype with its JVM widening (JVM has no unsigned types, so
  * uint8→Short, uint16→Int, uint32→Long; SURVEY §7 "hard parts"). One codec
  * object per dtype keeps sign handling in a single place.
  *
  * Reference semantics: dataset attributes carry `dataType` strings like
  * "uint8" (`/root/reference/data/test.n5/mri/c0/s0/attributes.json`).
  */
sealed abstract class Dtype(
    val name: String, val bytesPerElement: Int) extends Serializable {
  /** Inclusive value bounds for bounded integer dtypes (None for the
    * 64-bit and float dtypes) — the single source for safe-cast range
    * checks across ingest and writeBox.
    */
  def integerRange: Option[(Long, Long)] = this match {
    case Dtype.UInt8 => Some((0L, 255L))
    case Dtype.Int8 => Some((-128L, 127L))
    case Dtype.UInt16 => Some((0L, 65535L))
    case Dtype.Int16 => Some((-32768L, 32767L))
    case Dtype.UInt32 => Some((0L, 4294967295L))
    case Dtype.Int32 => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
    case _ => None
  }
  def isFloat: Boolean = this == Dtype.Float32 || this == Dtype.Float64
}
object Dtype {
  case object UInt8 extends Dtype("uint8", 1)
  case object Int8 extends Dtype("int8", 1)
  case object UInt16 extends Dtype("uint16", 2)
  case object Int16 extends Dtype("int16", 2)
  case object UInt32 extends Dtype("uint32", 4)
  case object Int32 extends Dtype("int32", 4)
  case object UInt64 extends Dtype("uint64", 8)
  case object Int64 extends Dtype("int64", 8)
  case object Float32 extends Dtype("float32", 4)
  case object Float64 extends Dtype("float64", 8)

  val all: Seq[Dtype] = Seq(UInt8, Int8, UInt16, Int16, UInt32, Int32,
    UInt64, Int64, Float32, Float64)

  def fromName(n: String): Dtype =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unsupported N5 dataType: $n"))
}

/** Compression codec id + codec-specific parameter (`level`):
  * gzip → deflate level (-1 = default), bzip2 → block size 1-9,
  * lz4 → block size in bytes, zstd → level, xz → LZMA2 preset 0-9,
  * blosc → LZ4-HC level (>0) or fast LZ4 (-1). blosc READ accepts every
  * blosc1 inner codec — blosclz/lz4/snappy/zlib/zstd, byte- or
  * bit-shuffled ([[BloscCodec.decode]], r13); blosc WRITE always emits
  * the heuristic-free typesize-1/no-shuffle/lz4 profile
  * ([[BloscCodec.encode]], r12).
  */
final case class Compression(codec: String, level: Int = -1)
    extends Serializable {
  require(Compression.supported(codec),
    s"unsupported N5 compression: $codec " +
      s"(supported: ${Compression.supported.mkString(", ")})")
}
object Compression {
  /** "zlib" is n5-java's gzip-with-useZlib=true wire format (raw deflate,
    * no gzip wrapper); it round-trips through attributes.json as
    * `{"type":"gzip","useZlib":true}`. "blosc" (zarr's default
    * compressor family) reads any lz4/zlib/zstd-backed chunk and writes
    * the fixed interop profile of [[BloscCodec.encode]].
    */
  val supported: Set[String] =
    Set("raw", "gzip", "zlib", "bzip2", "lz4", "zstd", "xz", "blosc")
  def defaultParam(codec: String): Int = codec match {
    case "bzip2" => 9
    case "lz4" => 65536
    case "zstd" => 3
    case "xz" => 6 // n5-java XzCompression default preset
    case _ => -1
  }
}

/** zarr v3 sharding_indexed layout (r18, read-only): a chunk FILE is a
  * shard of inner chunks. `chunksPerShard` is outer/inner per axis in
  * the ENGINE's x-fastest order; inner chunks decode through
  * `innerCompression` at `innerLittleEndian`; the shard index (u64 LE
  * offset/nbytes pairs, C-order over the shard's inner grid) sits at
  * the start or end per `indexAtEnd`, with a trailing CRC32C when
  * `indexCrc`. A chunk-level trailing CRC32C (`chunkCrc`) is verified
  * and stripped before decompression.
  */
final case class ShardSpec(
    chunksPerShard: Array[Int],
    innerCompression: Compression,
    innerLittleEndian: Boolean,
    indexAtEnd: Boolean,
    indexCrc: Boolean,
    chunkCrc: Boolean) extends Serializable {

  /** Flat C-order slot of inner-chunk grid `g` (engine x,y,z order)
    * within its shard — engine axes iterate in REVERSE (zarr's axis
    * order, x fastest). Shared by the sharded read and write paths so
    * the index layout can never drift between them.
    */
  def flatIndex(g: Array[Int]): Int = {
    var flat = 0
    var d = g.length - 1
    while (d >= 0) {
      flat = flat * chunksPerShard(d) + (g(d) % chunksPerShard(d))
      d -= 1
    }
    flat
  }
}

/** Dataset attributes (attributes.json of a dataset directory).
  * dimensions/blockSize are in N5's x,y,z order (x fastest-varying in the
  * block payload). `extra` carries domain metadata (pixelResolution,
  * downsamplingFactors, ...) verbatim as JSON strings.
  */
final case class DatasetAttributes(
    dimensions: Array[Long],
    blockSize: Array[Int],
    dataType: Dtype,
    compression: Compression,
    extra: Map[String, String] = Map.empty,
    // zarr v2 container support (r14, read-only): format "n5" | "zarr".
    // dimensions/blockSize are ALWAYS held in the engine's x-fastest
    // order — zarr's C-order shape/chunks are reversed on parse, which
    // also makes the chunk payload's element order identical to N5's
    // (zarr's last axis varies fastest = the engine's x).
    format: String = "n5",
    zarrSeparator: String = ".",
    zarrLittleEndian: Boolean = true,
    // zarr v3 container support (r18, read-only): format "zarr3".
    // zarr3ChunkPrefix marks the v3 "default" chunk-key encoding
    // (keys are "c" + sep + C-order indices; the "v2" encoding keeps
    // bare v2-style keys). When `shard` is set the store uses the
    // sharding_indexed codec: blockSize is the INNER chunk shape (the
    // engine grid is the inner grid) and chunk FILES are shards.
    zarr3ChunkPrefix: Boolean = true,
    // non-sharded v3 chunks with a trailing crc32c codec (verified and
    // stripped before decompression)
    zarr3Crc: Boolean = false,
    shard: Option[ShardSpec] = None) extends Serializable {

  def isZarr: Boolean = format == "zarr"
  def isZarr3: Boolean = format == "zarr3"
  /** Any zarr container (v2 or v3): headerless fill-padded C-order
    * chunks, reversed-axis metadata. */
  def isZarrFamily: Boolean = isZarr || isZarr3

  /** Shard grid position holding inner-chunk grid `g` (v3 sharded). */
  def shardGrid(g: Array[Int]): Array[Int] = shard match {
    case Some(sp) => g.indices.map(i => g(i) / sp.chunksPerShard(i)).toArray
    case None => g
  }

  /** Relative chunk/block file key under the dataset dir for grid `g`
    * (engine x,y,z order): N5 nests directories x/y/z; zarr keys are the
    * C-order (reversed) indices joined by the declared separator; zarr
    * v3's default encoding prefixes "c"; sharded stores key the SHARD.
    */
  def chunkKey(g: Array[Int]): String =
    if (isZarr3) {
      val fileGrid = shardGrid(g)
      val base = fileGrid.reverse.mkString(zarrSeparator)
      if (zarr3ChunkPrefix) s"c$zarrSeparator$base" else base
    }
    else if (isZarr) g.reverse.mkString(zarrSeparator)
    else g.mkString("/")

  def ndim: Int = dimensions.length

  /** Grid size per axis: ceil(dim / blockSize). */
  def gridDims: Array[Int] =
    dimensions.zip(blockSize).map { case (d, b) => ((d + b - 1) / b).toInt }

  /** Actual (edge-trimmed) block shape at a grid position. */
  def blockShape(grid: Array[Int]): Array[Int] =
    grid.indices.map { i =>
      val start = grid(i).toLong * blockSize(i)
      math.min(blockSize(i).toLong, dimensions(i) - start).toInt
    }.toArray

  /** All grid positions (cartesian product over axes). */
  def gridPositions: Seq[Array[Int]] = {
    val ranges = gridDims.map(n => 0 until n)
    ranges.foldRight(Seq(List.empty[Int])) { (r, acc) =>
      for (i <- r; rest <- acc) yield i :: rest
    }.map(_.toArray)
  }
}

/** attributes.json reader/writer over the Hadoop FileSystem API, so the
  * same code path serves local disk in tests and HDFS/S3-compatible stores
  * on a real cluster. (Jackson ships with Spark; no extra deps.)
  *
  * Mirrors the reference's metadata handling (`create_n5.py:20-37`,
  * `n5_multiscale.py:82`) without copying any code: read the JSON dict,
  * expose the four structural keys, round-trip everything else.
  */
object N5Meta {
  // ObjectMapper is thread-safe once configured; share a single instance
  private val mapper = new ObjectMapper()

  def readJson(p: Path): JsonNode = {
    val in = fs(p).open(p)
    try mapper.readTree(in) finally in.close()
  }

  /** Every metadata file is published whole: on `file://` a concurrent
    * reader sees the old or the new JSON, never a truncated one.
    */
  private def writeJson(p: Path, node: JsonNode): Unit =
    graft.sources.HadoopFs.writeFile(p,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))

  def datasetAttributes(root: String, dataset: String): DatasetAttributes = {
    val n5Path = new Path(root, s"$dataset/attributes.json")
    val zarrPath = new Path(root, s"$dataset/.zarray")
    val zarr3Path = new Path(root, s"$dataset/zarr.json")
    val f = fs(n5Path)
    if (!f.exists(n5Path)) {
      if (f.exists(zarr3Path)) return zarr3ArrayAttributes(zarr3Path)
      if (f.exists(zarrPath)) return zarrArrayAttributes(zarrPath)
    }
    val j = readJson(n5Path)
    val dims = j.get("dimensions").elements().asScala.map(_.asLong()).toArray
    val bs = j.get("blockSize").elements().asScala.map(_.asInt()).toArray
    val dt = Dtype.fromName(j.get("dataType").asText())
    val comp =
      if (j.has("compression") && j.get("compression").isObject) {
        val c = j.get("compression")
        val declared = c.get("type").asText()
        // n5-java's gzip with useZlib=true is a raw zlib deflate stream —
        // decoding it as GZIP would die with "Not in GZIP format"
        val codec =
          if (declared == "gzip" && c.has("useZlib") && c.get("useZlib").asBoolean())
            "zlib"
          else declared
        val param =
          if (c.has("level")) c.get("level").asInt()
          else if (c.has("blockSize")) c.get("blockSize").asInt()
          else if (c.has("preset")) c.get("preset").asInt() // n5-java xz
          else if (c.has("clevel")) { // blosc family
            // clevel<=1 maps back to the encoder's -1 fast path so OUR
            // OWN writes round-trip (the write side serializes level -1
            // as clevel:1) — but only when the attributes match the
            // engine's emitted interop profile exactly (cname lz4,
            // shuffle 0). A foreign dataset legitimately declaring
            // clevel 0/1 (e.g. LZ4-HC at clevel 1 is not "fast LZ4")
            // must keep its metadata intact across a round trip
            // (ADVICE r13).
            val cl = c.get("clevel").asInt()
            val ownProfile = declared == "blosc" &&
              c.has("cname") && c.get("cname").asText() == "lz4" &&
              c.has("shuffle") && c.get("shuffle").asInt() == 0
            if (ownProfile && cl <= 1) -1 else cl
          }
          else Compression.defaultParam(codec)
        Compression(codec, param)
      } else if (j.has("compressionType"))
        // legacy n5 v1.x string attribute — ignoring it would misread the
        // dataset as raw and decode compressed payloads as voxels
        Compression(j.get("compressionType").asText())
      else Compression("raw")
    val structural =
      Set("dimensions", "blockSize", "dataType", "compression", "compressionType")
    val extra = j.properties().asScala
      .filterNot(e => structural(e.getKey))
      .map(e => e.getKey -> e.getValue.toString).toMap
    DatasetAttributes(dims, bs, dt, comp, extra)
  }

  /** Parse a zarr v2 `.zarray` (public spec: zarr-specs v2, the format
    * the reference ecosystem's sibling datasets ship in — the reference
    * itself reads N5 *through* zarr's N5Store, `n5_to_tif.py:25`).
    * Read-only support, supported profile enforced LOUDLY:
    * 8/16/32/64-bit ints, f4/f8, C order, no filters, compressor
    * null/zlib/gzip/blosc. shape/chunks are reversed into the engine's
    * x-fastest axis order (see [[DatasetAttributes.format]]).
    */
  private def zarrArrayAttributes(p: Path): DatasetAttributes = {
    val j = readJson(p)
    def req(k: String) = {
      val n = j.get(k)
      if (n == null) throw new IllegalArgumentException(s"zarr: .zarray missing '$k'")
      n
    }
    val zf = req("zarr_format").asInt()
    if (zf != 2) throw new IllegalArgumentException(s"zarr: format $zf (only v2)")
    val order = req("order").asText()
    if (order != "C") throw new IllegalArgumentException(
      s"zarr: order '$order' unsupported (only C)")
    if (j.has("filters") && !j.get("filters").isNull &&
      j.get("filters").size() > 0)
      throw new IllegalArgumentException("zarr: filters unsupported")
    // fill_value participates in semantics: absent chunks reconstruct as
    // the fill, and our readBox/elementsScan only ever reconstruct zeros —
    // a foreign dataset declaring any other fill would be silently misread
    // (ADVICE r14), so only 0/null pass the loud supported-profile gate
    if (j.has("fill_value") && !j.get("fill_value").isNull) {
      val fv = j.get("fill_value")
      val isZero = fv.isNumber && fv.asDouble() == 0.0
      if (!isZero) throw new IllegalArgumentException(
        s"zarr: fill_value ${fv.toString} unsupported (only 0/null — " +
          "missing-chunk reconstruction assumes a zero fill)")
    }
    val dims = req("shape").elements().asScala.map(_.asLong()).toArray.reverse
    val bs = req("chunks").elements().asScala.map(_.asInt()).toArray.reverse
    if (dims.isEmpty || dims.length != bs.length)
      throw new IllegalArgumentException(
        s"zarr: shape/chunks rank mismatch (${dims.length} vs ${bs.length})")
    val dstr = req("dtype").asText()
    if (dstr.length < 3) throw new IllegalArgumentException(s"zarr: dtype '$dstr'")
    val little = dstr.charAt(0) match {
      case '<' | '|' => true
      case '>' => false
      case c => throw new IllegalArgumentException(s"zarr: byte order '$c'")
    }
    val dt = dstr.substring(1) match {
      case "u1" => Dtype.UInt8
      case "i1" => Dtype.Int8
      case "u2" => Dtype.UInt16
      case "i2" => Dtype.Int16
      case "u4" => Dtype.UInt32
      case "i4" => Dtype.Int32
      case "u8" => Dtype.UInt64
      case "i8" => Dtype.Int64
      case "f4" => Dtype.Float32
      case "f8" => Dtype.Float64
      case t => throw new IllegalArgumentException(
        s"zarr: dtype '$dstr' unsupported")
    }
    val comp =
      if (!j.has("compressor") || j.get("compressor").isNull) Compression("raw")
      else {
        val c = j.get("compressor")
        c.get("id").asText() match {
          case "zlib" => Compression("zlib",
            if (c.has("level")) c.get("level").asInt() else 1)
          case "gzip" => Compression("gzip",
            if (c.has("level")) c.get("level").asInt() else 1)
          // blosc chunks are self-describing (16-byte header); the read
          // side ignores the declared params
          case "blosc" => Compression("blosc",
            if (c.has("clevel")) c.get("clevel").asInt() else 5)
          case id => throw new IllegalArgumentException(
            s"zarr: compressor '$id' unsupported (null/zlib/gzip/blosc)")
        }
      }
    val sep =
      if (j.has("dimension_separator")) j.get("dimension_separator").asText()
      else "."
    if (sep != "." && sep != "/")
      throw new IllegalArgumentException(s"zarr: separator '$sep'")
    val structural = Set("zarr_format", "shape", "chunks", "dtype",
      "compressor", "order", "filters", "dimension_separator")
    val inline = j.properties().asScala
      .filterNot(e => structural(e.getKey))
      .map(e => e.getKey -> e.getValue.toString).toMap
    // user attributes live in the sibling `.zattrs` (zarr v2); merge them
    // into `extra` so downsamplingFactors / pixelResolution round-trip
    // across the two container formats (r15)
    val zattrsP = new Path(p.getParent, ".zattrs")
    val zattrs =
      if (fs(zattrsP).exists(zattrsP))
        readJson(zattrsP).properties().asScala
          .map(e => e.getKey -> e.getValue.toString).toMap
      else Map.empty[String, String]
    DatasetAttributes(dims, bs, dt, comp, inline ++ zattrs,
      format = "zarr", zarrSeparator = sep, zarrLittleEndian = little)
  }

  /** One parsed zarr v3 codec chain: array→bytes endianness, at most
    * one bytes→bytes compressor, optional trailing crc32c. */
  private final case class V3Chain(
      little: Boolean, comp: Compression, crc: Boolean)

  /** Parse a v3 `codecs` list (the non-sharding profile): exactly one
    * `bytes` codec, then optionally one of gzip/zstd/blosc, then
    * optionally `crc32c` LAST. Everything else — `transpose`, unknown
    * names, out-of-order chains — is a loud reject.
    */
  private def parseV3Chain(codecs: JsonNode, what: String): V3Chain = {
    if (codecs == null || !codecs.isArray || codecs.size() == 0)
      throw new IllegalArgumentException(s"zarr3: $what missing codecs")
    var little: Option[Boolean] = None
    var comp: Option[Compression] = None
    var crc = false
    codecs.elements().asScala.foreach { c =>
      val name = c.get("name").asText()
      val cfg = c.get("configuration")
      if (crc) throw new IllegalArgumentException(
        s"zarr3: $what has a codec after crc32c")
      name match {
        case "bytes" =>
          if (little.nonEmpty) throw new IllegalArgumentException(
            s"zarr3: $what declares 'bytes' twice")
          if (comp.nonEmpty) throw new IllegalArgumentException(
            s"zarr3: $what has 'bytes' after a compressor")
          val endian =
            if (cfg != null && cfg.has("endian")) cfg.get("endian").asText()
            else "little"
          endian match {
            case "little" => little = Some(true)
            case "big" => little = Some(false)
            case e => throw new IllegalArgumentException(s"zarr3: endian '$e'")
          }
        case "gzip" | "zstd" =>
          if (little.isEmpty) throw new IllegalArgumentException(
            s"zarr3: $what compressor before the 'bytes' codec")
          if (comp.nonEmpty) throw new IllegalArgumentException(
            s"zarr3: $what declares two compressors")
          val level =
            if (cfg != null && cfg.has("level")) cfg.get("level").asInt()
            else Compression.defaultParam(name)
          comp = Some(Compression(name, level))
        case "blosc" =>
          if (little.isEmpty) throw new IllegalArgumentException(
            s"zarr3: $what compressor before the 'bytes' codec")
          if (comp.nonEmpty) throw new IllegalArgumentException(
            s"zarr3: $what declares two compressors")
          // blosc frames are self-describing; level only matters on write
          comp = Some(Compression("blosc",
            if (cfg != null && cfg.has("clevel")) cfg.get("clevel").asInt() else 5))
        case "crc32c" => crc = true
        case "transpose" => throw new IllegalArgumentException(
          "zarr3: 'transpose' codec unsupported (only C-order layouts)")
        case other => throw new IllegalArgumentException(
          s"zarr3: codec '$other' unsupported " +
            "(bytes | gzip | zstd | blosc | crc32c | sharding_indexed)")
      }
    }
    V3Chain(
      little.getOrElse(throw new IllegalArgumentException(
        s"zarr3: $what has no 'bytes' codec")),
      comp.getOrElse(Compression("raw")), crc)
  }

  /** Parse a zarr v3 `zarr.json` array document (public spec:
    * zarr-specs v3 — the array ecosystem's current default format).
    * Read-only; supported profile enforced LOUDLY: regular chunk grid,
    * default/v2 chunk-key encodings, C-order `bytes` codec chains
    * (gzip/zstd/blosc/crc32c), the `sharding_indexed` codec, fill 0.
    * shape/chunks reverse into the engine's x-fastest order exactly as
    * v2; for sharded stores `blockSize` is the INNER chunk shape.
    */
  private def zarr3ArrayAttributes(p: Path): DatasetAttributes = {
    val j = readJson(p)
    def req(k: String) = {
      val n = j.get(k)
      if (n == null) throw new IllegalArgumentException(s"zarr3: zarr.json missing '$k'")
      n
    }
    val zf = req("zarr_format").asInt()
    if (zf != 3) throw new IllegalArgumentException(s"zarr3: format $zf in zarr.json")
    val nt = req("node_type").asText()
    if (nt != "array") throw new IllegalArgumentException(
      s"zarr3: node_type '$nt' (dataset path must name an array node)")
    val dims = req("shape").elements().asScala.map(_.asLong()).toArray.reverse
    val grid = req("chunk_grid")
    if (grid.get("name").asText() != "regular")
      throw new IllegalArgumentException(
        s"zarr3: chunk_grid '${grid.get("name").asText()}' unsupported (only regular)")
    val outer = grid.get("configuration").get("chunk_shape")
      .elements().asScala.map(_.asInt()).toArray.reverse
    if (dims.isEmpty || dims.length != outer.length)
      throw new IllegalArgumentException(
        s"zarr3: shape/chunk_shape rank mismatch (${dims.length} vs ${outer.length})")
    val dt = req("data_type").asText() match {
      case "uint8" => Dtype.UInt8
      case "int8" => Dtype.Int8
      case "uint16" => Dtype.UInt16
      case "int16" => Dtype.Int16
      case "uint32" => Dtype.UInt32
      case "int32" => Dtype.Int32
      case "uint64" => Dtype.UInt64
      case "int64" => Dtype.Int64
      case "float32" => Dtype.Float32
      case "float64" => Dtype.Float64
      case t => throw new IllegalArgumentException(s"zarr3: data_type '$t' unsupported")
    }
    if (j.has("fill_value") && !j.get("fill_value").isNull) {
      val fv = j.get("fill_value")
      if (!(fv.isNumber && fv.asDouble() == 0.0))
        throw new IllegalArgumentException(
          s"zarr3: fill_value ${fv.toString} unsupported (only 0 — " +
            "missing-chunk reconstruction assumes a zero fill)")
    }
    val (sep, prefix) = j.get("chunk_key_encoding") match {
      case null => ("/", true) // spec default: "default" encoding, sep "/"
      case cke =>
        val name = cke.get("name").asText()
        val cfg = cke.get("configuration")
        val s =
          if (cfg != null && cfg.has("separator")) cfg.get("separator").asText()
          else if (name == "default") "/" else "."
        if (s != "." && s != "/")
          throw new IllegalArgumentException(s"zarr3: separator '$s'")
        name match {
          case "default" => (s, true)
          case "v2" => (s, false)
          case o => throw new IllegalArgumentException(
            s"zarr3: chunk_key_encoding '$o' unsupported")
        }
    }
    // codec chain: either the plain bytes[+compressor][+crc32c] chain,
    // or a single sharding_indexed codec wrapping an inner chain
    val codecs = req("codecs")
    val isSharded = codecs.isArray && codecs.size() == 1 &&
      codecs.get(0).get("name").asText() == "sharding_indexed"
    val (blockSize, chain, shardSpec) =
      if (!isSharded) {
        (outer, parseV3Chain(codecs, "chunk"), None)
      } else {
        val cfg = codecs.get(0).get("configuration")
        val inner = cfg.get("chunk_shape")
          .elements().asScala.map(_.asInt()).toArray.reverse
        if (inner.length != outer.length)
          throw new IllegalArgumentException("zarr3: shard inner/outer rank mismatch")
        val cps = outer.indices.map { i =>
          if (inner(i) <= 0 || outer(i) % inner(i) != 0)
            throw new IllegalArgumentException(
              s"zarr3: inner chunk ${inner.mkString("x")} does not divide " +
                s"shard ${outer.mkString("x")}")
          outer(i) / inner(i)
        }.toArray
        val innerChain = parseV3Chain(cfg.get("codecs"), "shard inner chunk")
        val idxChain = parseV3Chain(cfg.get("index_codecs"), "shard index")
        if (!idxChain.little || idxChain.comp.codec != "raw")
          throw new IllegalArgumentException(
            "zarr3: shard index_codecs must be little-endian bytes [+ crc32c]")
        val atEnd = cfg.get("index_location") match {
          case null => true
          case loc => loc.asText() match {
            case "end" => true
            case "start" => false
            case o => throw new IllegalArgumentException(s"zarr3: index_location '$o'")
          }
        }
        // attrs.compression mirrors the inner chain for metadata
        // consumers; the sharded DECODE path reads it from ShardSpec
        (inner, V3Chain(innerChain.little, innerChain.comp, crc = false),
          Some(ShardSpec(cps, innerChain.comp, innerChain.little,
            indexAtEnd = atEnd, indexCrc = idxChain.crc,
            chunkCrc = innerChain.crc)))
      }
    val extra: Map[String, String] = j.get("attributes") match {
      case null => Map.empty
      case a => a.properties().asScala
        .map(e => e.getKey -> e.getValue.toString).toMap
    }
    DatasetAttributes(dims, blockSize, dt, chain.comp, extra,
      format = "zarr3", zarrSeparator = sep, zarrLittleEndian = chain.little,
      zarr3ChunkPrefix = prefix, zarr3Crc = chain.crc, shard = shardSpec)
  }

  def writeDatasetAttributes(
      root: String, dataset: String, a: DatasetAttributes): Unit = {
    val o = mapper.createObjectNode()
    val dims = o.putArray("dimensions"); a.dimensions.foreach(dims.add)
    val bs = o.putArray("blockSize"); a.blockSize.foreach(bs.add)
    o.put("dataType", a.dataType.name)
    val c = o.putObject("compression")
    c.put("type", a.compression.codec)
    // persist a SPEC-VALID parameter: n5-java rejects blockSize <= 0, so
    // internal default markers are replaced by the codec default. xz is
    // the one codec where 0 is a VALID parameter (LZMA2 preset 0) — only
    // negative means "default" there, matching BlockCodec's `>= 0` read
    val param = a.compression.codec match {
      case "xz" if a.compression.level >= 0 => a.compression.level
      case _ if a.compression.level > 0 => a.compression.level
      case _ => Compression.defaultParam(a.compression.codec)
    }
    a.compression.codec match {
      case "gzip" =>
        c.put("useZlib", false)
        c.put("level", a.compression.level) // -1 = zlib default, spec-legal
      case "zlib" =>
        // written in n5-java's wire terms: gzip + useZlib=true
        c.put("type", "gzip")
        c.put("useZlib", true)
        c.put("level", a.compression.level)
      case "bzip2" | "lz4" =>
        c.put("blockSize", param)
      case "zstd" =>
        c.put("level", param)
      case "xz" =>
        // n5-java XzCompression serializes its parameter as "preset"
        c.put("preset", param)
      case "blosc" =>
        // n5-blosc attribute shape (cname/clevel/shuffle/blocksize/
        // nthreads); the emitted chunks are always the lz4 no-shuffle
        // profile of BloscCodec.encode regardless of what a cloned
        // template declared
        c.put("cname", "lz4")
        // fast-path level -1 serializes as clevel:1 (fastest), NOT a
        // silent upgrade to LZ4-HC(5); the read side maps clevel<=1 back
        // to -1 so write settings survive a metadata round trip
        c.put("clevel", if (a.compression.level > 0) a.compression.level else 1)
        c.put("shuffle", 0)
        c.put("blocksize", 0)
        c.put("nthreads", 1)
      case _ => ()
    }
    a.extra.foreach { case (k, v) => o.set[ObjectNode](k, mapper.readTree(v)) }
    val p = new Path(root, s"$dataset/attributes.json")
    writeJson(p, o)
  }

  /** Emit a zarr v2 `.zarray` for the dataset (r14, write support): the
    * inverse of [[zarrArrayAttributes]] — engine x-fastest dims/blocks
    * reversed back into zarr's C order, dtype with the little-endian
    * byte-order character, compressor in numcodecs id terms. Write
    * profile kept deliberately narrow and LOUD: raw (null compressor),
    * zlib, gzip, blosc (self-describing chunks in BloscCodec.encode's
    * fixed interop profile) — the ids any zarr v2 reader ships.
    */
  def writeZarrAttributes(
      root: String, dataset: String, a: DatasetAttributes): Unit = {
    require(a.isZarr, "writeZarrAttributes: attributes are not format=zarr")
    val o = mapper.createObjectNode()
    o.put("zarr_format", 2)
    val dims = o.putArray("shape"); a.dimensions.reverse.foreach(dims.add)
    val bs = o.putArray("chunks"); a.blockSize.reverse.foreach(bs.add)
    val code = a.dataType match {
      case Dtype.UInt8 => "u1"
      case Dtype.Int8 => "i1"
      case Dtype.UInt16 => "u2"
      case Dtype.Int16 => "i2"
      case Dtype.UInt32 => "u4"
      case Dtype.Int32 => "i4"
      case Dtype.UInt64 => "u8"
      case Dtype.Int64 => "i8"
      case Dtype.Float32 => "f4"
      case Dtype.Float64 => "f8"
    }
    o.put("dtype", (if (a.zarrLittleEndian) "<" else ">") + code)
    a.compression.codec match {
      case "raw" => o.putNull("compressor")
      case "zlib" =>
        val c = o.putObject("compressor")
        c.put("id", "zlib")
        c.put("level", if (a.compression.level > 0) a.compression.level else 1)
      case "gzip" =>
        val c = o.putObject("compressor")
        c.put("id", "gzip")
        c.put("level", if (a.compression.level > 0) a.compression.level else 1)
      case "blosc" =>
        val c = o.putObject("compressor")
        c.put("id", "blosc")
        c.put("cname", "lz4")
        c.put("clevel", if (a.compression.level > 0) a.compression.level else 1)
        c.put("shuffle", 0)
        c.put("blocksize", 0)
      case other => throw new IllegalArgumentException(
        s"zarr write: compressor '$other' unsupported " +
          "(raw | zlib | gzip | blosc)")
    }
    o.putNull("filters")
    o.put("order", "C")
    o.put("fill_value", 0)
    o.put("dimension_separator", a.zarrSeparator)
    val p = new Path(root, s"$dataset/.zarray")
    writeJson(p, o)
    // user attributes (downsamplingFactors, pixelResolution, …) belong in
    // the sibling `.zattrs`, not in `.zarray` — zarr v2 keeps array
    // metadata and user attributes in separate documents (r15; the r14
    // writer had no extra-attr callers so the distinction never arose)
    if (a.extra.nonEmpty)
      mergeJsonAttrs(new Path(root, s"$dataset/.zattrs"), a.extra)
  }

  /** Emit one `[bytes <endian>, <compressor>?, crc32c?]` v3 codec chain
    * into `codecs` — shared by the plain-chunk and shard-inner chains.
    */
  private def emitV3Chain(codecs: com.fasterxml.jackson.databind.node.ArrayNode,
      little: Boolean, comp: Compression, crc: Boolean): Unit = {
    val bytesC = codecs.addObject()
    bytesC.put("name", "bytes")
    bytesC.putObject("configuration")
      .put("endian", if (little) "little" else "big")
    comp.codec match {
      case "raw" => ()
      case c @ ("gzip" | "zstd") =>
        val cc = codecs.addObject()
        cc.put("name", c)
        cc.putObject("configuration")
          .put("level", if (comp.level > 0) comp.level
            else (if (c == "zstd") 3 else 6))
      case "blosc" =>
        val cc = codecs.addObject()
        cc.put("name", "blosc")
        val bcfg = cc.putObject("configuration")
        bcfg.put("cname", "lz4")
        bcfg.put("clevel", if (comp.level > 0) comp.level else 1)
        bcfg.put("shuffle", "noshuffle")
        bcfg.put("blocksize", 0)
      case other => throw new IllegalArgumentException(
        s"zarr3 write: compressor '$other' is not a v3 codec " +
          "(raw | gzip | zstd | blosc — zlib/bzip2/lz4/xz are N5/v2-only)")
    }
    if (crc) codecs.addObject().put("name", "crc32c")
  }

  /** Emit a zarr v3 `zarr.json` for the dataset: regular chunk grid in
    * reversed (C) order, the default "c/"-style chunk-key encoding with
    * the attrs' separator, fill 0, user attributes inline under
    * `attributes` (v3 keeps ONE metadata document — no sibling
    * .zattrs). Non-sharded attrs (r18) declare the plain
    * `[bytes <endian>, <compressor>?, crc32c?]` chain over `blockSize`
    * chunks; sharded attrs (r19) declare ONE `sharding_indexed` codec
    * whose outer chunk_shape is `blockSize · chunksPerShard`, wrapping
    * the inner chain plus `[bytes le, crc32c?]` index codecs at the
    * spec'd index_location.
    */
  def writeZarr3Attributes(
      root: String, dataset: String, a: DatasetAttributes): Unit = {
    require(a.isZarr3, "writeZarr3Attributes: attributes are not format=zarr3")
    val o = mapper.createObjectNode()
    o.put("zarr_format", 3)
    o.put("node_type", "array")
    val dims = o.putArray("shape"); a.dimensions.reverse.foreach(dims.add)
    o.put("data_type", a.dataType.name)
    val grid = o.putObject("chunk_grid")
    grid.put("name", "regular")
    val gcfg = grid.putObject("configuration")
    val outer = a.shard match {
      case Some(sp) => a.blockSize.zip(sp.chunksPerShard).map { case (b, c) => b * c }
      case None => a.blockSize
    }
    val cs = gcfg.putArray("chunk_shape"); outer.reverse.foreach(cs.add)
    val cke = o.putObject("chunk_key_encoding")
    cke.put("name", if (a.zarr3ChunkPrefix) "default" else "v2")
    cke.putObject("configuration").put("separator", a.zarrSeparator)
    o.put("fill_value", 0)
    val codecs = o.putArray("codecs")
    a.shard match {
      case None =>
        emitV3Chain(codecs, a.zarrLittleEndian, a.compression, a.zarr3Crc)
      case Some(sp) =>
        val sc = codecs.addObject()
        sc.put("name", "sharding_indexed")
        val scfg = sc.putObject("configuration")
        val ics = scfg.putArray("chunk_shape")
        a.blockSize.reverse.foreach(ics.add)
        emitV3Chain(scfg.putArray("codecs"),
          sp.innerLittleEndian, sp.innerCompression, sp.chunkCrc)
        val idx = scfg.putArray("index_codecs")
        idx.addObject().put("name", "bytes").putObject("configuration")
          .put("endian", "little")
        if (sp.indexCrc) idx.addObject().put("name", "crc32c")
        scfg.put("index_location", if (sp.indexAtEnd) "end" else "start")
    }
    val attrsNode = o.putObject("attributes")
    a.extra.foreach { case (k, v) =>
      attrsNode.set[ObjectNode](k, mapper.readTree(v))
    }
    val p = new Path(root, s"$dataset/zarr.json")
    writeJson(p, o)
  }

  /** Merge attribute JSON fragments into an existing (or new) JSON doc. */
  private def mergeJsonAttrs(p: Path, attrs: Map[String, String]): Unit = {
    val f = fs(p)
    f.mkdirs(p.getParent)
    val base =
      if (f.exists(p)) readJson(p).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    attrs.foreach { case (k, v) => base.set[ObjectNode](k, mapper.readTree(v)) }
    writeJson(p, base)
  }

  /** Merge GROUP-level zarr user attributes (`.zattrs`) and stamp the
    * `.zgroup` markers that make the hierarchy discoverable by zarr
    * readers — the zarr-side face of [[updateGroupAttributes]] (r15,
    * OME-NGFF multiscales land here).
    */
  def updateZarrGroupAttributes(
      root: String, group: String, attrs: Map[String, String]): Unit = {
    val dir = if (group.isEmpty) root else s"$root/$group"
    // .zgroup at the root and at every level down to the group
    val marks = scala.collection.mutable.ArrayBuffer(new Path(root, ".zgroup"))
    if (group.nonEmpty) {
      var acc = root
      group.split("/").foreach { seg =>
        acc = s"$acc/$seg"
        marks += new Path(acc, ".zgroup")
      }
    }
    marks.foreach { p =>
      val f = fs(p)
      f.mkdirs(p.getParent)
      if (!f.exists(p)) {
        val o = mapper.createObjectNode()
        o.put("zarr_format", 2)
        writeJson(p, o)
      }
    }
    mergeJsonAttrs(new Path(dir, ".zattrs"), attrs)
  }

  /** zarr v3 group metadata (r18): one `zarr.json` per group level with
    * `node_type: "group"` and the merged user attributes — v3 keeps no
    * sibling `.zattrs`/`.zgroup` documents.
    */
  def updateZarr3GroupAttributes(
      root: String, group: String, attrs: Map[String, String]): Unit = {
    val dirs = scala.collection.mutable.ArrayBuffer(root)
    if (group.nonEmpty) {
      var acc = root
      group.split("/").foreach { seg => acc = s"$acc/$seg"; dirs += acc }
    }
    dirs.foreach { d =>
      val p = new Path(d, "zarr.json")
      val f = fs(p)
      f.mkdirs(p.getParent)
      val base =
        if (f.exists(p)) readJson(p).asInstanceOf[ObjectNode]
        else {
          val o = mapper.createObjectNode()
          o.put("zarr_format", 3)
          o.put("node_type", "group")
          o
        }
      if (base.get("node_type") != null &&
          base.get("node_type").asText() == "array")
        throw new IllegalArgumentException(
          s"zarr3: $d is an ARRAY node, cannot carry group attributes")
      // only the leaf group carries the attribute payload; ancestors
      // just need to exist as group nodes
      if (d == dirs.last && attrs.nonEmpty) {
        val a = base.get("attributes") match {
          case o: ObjectNode => o
          case _ => base.putObject("attributes")
        }
        attrs.foreach { case (k, v) => a.set[ObjectNode](k, mapper.readTree(v)) }
      }
      writeJson(p, base)
    }
  }

  /** The level dataset paths a foreign OME-NGFF pyramid declares in its
    * group `.zattrs` `multiscales[0].datasets[*].path`, in declared
    * order (r16, VERDICT r15 #7) — empty when the group has no `.zattrs`
    * or no multiscales entry. Paths are RELATIVE to the group, exactly
    * as the NGFF spec stores them; a malformed multiscales node (no
    * datasets array, a dataset without a path) fails loudly rather than
    * silently discovering a partial pyramid.
    */
  def ngffMultiscaleDatasets(root: String, group: String): Seq[String] = {
    val p = new Path(if (group.isEmpty) root else s"$root/$group", ".zattrs")
    val f = fs(p)
    if (!f.exists(p)) return Nil
    val node = readJson(p).get("multiscales")
    if (node == null || !node.isArray || node.size == 0) return Nil
    val ds = node.get(0).get("datasets")
    require(ds != null && ds.isArray && ds.size > 0,
      s"$p: multiscales entry without a datasets array")
    (0 until ds.size).map { i =>
      val path = ds.get(i).get("path")
      require(path != null && path.isTextual,
        s"$p: multiscales datasets[$i] has no path")
      path.asText()
    }
  }

  /** Read/merge arbitrary group attributes (e.g. multiscale `scales`). */
  def updateGroupAttributes(
      root: String, group: String, attrs: Map[String, String]): Unit = {
    val p =
      if (group.isEmpty) new Path(root, "attributes.json")
      else new Path(root, s"$group/attributes.json")
    val f = fs(p)
    f.mkdirs(p.getParent)
    val base =
      if (f.exists(p)) readJson(p).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    attrs.foreach { case (k, v) => base.set[ObjectNode](k, mapper.readTree(v)) }
    writeJson(p, base)
  }

  /** Effective physical pixel resolution with the reference's precedence
    * (R8, `n5_multiscale.py:37-60`): `pixelResolution` attr as either a
    * {unit, dimensions} dict or a bare list, scaled by
    * `downsamplingFactors` when present, else the supplied defaults.
    * (The reference's bug of reading the unit from the `dimensions` key —
    * `n5_multiscale.py:42` — is deliberately NOT replicated.)
    */
  def pixelResolution(
      attrs: DatasetAttributes,
      default: Option[(Array[Double], String)] = None): (Array[Double], String) = {
    val defaultRes = default.map(_._1).getOrElse(Array(1.0, 1.0, 1.0))
    val defaultUnit = default.map(_._2).getOrElse("um")
    val node = attrs.extra.get("pixelResolution").map(mapper.readTree)
    val (res, unit) = node match {
      case Some(j) if j.isObject =>
        (j.get("dimensions").elements().asScala.map(_.asDouble()).toArray,
          if (j.has("unit")) j.get("unit").asText() else defaultUnit)
      case Some(j) if j.isArray =>
        (j.elements().asScala.map(_.asDouble()).toArray, defaultUnit)
      case _ => (defaultRes, defaultUnit)
    }
    val scaled = attrs.extra.get("downsamplingFactors").map(mapper.readTree)
      .filter(_.isArray)
      .map(_.elements().asScala.map(_.asDouble()).toArray)
      .map(f => res.zip(f).map { case (r, fc) => r * fc })
      .getOrElse(res)
    (scaled, unit)
  }

  /** Ensure the container root exists with the n5 version marker. */
  def ensureRoot(root: String, version: String = "2.5.1"): Unit = {
    val p = new Path(root, "attributes.json")
    val f = fs(p)
    f.mkdirs(p.getParent)
    if (!f.exists(p)) {
      val o = mapper.createObjectNode()
      o.put("n5", version)
      writeJson(p, o)
    }
  }
}
