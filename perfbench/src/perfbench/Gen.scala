package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Seeded input generators and the benchmark's own readers and writers of
  * the files the engine consumes and produces. None of this calls the
  * engine: expected answers come from here, so a check never trusts the
  * code it checks.
  */
object Gen {

  /** SplitMix64 finalizer: the one hash every generator draws from. */
  def mix(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** gzip at the fastest level: the engine only inflates generated blocks,
    * and inflating does not depend on the level, so a higher one would only
    * lengthen set-up.
    */
  def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    val out = new GZIPOutputStream(bos) { `def`.setLevel(java.util.zip.Deflater.BEST_SPEED) }
    out.write(data)
    out.close()
    bos.toByteArray
  }

  // ---------------------------------------------------------------- volume

  /** A uint8 volume of jittered spheres on a 32³ lattice: a cell holds one
    * sphere (radius 6..10, centre jittered by up to ±4) with probability
    * 0.85. Sphere voxels read 150..157 and background 20..27 — three bits of
    * noise each, which gzip compresses about as well as it does microscopy.
    * The value of every voxel is a closed-form function of (seed, x, y, z).
    *
    * At threshold 128 a 2×2×2 mean passes exactly when at least 7 of its 8
    * voxels are sphere voxels, whatever the noise, so each sphere stays one
    * 6-connected component at the first pyramid level.
    */
  final case class SphereLattice(seed: Long, dims: Array[Int]) {
    val Cell = 32
    require(dims.forall(d => d > 0 && d % Cell == 0), s"dims must be multiples of $Cell")
    private val Array(ncx, ncy, ncz) = dims.map(_ / Cell)
    private val nCells = ncx * ncy * ncz
    private val cx, cy, cz, r2 = new Array[Int](nCells)
    private val present = new Array[Boolean](nCells)
    private val noiseKey = mix(seed ^ 0x6e6f697365L)
    for (c <- 0 until nCells) {
      val h = mix(mix(seed) + c)
      present(c) = java.lang.Long.remainderUnsigned(h, 100) < 85
      val (gx, gy, gz) = (c % ncx, (c / ncx) % ncy, c / (ncx * ncy))
      def jitter(shift: Int) = ((h >>> shift) & 7).toInt + ((h >>> (shift + 3)) & 1).toInt - 4
      cx(c) = gx * Cell + Cell / 2 + jitter(8)
      cy(c) = gy * Cell + Cell / 2 + jitter(16)
      cz(c) = gz * Cell + Cell / 2 + jitter(24)
      val r = 6 + java.lang.Long.remainderUnsigned(h >>> 40, 5).toInt
      r2(c) = r * r
    }

    /** Number of planted spheres. */
    val spheres: Int = present.count(identity)

    def value(x: Int, y: Int, z: Int): Int = {
      val noise = (mix(noiseKey + x + dims(0).toLong * (y + dims(1).toLong * z)) & 7).toInt
      val c = x / Cell + ncx * (y / Cell + ncy * (z / Cell))
      if (present(c)) {
        val dx = x - cx(c); val dy = y - cy(c); val dz = z - cz(c)
        if (dx * dx + dy * dy + dz * dz <= r2(c)) return 150 + noise
      }
      20 + noise
    }

    /** Voxels of the box [lo, hi) in x-fastest order. */
    def box(lo: Array[Int], hi: Array[Int]): Array[Byte] = {
      val (sx, sy, sz) = (hi(0) - lo(0), hi(1) - lo(1), hi(2) - lo(2))
      val out = new Array[Byte](sx * sy * sz)
      var i = 0
      var z = lo(2)
      while (z < hi(2)) {
        var y = lo(1)
        while (y < hi(1)) {
          var x = lo(0)
          while (x < hi(0)) { out(i) = value(x, y, z).toByte; i += 1; x += 1 }
          y += 1
        }
        z += 1
      }
      out
    }
  }

  /** (count, sum, max, voxels >= threshold) of a box, by direct evaluation. */
  def boxStats(vol: SphereLattice, lo: Array[Int], hi: Array[Int], threshold: Int)
      : (Long, Long, Long, Long) = {
    var sum, above = 0L
    var mx = 0
    var z = lo(2)
    while (z < hi(2)) {
      var y = lo(1)
      while (y < hi(1)) {
        var x = lo(0)
        while (x < hi(0)) {
          val v = vol.value(x, y, z)
          sum += v
          if (v > mx) mx = v
          if (v >= threshold) above += 1
          x += 1
        }
        y += 1
      }
      z += 1
    }
    ((hi(0) - lo(0)).toLong * (hi(1) - lo(1)) * (hi(2) - lo(2)), sum, mx, above)
  }

  /** Floor of the 2×2×2 mean of a dense x-fastest uint8 volume (trim edges). */
  def halve(v: Array[Byte], dims: Array[Int]): Array[Byte] = {
    val Array(nx, ny, nz) = dims.map(_ / 2)
    val out = new Array[Byte](nx * ny * nz)
    def at(x: Int, y: Int, z: Int) = v(x + dims(0) * (y + dims(1) * z)) & 0xff
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx) {
      var s = 0
      for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1) s += at(2 * x + dx, 2 * y + dy, 2 * z + dz)
      out(x + nx * (y + ny * z)) = (s / 8).toByte
    }
    out
  }

  // ------------------------------------------------------------------- N5

  /** N5 dataset attributes of a uint8 gzip dataset. */
  def n5Attributes(dims: Array[Int], block: Array[Int]): String =
    s"""{"dimensions":[${dims.mkString(",")}],"blockSize":[${block.mkString(",")}],""" +
      """"dataType":"uint8","compression":{"type":"gzip","useZlib":false,"level":-1}}"""

  /** One N5 default-mode block file: big-endian header, gzip payload. */
  def n5Block(shape: Array[Int], payload: Array[Byte]): Array[Byte] = {
    val hdr = ByteBuffer.allocate(4 + 4 * shape.length).order(ByteOrder.BIG_ENDIAN)
    hdr.putShort(0).putShort(shape.length.toShort)
    shape.foreach(hdr.putInt)
    hdr.array() ++ gzip(payload)
  }

  /** (shape, payload) of an N5 default-mode gzip block file. */
  def readN5Block(bytes: Array[Byte]): (Array[Int], Array[Byte]) = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(b.getShort() == 0, "not a default-mode N5 block")
    val shape = Array.fill(b.getShort().toInt)(b.getInt())
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes, b.position(), bytes.length - b.position()))
    try (shape, in.readAllBytes()) finally in.close()
  }

  /** Integer array `key` of a small JSON attributes file. */
  def jsonInts(json: String, key: String): Array[Int] = {
    val m = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalStateException(s"no $key in $json"))
    m.group(1).split(",").map(_.trim.toInt)
  }

  /** Dense x-fastest volume of an N5 uint8 gzip dataset, read from its files. */
  def readN5Volume(dataset: Path): (Array[Int], Array[Byte]) = {
    val attrs = new String(Files.readAllBytes(dataset.resolve("attributes.json")), "UTF-8")
    val dims = jsonInts(attrs, "dimensions")
    val bs = jsonInts(attrs, "blockSize")
    val out = new Array[Byte](dims.product)
    val grid = dims.zip(bs).map { case (d, b) => (d + b - 1) / b }
    for (gz <- 0 until grid(2); gy <- 0 until grid(1); gx <- 0 until grid(0)) {
      val f = dataset.resolve(s"$gx/$gy/$gz")
      require(Files.exists(f), s"missing block $f")
      val (shape, data) = readN5Block(Files.readAllBytes(f))
      val (x0, y0, z0) = (gx * bs(0), gy * bs(1), gz * bs(2))
      require(shape.toSeq == Seq(math.min(bs(0), dims(0) - x0), math.min(bs(1), dims(1) - y0),
        math.min(bs(2), dims(2) - z0)), s"block $f has shape ${shape.mkString("x")}")
      var i = 0
      for (z <- 0 until shape(2); y <- 0 until shape(1)) {
        System.arraycopy(data, i, out, x0 + dims(0) * (y0 + y + dims(1) * (z0 + z)), shape(0))
        i += shape(0)
      }
    }
    (dims, out)
  }

  // ----------------------------------------------------------------- TIFF

  /** Baseline 8-bit grayscale TIFF: little-endian, one uncompressed strip. */
  def tiff(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val shortTags = Set(258, 259, 262, 277)
    val tags = Seq(256 -> w, 257 -> h, 258 -> 8, 259 -> 1, 262 -> 1,
      273 -> 0, 277 -> 1, 278 -> h, 279 -> w * h)
    val ifdLen = 2 + 12 * tags.size + 4
    val dataOff = 8 + ifdLen
    val b = ByteBuffer.allocate(dataOff + px.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    b.putShort(tags.size.toShort)
    tags.foreach { case (t, v) =>
      if (shortTags(t)) b.putShort(t.toShort).putShort(3).putInt(1).putShort(v.toShort).putShort(0)
      else b.putShort(t.toShort).putShort(4).putInt(1).putInt(if (t == 273) dataOff else v)
    }
    b.putInt(0)
    b.put(px)
    b.array()
  }

  /** Pixels of an uncompressed 8-bit single-band striped TIFF (either byte
    * order) as (width, height, bytes).
    */
  def readTiff(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val b = ByteBuffer.wrap(bytes)
    b.order(if (bytes(0) == 'I') ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    require(b.getShort(2) == 42, "not a classic TIFF")
    val ifd = b.getInt(4)
    val n = b.getShort(ifd) & 0xffff
    val tags = scala.collection.mutable.Map.empty[Int, Array[Long]]
    for (i <- 0 until n) {
      val e = ifd + 2 + 12 * i
      val (tag, typ, count) = (b.getShort(e) & 0xffff, b.getShort(e + 2) & 0xffff, b.getInt(e + 4))
      val size = typ match { case 3 => 2; case 4 => 4; case _ => 1 }
      val at = if (size * count <= 4) e + 8 else b.getInt(e + 8)
      tags(tag) = Array.tabulate(count) { k =>
        typ match {
          case 3 => (b.getShort(at + 2 * k) & 0xffff).toLong
          case 4 => b.getInt(at + 4 * k) & 0xffffffffL
          case _ => (b.get(at + k) & 0xff).toLong
        }
      }
    }
    def one(t: Int, default: Long) = tags.get(t).map(_(0)).getOrElse(default)
    val (w, h) = (one(256, -1).toInt, one(257, -1).toInt)
    require(one(258, 1) == 8 && one(259, 1) == 1 && one(277, 1) == 1,
      "expected an uncompressed 8-bit single-band TIFF")
    val out = new ByteArrayOutputStream(w * h)
    tags(273).zip(tags(279)).foreach { case (off, len) => out.write(bytes, off.toInt, len.toInt) }
    val px = out.toByteArray
    require(px.length == w * h, s"strips hold ${px.length} bytes, expected ${w * h}")
    (w, h, px)
  }

  // -------------------------------------------------------------- vectors

  /** Seeded embeddings: 10 % scattered around one hot centre (pairwise
    * cosine about 0.6, so they crowd one region of the codebook without
    * being duplicates), the rest isotropic, and `planted` near-duplicate
    * pairs (cosine about 0.995) whose second member is appended at the end.
    */
  final case class Embeddings(ids: Array[Long], vecs: Array[Array[Float]], planted: Array[(Long, Long)])

  def embeddings(seed: Long, n: Int, dim: Int, planted: Int): Embeddings = {
    val rnd = new java.util.SplittableRandom(mix(seed ^ 0x766563L))
    def gauss(scale: Double) = Array.fill(dim)(rnd.nextGaussian() * scale)
    val hot = gauss(1.0 / math.sqrt(dim))
    val base = n - planted
    val vecs = new Array[Array[Float]](n)
    for (i <- 0 until base) {
      val v = if (rnd.nextDouble() < 0.10) hot.zip(gauss(0.8 / math.sqrt(dim))).map { case (a, b) => a + b }
        else gauss(1.0 / math.sqrt(dim))
      vecs(i) = v.map(_.toFloat)
    }
    val pairs = new Array[(Long, Long)](planted)
    for (p <- 0 until planted) {
      val a = rnd.nextInt(base)
      val jitter = gauss(0.1 / math.sqrt(dim))
      vecs(base + p) = vecs(a).zip(jitter).map { case (x, e) => (x + e).toFloat }
      pairs(p) = (a.toLong, (base + p).toLong)
    }
    Embeddings(Array.tabulate(n)(_.toLong), vecs, pairs)
  }

  /** Cosine of two float vectors, accumulated in double. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var d = 0
    while (d < a.length) {
      dot += a(d).toDouble * b(d); na += a(d).toDouble * a(d); nb += b(d).toDouble * b(d)
      d += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
