package graft.n5

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Foreign on-disk damage to an N5 block (no fixture): a truncated gzip
  * block and a valid gzip block holding too few bytes must each fail the
  * read with a message naming that block, through `readBox`, the blocks
  * view and `writeBox`'s read of a partly covered block, and never return
  * rows.
  */
class CorruptBlockSpec extends SparkSpec {

  private val dims = Array(8L, 8L, 4L)
  private val bs = Array(4, 4, 4)
  private val ds = "vol/s0"

  private lazy val root: String = {
    val r = Files.createTempDirectory("corruptblock").toString + "/t.n5"
    val attrs = DatasetAttributes(dims, bs, Dtype.UInt8, Compression("gzip"))
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(col("x"), col("y"), col("z"),
        ((col("x") + col("y") * 7 + col("z") * 13) % 200).cast("short").as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), r, ds, attrs)
    // block 0/0/0: cut the gzip stream in half
    val truncated = Paths.get(r, ds, "0/0/0")
    val bytes = Files.readAllBytes(truncated)
    Files.write(truncated, bytes.take(bytes.length / 2))
    // block 1/0/0: a well-formed header and gzip stream of 10 of 64 bytes
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(new Array[Byte](10)); gz.close()
    val hdr = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    hdr.putShort(0.toShort).putShort(3.toShort)
    bs.foreach(hdr.putInt)
    Files.write(Paths.get(r, ds, "1/0/0"), hdr.array() ++ bos.toByteArray)
    r
  }

  /** `intercept` fails the test if `read` returns instead of failing. */
  private def assertNamedFailure(key: String)(read: => Array[_]): Unit = {
    val ex = intercept[Exception](read)
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain.exists(_.contains(s"$ds/$key")),
      s"expected a failure naming block $ds/$key, got: $chain")
  }

  for ((what, g) <- Seq("truncated gzip" -> Array(0, 0, 0),
      "short payload" -> Array(1, 0, 0))) {
    val key = g.mkString("/")

    test(s"readBox over a $what block fails naming $key") {
      val lo = g.zip(bs).map { case (gi, b) => gi.toLong * b }
      assertNamedFailure(key) {
        N5.readBox(spark, root, ds, lo, lo.map(_ + 2)).collect()
      }
    }

    test(s"the blocks view of a $what block fails naming $key") {
      assertNamedFailure(key) {
        N5.read(spark, root, ds)
          .filter(col("gx") === g(0) && col("gy") === g(1) && col("gz") === g(2))
          .select(col("data")).collect()
      }
    }

    test(s"writeBox into a $what block fails naming $key") {
      val lo = g.zip(bs).map { case (gi, b) => gi.toLong * b }
      val hi = lo.map(_ + 2)
      assertNamedFailure(key) {
        N5.writeBox(spark, root, ds, lo, hi,
          N5.boxGrid(spark, lo, hi).withColumn("v", lit(1L)))
        Array.empty[Int]
      }
    }
  }
}
