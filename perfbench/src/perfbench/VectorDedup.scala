package perfbench

import java.nio.file.Path

import graft.functions.VectorSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** An LLM-data-pipeline job with no N5 I/O: train an IVF codebook with
  * k ≈ √n, emit near-duplicate pairs at cosine ≥ 0.95, then build the
  * k = 10 nearest-neighbour graph. The in-task cell kernel, the
  * driver-serial Lloyd collects, a hot cell and the exchanges do the work;
  * the codec layer does none.
  */
final class VectorDedup(spark: SparkSession, seed: Long, n: Int) extends Workload {
  private val Dim = 64
  private val Threshold = 0.95
  private val NAssign = 2
  private val Iters = 3
  private val cells = math.round(math.sqrt(n.toDouble)).toInt
  private var emb: Gen.Embeddings = _
  private var vectors: DataFrame = _

  val minOps = 2

  def generate(dir: Path): String = {
    emb = Gen.embeddings(seed, n, Dim, planted = n / 50)
    if (vectors != null) vectors.unpersist()
    import spark.implicits._
    vectors = spark.createDataset(emb.ids.toSeq.zip(emb.vecs.toSeq))
      .toDF("vec_id", "embedding")
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    vectors.count()
    Gen.sha256(emb.vecs.iterator.map { v =>
      val b = java.nio.ByteBuffer.allocate(4 * v.length)
      v.foreach(b.putFloat)
      b.array()
    })
  }

  /** One operation on a twin corpus a sixth the size. */
  override def warmUp(dir: Path, tr: Tracer): Seq[OpOutcome] = {
    val twin = new VectorDedup(spark, seed, n / 6)
    twin.generate(dir)
    try Seq(twin.run(-1, tr)) finally twin.close()
  }

  def run(i: Int, tr: Tracer): OpOutcome = {
    val ((cents, pairs), wall) = timed(tr.span("op") {
      val cents = tr.span("kernel.trainIvfCodebook")(VectorSearch.trainIvfCodebook(vectors, cells, Iters))
      val pairs = tr.span("kernel.semanticDedupPairs")(
        VectorSearch.semanticDedupPairs(vectors, cents, NAssign, Threshold).collect())
      tr.span("kernel.knnGraph")(
        VectorSearch.knnGraph(vectors, cents, NAssign, 10).write.format("noop").mode("overwrite").save())
      (cents, pairs)
    })

    val (failures, counts) = tr.span("bench.check")(check(pairs))
    OpOutcome(wall, 2, failures,
      if (!tr.active) counts
      else counts + ("kernel.candidate_pairs" -> tr.span("bench.probe")(candidatePairs(cents))))
  }

  private def check(pairs: Array[org.apache.spark.sql.Row]): (Seq[String], Map[String, Double]) = {
    val failures = Seq.newBuilder[String]
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bad = pairs.count { r =>
      val c = Gen.cosine(emb.vecs(r.getLong(0).toInt), emb.vecs(r.getLong(1).toInt))
      // the engine rounds cosines half-up to 4 decimals before the threshold
      c < Threshold - 0.00005 || math.abs(c - r.getDouble(2)) > 0.00005 + 1e-9
    }
    if (bad > 0) failures += s"$bad of ${pairs.length} emitted pairs fail the recomputed cosine"
    val recall = emb.planted.count(found).toDouble / emb.planted.length
    if (recall < 0.95) failures += s"recall $recall of planted pairs is below 0.95"

    (failures.result(), Map("kernel.pairs_out" -> pairs.length.toDouble, "kernel.recall" -> recall))
  }

  /** Σ n_c(n_c − 1)/2 over the cells the dedup kernel scores. */
  private def candidatePairs(cents: Seq[(Int, Seq[Double])]): Double =
    VectorSearch.assignCells(vectors, cents, NAssign).groupBy(col("cell")).count()
      .collect().map { r => val m = r.getLong(1).toDouble; m * (m - 1) / 2 }.sum

  override def close(): Unit = if (vectors != null) vectors.unpersist()
}
