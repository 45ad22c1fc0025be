package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The q173 entropy kernel (r16): the one-pass native fold must be
  * BIT-IDENTICAL to the 27-term translate formulation it replaced — the
  * oracle replays the declarative tree, so any double divergence would
  * surface as a hash mismatch only at whatever SF happens to hit it.
  * Pinning equality on the raw doubles (not the e4 lattice) makes the
  * guarantee unconditional.
  */
class CurationOpsSpec extends SparkSpec {

  /** The pre-r16 27-term translate fold — the reference semantics for
    * [[CurationOps.entropyCols]]' kernel. */
  private def entropyColsDeclarative(nt: Column): (Column, Column) = {
    val cnts = CurationOps.Alphabet.map { ch =>
      length(nt) - length(translate(nt, ch, ""))
    }
    val l = cnts.map(_.cast("double")).reduce(_ + _)
    val ent = cnts.map { c =>
      when(c > 0, -((c.cast("double") / l) * log(c.cast("double") / l)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    (l, ent)
  }

  test("char-entropy kernel == declarative translate fold, bit-for-bit") {
    import graft.functions.{TextFunctions => TF}
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TF.normalizeText(col("text")).as("nt"))
      .filter(col("nt").rlike("[a-z ]"))
    val (lK, entK) = CurationOps.entropyCols(col("nt"))
    val (lD, entD) = entropyColsDeclarative(col("nt"))
    val rows = base.select(col("doc_id"), lK.as("lk"), entK.as("ek"),
        lD.as("ld"), entD.as("ed")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"doc ${r.getLong(0)}: l ${r.getDouble(1)} vs ${r.getDouble(3)}")
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(4)),
        s"doc ${r.getLong(0)}: ent ${r.getDouble(2)} vs ${r.getDouble(4)}")
    }
    // degenerate inputs: multi-byte UTF-8 and uncounted chars must not
    // perturb the counts (ASCII byte compare is exact in valid UTF-8)
    import spark.implicits._
    val edge = Seq("aaa", "a b", "日本語 a", "ζz  z", "!!!")
      .toDF("nt")
    val cmp = edge.select(
      CurationOps.entropyCols(col("nt"))._1.as("lk"),
      entropyColsDeclarative(col("nt"))._1.as("ld"),
      CurationOps.entropyCols(col("nt"))._2.as("ek"),
      entropyColsDeclarative(col("nt"))._2.as("ed")).collect()
    cmp.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"edge l: $r")
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3)), s"edge ent: $r")
    }
  }
}
