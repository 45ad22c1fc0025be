package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the r19 single-pass whitespace kernels to the declarative
  * regex forms they replaced — bit-for-bit over the corpus AND an
  * adversarial literal set (every `\s` member, multi-byte code points,
  * Greek final sigma whose lowercase is context-sensitive, leading
  * non-space whitespace that `trim` must NOT strip, empty inputs).
  */
class TextKernelsSpec extends SparkSpec {

  private val adversarial = Seq(
    "", " ", "  ", "\t", "\n", "\u000b", "\f", "\r",
    "a", " a ", "\ta b\tc ", "a  b", " \t a \t ",
    "AB\fC\rD\nE", "Hello  WORLD", "A\u000bB",
    "\u03a3\u039f\u03a6\u039f\u03a3 \u03a3\u0391\u03a3",
    "\u0130stanbul \u1e9e \u00df", "\u00e9 \u00c0 \u00e7",
    "\u6c49\u5b57 \u30c6\u30b9\u30c8",
    "x" * 3 + "\t\t\t" + "Y" * 4, "trailing space ", " leading",
    "nb\u00a0sp")  // NBSP is NOT \s -- must stay inside a token

  /** The pre-r19 declarative form of [[TextFunctions.normalizeText]] —
    * the reference semantics. */
  private def normalizeTextDeclarative(text: Column) =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** The pre-r19 declarative form of [[TextFunctions.tokens]]. */
  private def tokensDeclarative(text: Column) =
    split(trim(text), "\\s+")

  private def both(c: Column, d: Column) = {
    import spark.implicits._
    val lit = adversarial.toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text"))
    lit.union(corpus).select(c.as("k"), d.as("r"))
  }

  test("ws_normalize == lower(trim(regexp_replace(text, \\s+, ' ')))") {
    val rows = both(TextFunctions.normalizeText(col("text")),
      normalizeTextDeclarative(col("text"))).collect()
    val bad = rows.filter(r => r.getString(0) != r.getString(1))
    assert(bad.isEmpty, s"${bad.length} diverged; first: " +
      bad.headOption.map(r => s"[${r.getString(0)}] vs [${r.getString(1)}]"))
  }

  test("ws_tokens == split(trim(text), \\s+)") {
    val rows = both(TextFunctions.tokens(col("text")),
      tokensDeclarative(col("text"))).collect()
    val bad = rows.filter(r => r.getSeq[String](0) != r.getSeq[String](1))
    assert(bad.isEmpty, s"${bad.length} diverged; first: " +
      bad.headOption.map(r => s"${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
  }

  test("ws_tokens array type matches the split form (nullability included)") {
    import spark.implicits._
    val df = Seq("a b").toDF("text")
    val k = df.select(TextFunctions.tokens(col("text"))).schema.head.dataType
    val r = df.select(tokensDeclarative(col("text")))
      .schema.head.dataType
    assert(k == r, s"kernel $k vs split $r")
  }
}
