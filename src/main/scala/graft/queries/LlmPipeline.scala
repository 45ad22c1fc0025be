package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{NativeExpressions => NE, TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (north-star extension, SURVEY §2.3):
  * deduplication (exact-normalized, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
  * and text analysis (token stats, quality, language-ID, fingerprints).
  *
  * Scale discipline: every query is a declarative DataFrame plan. Dedup
  * never does all-pairs at scale — the normalized-hash and MinHash paths
  * hash-partition by digest/bucket so the shuffle moves one row per
  * candidate, not O(n²). The quadratic variants (q44/q45) are correctness
  * oracles over bounded slices; q42/q47 are the 100 TB paths.
  */
object LlmPipeline {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** q49's profile-word voting as an oracle expression over a `toks`
    * column (shared by q49 and the q165 agreement matrix): struct-max on
    * (hits, lang) with the deterministic tie-break both engines share.
    */
  private val LangVoteSql: String =
    """list_aggregate([
      |    {'hits': len(list_filter(toks, x -> x IN ('the','and','of','to','is','with'))), 'lang': 'en'},
      |    {'hits': len(list_filter(toks, x -> x IN ('der','die','das','und','ist','mit'))), 'lang': 'de'},
      |    {'hits': len(list_filter(toks, x -> x IN ('le','la','les','et','est','avec'))), 'lang': 'fr'},
      |    {'hits': len(list_filter(toks, x -> x IN ('el','la','los','que','es','con'))), 'lang': 'es'},
      |    {'hits': len(list_filter(toks, x -> x IN ('的','是','和','了','在','不'))), 'lang': 'zh'}
      |  ], 'max')""".stripMargin

  /** embeddings with the float vector widened to ARRAY<DOUBLE>. */
  private def embD(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), VF.toDoubles(col("embedding")).as("v"))

  /** Minhash permutation family h_j(x) = (a_j·x + b_j) mod p over the
    * md5-derived 60-bit base hash reduced mod p. Fixed large primes keep
    * the family deterministic and identical in both engines; any a ≠ 0
    * mod prime p is a bijection of Z_p, so each h_j is a valid
    * permutation for min-wise hashing.
    */
  private[graft] object MinhashParams {
    val p: Long = 2147483647L // 2^31 - 1 (prime); a·h + b stays < 2^62
    private val as = Array(
      1299709L, 15485863L, 32452843L, 49979687L, 67867967L, 86028121L,
      104395301L, 122949823L, 141650939L, 160481183L, 179424673L,
      198491317L, 217645177L, 236887691L, 256203161L, 275604541L)
    private val bs = Array(
      104729L, 224737L, 350377L, 479909L, 611953L, 746773L, 882377L,
      1020379L, 1159523L, 1299709L, 1441859L, 1583539L, 1727239L,
      1870667L, 2015177L, 2160553L)
    def a(j: Int): Long = as(j)
    def b(j: Int): Long = bs(j)
  }

  /** The q42/q189 LSH band keys of one document's text, as a 4-element
    * array column — band index folded into each key's md5 so ONE string
    * column is the complete join identity. Shared by the streaming
    * near-dup ingest face (`Streams.nearDupIngest`), so stream ≡ batch
    * band identity is definitional, not coincidental.
    */
  private[graft] def minhashBandKeys(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = TF.tokens(TF.normalizeText(text))
    val sig = NE.minhashSigs(toks,
      (0 until 16).map(MinhashParams.a), (0 until 16).map(MinhashParams.b),
      MinhashParams.p)
    array((0 until 4).map(b =>
      md5(concat_ws("|", lit(b.toString) +:
        (0 until 4).map(i => element_at(sig, b * 4 + i + 1).cast("string"))
        : _*))): _*)
  }

  /** DuckDB expression computing the q47/q52 sign-projection bucket of a
    * 64-dim ARRAY<DOUBLE> column `v`, with the same md5-derived literal
    * hyperplanes as VectorSearch.signBucket. Sequential left-fold sum →
    * bit-exact agreement with Spark's aggregate().
    */
  private def bucketSqlExpr(nPlanes: Int): String =
    (0 until nPlanes).map { j =>
      val signs = graft.functions.VectorSearch.planeSignsSql(nPlanes, 64, j)
      s"""(CASE WHEN list_reduce(list_transform(generate_series(1, 64),
         |  i -> v[i] * ($signs)[i]), (a, b) -> a + b) > 0
         |  THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** (Re)create a scratch database at a fixed tmp location. The location
    * is deleted first: a fresh session's in-memory catalog has no memory
    * of the previous run's tables, and saveAsTable refuses to CREATE a
    * managed table over a non-empty leftover directory.
    */
  private def freshDb(s: SparkSession, db: String, loc: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    if (fs.exists(hp)) fs.delete(hp, true)
    s.sql(s"CREATE DATABASE $db LOCATION '$loc'")
  }

  /** DuckDB CTE chain reproducing VectorSearch.trainIvfCodebook exactly:
    * md5-bucket sample, (bucket, vec_id)-ordered init, then `iters`
    * rounds of argmax(round(cosine,4), ties→lowest cid) assignment and
    * 1e-6-quantized per-dimension means (empty cells carry forward).
    * Yields CTEs `samp` and `cent0..cent{iters}`.
    */
  /** The shared seeded-sample CTE: md5-bucketed embeddings as doubles.
    * Single definition — the k-means chain (q100/q104), the PQ centers
    * (q103/q104) and the Scala-side samplers all derive from this one
    * hash family.
    */
  private def sampCte(sampleBuckets: Int, srcWhere: String = ""): String = {
    val bk = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10"
    s"""samp AS (SELECT vec_id, $bk AS bk,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $bk < $sampleBuckets$srcWhere)""".stripMargin
  }

  /** `name` = the first k sample vectors in (bucket, vec_id) order. */
  private def centInitCte(k: Int, name: String): String =
    s"""$name AS (SELECT cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY bk ASC, vec_id ASC) - 1 AS cid,
       |      v AS cv FROM samp) WHERE cid < $k)""".stripMargin

  /** @param srcWhere extra ` AND …` predicate restricting the training
    *                  sample's source rows — the frozen-codebook
    *                  incremental story (q108) trains on the BASE slice
    *                  only, then assigns the full corpus with it.
    */
  private def kmeansCtes(
      k: Int, iters: Int, sampleBuckets: Int, srcWhere: String = ""): String = {
    val init = s"${sampCte(sampleBuckets, srcWhere)},\n${centInitCte(k, "cent0")}"
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT s.vec_id, s.v, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY round(list_cosine_similarity(s.v, c.cv), 4) DESC,
         |          c.cid ASC) AS rn
         |    FROM samp s CROSS JOIN cent${t - 1} c) WHERE rn = 1),
         |m$t AS (SELECT cell, list(mq ORDER BY i) AS cv FROM (
         |    SELECT cell, i, floor(avg(v[i]) * 1000000.0 + 0.5) / 1000000.0 AS mq
         |    FROM a$t CROSS JOIN generate_series(1, 64) s(i)
         |    GROUP BY cell, i) GROUP BY cell),
         |cent$t AS (SELECT p.cid, coalesce(m.cv, p.cv) AS cv
         |  FROM cent${t - 1} p LEFT JOIN m$t m ON m.cell = p.cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** One super-level Lloyd round for the q218 hierarchical-descent
    * oracle: assign every centroid row of `src(cid, cv)` to its best
    * super in `from(sid, sv)` (round-4 argmax, ties to the lowest sid),
    * then emit `sup$t` as the 1e-6-quantized per-dim means with empty
    * supers carrying their previous vector —
    * `VectorSearch.superCluster`'s update rule verbatim, so the oracle
    * and the driver-side construction walk the same value lattice.
    */
  private def superLloydCtes(src: String, from: String, t: Int): String =
    s"""sa$t AS (SELECT cid, cv, sid FROM (
       |    SELECT c.cid, c.cv, s.sid,
       |      row_number() OVER (PARTITION BY c.cid
       |        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 4) DESC,
       |          s.sid ASC) AS rn
       |    FROM $src c CROSS JOIN $from s) WHERE rn = 1),
       |sm$t AS (SELECT sid, list(mq ORDER BY i) AS sv FROM (
       |    SELECT sid, i, floor(avg(cv[i]) * 1000000.0 + 0.5) / 1000000.0 AS mq
       |    FROM sa$t CROSS JOIN generate_series(1, 64) g$t(i)
       |    GROUP BY sid, i) GROUP BY sid),
       |sup$t AS (SELECT p.sid, coalesce(m.sv, p.sv) AS sv
       |  FROM $from p LEFT JOIN sm$t m ON m.sid = p.sid)""".stripMargin

  /** Half-vector k-means chain for the IMI oracle (q156): the
    * [[kmeansCtes]] arithmetic verbatim, parameterized by the slice
    * window and a CTE-name prefix so two independent chains coexist in
    * one WITH. Yields `${p}samp` and `${p}cent0..${p}cent{iters}`.
    */
  private def kmeansCtesHalf(
      k: Int, iters: Int, sampleBuckets: Int,
      lo: Int, dims: Int, p: String): String =
    kmeansCtesHalfExpr(k.toString, iters, sampleBuckets, lo, dims, p)

  /** [[kmeansCtesHalf]] with k as an arbitrary SQL scalar expression —
    * the dynamic-k face (r15): the production composites derive k from
    * the corpus count (`VectorSearch.scaledKHalfSql`), and k only enters
    * the chain through cent0's cutoff, so the Lloyd rounds are unchanged.
    */
  private def kmeansCtesHalfExpr(
      kExpr: String, iters: Int, sampleBuckets: Int,
      lo: Int, dims: Int, p: String): String = {
    val bk = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10"
    val samp =
      s"""${p}samp AS (SELECT vec_id, $bk AS bk,
         |    list_transform(embedding[$lo:${lo + dims - 1}],
         |      x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE $bk < $sampleBuckets)""".stripMargin
    val init =
      s"""${p}cent0 AS (SELECT cid, cv FROM (
         |    SELECT row_number() OVER (ORDER BY bk ASC, vec_id ASC) - 1 AS cid,
         |      v AS cv FROM ${p}samp) WHERE cid < $kExpr)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""${p}a$t AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT s.vec_id, s.v, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY round(list_cosine_similarity(s.v, c.cv), 4) DESC,
         |          c.cid ASC) AS rn
         |    FROM ${p}samp s CROSS JOIN ${p}cent${t - 1} c) WHERE rn = 1),
         |${p}m$t AS (SELECT cell, list(mq ORDER BY i) AS cv FROM (
         |    SELECT cell, i, floor(avg(v[i]) * 1000000.0 + 0.5) / 1000000.0 AS mq
         |    FROM ${p}a$t CROSS JOIN generate_series(1, $dims) s(i)
         |    GROUP BY cell, i) GROUP BY cell),
         |${p}cent$t AS (SELECT pr.cid, coalesce(m.cv, pr.cv) AS cv
         |  FROM ${p}cent${t - 1} pr LEFT JOIN ${p}m$t m ON m.cell = pr.cid)""".stripMargin
    }
    (Seq(samp, init) ++ rounds).mkString(",\n")
  }

  /** The PRODUCTION coarse-quantizer oracle chain (r14): both half-vector
    * k-means chains ([[kmeansCtesHalf]]) plus the q156 product-cell
    * assignment, yielding CTEs `e(vec_id, v, v1, v2)` and
    * `assigned(vec_id, v, cell)` for the composite queries (q150-q152/
    * q163/q180) to build pairs/graphs on. This replaces the flat
    * [[kmeansCtes]]+scored+assigned prefix those composites carried in
    * r13: a flat K-cell codebook costs K·dim per row to train and
    * assign, and the measured sf10 capstone spent 270.9 s in that
    * trainer; two k-cell half-codebooks span K = k² product cells for
    * k·dim work — O(√K) (VERDICT r13 next-round #1). Every step stays
    * on the oracle lattice: per-half argmax of round(cosine, 4), ties
    * to the lowest cid, product id = c1·k + c2, top-`aProbe` cells on
    * half 1 × top-1 on half 2.
    */
  private def imiProdCtes(iters: Int, sampleBuckets: Int,
      aProbe: Int): String = {
    val kSql = graft.functions.VectorSearch.scaledKHalfSql()
    s"""kdef AS (SELECT greatest(4,
       |    CAST(ceil(sqrt(count(*) / 64.0)) AS INTEGER)) AS kk
       |  FROM embeddings),
       |${kmeansCtesHalfExpr(kSql, iters, sampleBuckets, lo = 1, dims = 32, p = "h1")},
       |${kmeansCtesHalfExpr(kSql, iters, sampleBuckets, lo = 33, dims = 32, p = "h2")},
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS v1,
       |    list_transform(embedding[33:64], x -> CAST(x AS DOUBLE)) AS v2
       |  FROM embeddings),
       |s1 AS (SELECT e.vec_id, c.cid,
       |    round(list_cosine_similarity(e.v1, c.cv), 4) AS sim
       |  FROM e CROSS JOIN h1cent$iters c),
       |a1 AS (SELECT vec_id, cid AS c1 FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, cid ASC) AS rn
       |    FROM s1) WHERE rn <= $aProbe),
       |s2 AS (SELECT e.vec_id, c.cid,
       |    round(list_cosine_similarity(e.v2, c.cv), 4) AS sim
       |  FROM e CROSS JOIN h2cent$iters c),
       |a2 AS (SELECT vec_id, cid AS c2 FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, cid ASC) AS rn
       |    FROM s2) WHERE rn = 1),
       |assigned AS (SELECT e.vec_id, e.v, a1.c1 * kd.kk + a2.c2 AS cell
       |  FROM e JOIN a1 ON a1.vec_id = e.vec_id
       |  JOIN a2 ON a2.vec_id = e.vec_id
       |  CROSS JOIN kdef kd)""".stripMargin
  }

  /** The r15 PRODUCTION coarse-quantizer oracle chain — [[imiProdCtes]]
    * with the two VERDICT r14 dials composed:
    *
    *  1. DYNAMIC k: `kdef` derives the per-half codebook size from the
    *     corpus count (kk = max(4, ceil(sqrt(n/64))) — product cells
    *     K = kk² grow ∝ n, holding average cell occupancy ~64, so the
    *     within-cell pair space stays ~linear in n; the frozen k=16 made
    *     cells grow ~n² at 100 TB). Replays
    *     `VectorSearch.scaledKHalf` exactly — both engines run
    *     ceil(sqrt()) on IEEE doubles.
    *  2. MARGIN-GATED SYMMETRIC MULTI-PROBE: each half keeps its top-1
    *     cell always, plus ranks 2..`cap` while best − sim <= `margin`
    *     (the identical subtraction `IvfTopCellsMargin` evaluates), and
    *     the product explodes BOTH halves' gated sets — the recall
    *     compensation for the half-space partition loss (the old
    *     top-2×top-1 schedule found 44-65 % of the flat quantizer's
    *     pairs; this face measures 95-109 % at equal cell count,
    *     VectorSearchSpec pin).
    *
    * Yields `kdef(kk)`, `e(vec_id, v, v1, v2)`, `s1/s2` (scored halves)
    * and `assigned(vec_id, v, cell)`.
    */
  private def imiProdCtesMp(
      iters: Int, sampleBuckets: Int, cap: Int, margin: String): String = {
    def gated(p: String, src: String, cname: String) =
      s"""$p AS (SELECT vec_id, cid AS $cname FROM (
         |    SELECT vec_id, cid, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn,
         |      max(sim) OVER (PARTITION BY vec_id) AS best
         |    FROM $src) WHERE rn = 1 OR (rn <= $cap AND best - sim <= $margin))""".stripMargin
    val kSql = graft.functions.VectorSearch.scaledKHalfSql()
    s"""kdef AS (SELECT greatest(4,
       |    CAST(ceil(sqrt(count(*) / 64.0)) AS INTEGER)) AS kk
       |  FROM embeddings),
       |${kmeansCtesHalfExpr(kSql, iters, sampleBuckets, lo = 1, dims = 32, p = "h1")},
       |${kmeansCtesHalfExpr(kSql, iters, sampleBuckets, lo = 33, dims = 32, p = "h2")},
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS v1,
       |    list_transform(embedding[33:64], x -> CAST(x AS DOUBLE)) AS v2
       |  FROM embeddings),
       |s1 AS (SELECT e.vec_id, c.cid,
       |    round(list_cosine_similarity(e.v1, c.cv), 4) AS sim
       |  FROM e CROSS JOIN h1cent$iters c),
       |${gated("a1", "s1", "c1")},
       |s2 AS (SELECT e.vec_id, c.cid,
       |    round(list_cosine_similarity(e.v2, c.cv), 4) AS sim
       |  FROM e CROSS JOIN h2cent$iters c),
       |${gated("a2", "s2", "c2")},
       |assigned AS (SELECT e.vec_id, e.v, a1.c1 * kd.kk + a2.c2 AS cell
       |  FROM e JOIN a1 ON a1.vec_id = e.vec_id
       |  JOIN a2 ON a2.vec_id = e.vec_id
       |  CROSS JOIN kdef kd)""".stripMargin
  }

  /** The production dials, ONE definition per family so every
    * composite call site and its oracle literal stay in lockstep.
    * PAIRS (dedup — recall-critical): cap 4 / margin 0.2 (r16, VERDICT
    * r15 #1) — measured 99.2 % of the flat quantizer's thresholded
    * pairs at sf10 at equal cell count (13.10M/13.2M pairs, 74 s total
    * vs flat's 290 — 3.9× cheaper), vs 87 % at the r15 cap-3 dial,
    * which sat under the ≥~90 % done-criterion and silently kept ~13 %
    * of near-dups in every release built on the capstone. Recall is the
    * product these composites sell; the 2.3× pair-stage premium over
    * cap 3 is the price of not shipping under-deduped releases. GRAPH
    * (kNN-for-centrality — cost-critical): cap 2 / margin 0.1 — a
    * node's top-5 within slightly fewer probed cells is a
    * quality-neutral approximation for PageRank mass flow, and it holds
    * q151's sf10 edge build at ~10 s vs 30-44 s at the pairs dial (and
    * 67 s frozen-K r14).
    */
  private val MpCap = 4
  private val MpMargin = 0.2
  private val GraphCap = 2
  private val GraphMargin = 0.1

  /** DuckDB CTE chain for q129's fixed-iteration PageRank: expects
    * `knn(src, nbr)`, `deg(src, outdeg)`, `n(nn)`, `pr0(node, pr)` to be
    * in scope; yields `pr1..pr{iters}`. Mirrors the Spark loop exactly —
    * dangling mass dropped, damping 0.85, every iteration rounded to 8
    * decimals so both engines walk the same value lattice.
    */
  private def pagerankCtes(iters: Int): String =
    (1 to iters).map { i =>
      // r14: per-edge contributions on the INTEGER e12 lattice
      // (floor(pr_e8 · 1e4 / outdeg), summed as BIGINT) — an exact,
      // association-order-independent sum, replaying PageRank.run's
      // integer-lattice aggregate so no float-sum straddle can diverge
      // the engines at an 8-decimal rounding boundary
      s"""it$i AS (SELECT k.nbr AS node,
         |    sum((CAST(round(p.pr * 100000000) AS BIGINT) * 10000)
         |      // d.outdeg) AS m
         |  FROM knn k JOIN pr${i - 1} p ON p.node = k.src
         |  JOIN deg d ON d.src = k.src GROUP BY k.nbr),
         |pr$i AS (SELECT p.node,
         |    round(0.15 / n.nn
         |      + 0.85 * (coalesce(it$i.m, 0) / 1000000000000.0), 8) AS pr
         |  FROM pr${i - 1} p CROSS JOIN n
         |  LEFT JOIN it$i ON it$i.node = p.node)""".stripMargin
    }.mkString(",\n")

  /** DuckDB CTE chain reproducing VectorSearch.trainPqCodebook: per-
    * subspace Lloyd rounds over the shared `samp`, initialized from the
    * first k sample vectors' slices. Yields `pcent0..pcent{iters}` with
    * one row per (subspace b, center cid) carrying the 8-dim `cv8`.
    */
  private def pqTrainCtes(k: Int, iters: Int): String = {
    val init =
      s"""${centInitCte(k, "pqinit")},
         |pcent0 AS (SELECT bb.b, cid, list_transform(generate_series(1, 8),
         |    i -> cv[8 * bb.b + i]) AS cv8
         |  FROM pqinit CROSS JOIN generate_series(0, 7) bb(b))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""pa$t AS (SELECT vec_id, v, b, cid AS cell FROM (
         |    SELECT s.vec_id, s.v, c.b, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, c.b
         |        ORDER BY round(list_reduce(list_transform(generate_series(1, 8),
         |          i -> (s.v[8 * c.b + i] - c.cv8[i])
         |             * (s.v[8 * c.b + i] - c.cv8[i])),
         |          (x, y) -> x + y), 4) ASC, c.cid ASC) AS rn
         |    FROM samp s CROSS JOIN pcent${t - 1} c) WHERE rn = 1),
         |pm$t AS (SELECT b, cell, list(mq ORDER BY i) AS cv8 FROM (
         |    SELECT a.b, a.cell, i.i,
         |      floor(avg(a.v[8 * a.b + i.i]) * 1000000.0 + 0.5) / 1000000.0 AS mq
         |    FROM pa$t a CROSS JOIN generate_series(1, 8) i(i)
         |    GROUP BY a.b, a.cell, i.i) GROUP BY b, cell),
         |pcent$t AS (SELECT p.b, p.cid, coalesce(m.cv8, p.cv8) AS cv8
         |  FROM pcent${t - 1} p LEFT JOIN pm$t m ON m.b = p.b AND m.cell = p.cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup on whitespace-normalized text: sha256 digest, keep the
    // lowest doc_id per digest. One shuffle hash-partitioned by digest;
    // at 100 TB this is the canonical first dedup pass (no all-pairs).
    QueryDef.sql(
      // Liveness (r13): the corpus itself has zero duplicate digests
      // (measured), so without injection every group had dups=1 and a
      // broken keep-first filter would produce identical output. Every
      // 10th doc is re-submitted under a shifted id (the q119/q99
      // augmentation precedent): those groups now carry dups=2 with the
      // ORIGINAL id as keeper, so the window rank and the group count
      // are both load-bearing in the hash.
      "q40_dedup_exact_norm",
      """WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS keeper, digest, CAST(count(*) AS BIGINT) AS dups
        |FROM (SELECT doc_id,
        |        sha256(lower(trim(regexp_replace(text,'\s+',' ','g')))) AS digest
        |      FROM aug) d
        |GROUP BY digest
        |ORDER BY keeper ASC""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val aug = base.unionAll(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val d = aug.withColumn("digest", sha2(TF.normalizeText(col("text")), 256))
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id").asc)
      d.withColumn("rn", row_number().over(w))
        .withColumn("dups", count(lit(1)).over(Window.partitionBy(col("digest"))))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("keeper"), col("digest"), col("dups"))
        .orderBy(col("keeper").asc)
    },

    // ------------------------------------------------------------------
    // Brute-force cosine top-k for a fixed probe vector. The probe side is
    // a 1-row broadcast; the corpus streams through narrow expressions and
    // TakeOrdered keeps only k rows — works unchanged at any corpus size.
    QueryDef.sql(
      "q41_cosine_topk",
      """WITH p AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
        |           FROM embeddings WHERE vec_id = 1),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings WHERE vec_id <> 1)
        |SELECT vec_id, round(list_cosine_similarity(v, pv), 4) AS cosine
        |FROM e, p
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val probe = broadcast(e.filter(col("vec_id") === 1)
        .select(col("embedding").as("pv")))
      e.filter(col("vec_id") =!= 1)
        .crossJoin(probe)
        .select(col("vec_id"),
          round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    },

    // ------------------------------------------------------------------
    // MinHash + LSH near-dup candidates: word-3-shingles → 16 minhash
    // signatures → 4 bands of 4 → bucket join. The only shuffle is the
    // groupBy on (band, band_hash): candidate generation is O(n·bands),
    // never O(n²) — the 100 TB dedup path. ONE md5 per shingle yields a
    // 60-bit base hash; the 16 signature functions are affine permutations
    // (a_j·h + b_j) mod p of that base — integer arithmetic both engines
    // reproduce exactly → full hash-equality oracle at 1/16th the digest
    // cost of seeded-md5-per-signature.
    QueryDef.sql(
      "q42_dedup_minhash_lsh", {
        val sigSelects = (0 until 16)
          .map(j => s"min((${MinhashParams.a(j)} * h + ${MinhashParams.b(j)}) " +
            s"% ${MinhashParams.p}) AS s$j").mkString(", ")
        val bandSelects = (0 until 4).map { b =>
          val cols = (0 until 4).map(i => s"s${b * 4 + i}").mkString(", ")
          s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bh FROM sig"
        }.mkString("\nUNION ALL ")
        s"""WITH t AS (SELECT doc_id,
           |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+') AS toks
           |  FROM documents),
           |ex0 AS (SELECT doc_id,
           |    unnest(list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
           |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
           |  FROM t),
           |ex AS (SELECT doc_id,
           |    ('0x' || substr(md5(sh), 18, 15))::BIGINT % ${MinhashParams.p} AS h
           |  FROM ex0),
           |sig AS (SELECT doc_id, $sigSelects FROM ex GROUP BY doc_id),
           |bands AS ($bandSelects)
           |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |FROM bands x JOIN bands y
           |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
           |ORDER BY doc_a ASC, doc_b ASC""".stripMargin
      }) { (s, dir) =>
      // The signature is a PER-DOCUMENT quantity, so it is computed
      // row-locally by the native MinhashSignatures kernel (one tight
      // md5+affine-min loop per doc, no interpreted lambda dispatch) —
      // no (doc, shingle) explode, no groupBy(doc) exchange. The first
      // shuffle in the pipeline is the band-bucket join below, the one
      // that actually moves information. r5's explode + map-side-min
      // formulation remains valid but pays a full extra exchange for
      // state the row already owns.
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val sigArr = NE.minhashSigs(toks,
        (0 until 16).map(MinhashParams.a), (0 until 16).map(MinhashParams.b),
        MinhashParams.p)
      val sigs = Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), sigArr.as("sig"))
        .select(col("doc_id") +: (0 until 16).map(j =>
          element_at(col("sig"), j + 1).as(s"s$j")): _*)
      val bands = (0 until 4).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|",
            (0 until 4).map(i => col(s"s${b * 4 + i}").cast("string")): _*)).as("bh")))
      val withSig = sigs
        .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      // bucket join: docs sharing any band hash become candidate pairs
      withSig.groupBy(col("band"), col("bh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(expr(
          "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), b -> struct(a, b))))"))
          .as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .distinct()
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // ------------------------------------------------------------------
    // SimHash near-dup: 32-bit simhash over token hashes; pairs at hamming
    // distance <= 6 among doc_id < 200. The simhash itself is a narrow
    // shuffle-free expression (the scale path groups by simhash prefix
    // bands, same LSH idea as q42); the pair scan here is a bounded slice.
    // Token hash = low 60 bits of md5 — both engines derive the identical
    // integer, so this is a full hash-equality oracle.
    QueryDef.sql(
      "q43_dedup_simhash", {
        val simExpr = (0 until 32).map { i =>
          s"""(CASE WHEN list_reduce(list_transform(th,
             |    h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END),
             |    (a, b) -> a + b) > 0 THEN ${1L << i} ELSE 0 END)""".stripMargin
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id,
           |    list_transform(
           |      string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'),
           |      tk -> ('0x' || substr(md5(tk), 18, 15))::BIGINT) AS th
           |  FROM documents WHERE doc_id < 200),
           |s AS (SELECT doc_id, $simExpr AS simhash FROM t)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM s a JOIN s b
           |  ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY doc_a ASC, doc_b ASC""".stripMargin
      }) { (s, dir) =>
      val toks = TF.tokens(TF.normalizeText(col("text")))
      // low 60 bits of md5 as a non-negative long (conv parses hex)
      val th = transform(toks, tk =>
        conv(substring(md5(tk), 18, 15), 16, 10).cast("long"))
      val bitSums: Seq[Column] = (0 until 32).map { i =>
        aggregate(col("th"), lit(0L), (acc, h) =>
          acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
            .otherwise(lit(-1L)))
      }
      val base = Tables.spread(s, docs(s, dir).filter(col("doc_id") < 200))
        .select(col("doc_id"), th.as("th"))
      val sim = bitSums.zipWithIndex.map { case (b, i) =>
        when(b > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
      val d = base.select(col("doc_id"), sim.as("simhash"))
      val a = d.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
      val b = d.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // ------------------------------------------------------------------
    // n-gram (unigram-set) Jaccard similarity over a bounded slice —
    // exact verification layer for the LSH candidates. DuckDB-checkable
    // because both engines use plain set algebra (no hashing).
    QueryDef.sql(
      "q44_jaccard_neardup",
      """WITH t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS s
        |  FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.9
        |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_distinct(TF.tokens(lower(trim(col("text"))))).as("s"))
      // spread the stream side: the per-pair set algebra parallelizes
      // instead of inheriting the scan's single local split
      val a = Tables.spread(s, d).select(col("doc_id").as("doc_a"), col("s").as("sa"))
      val b = d.select(col("doc_id").as("doc_b"), col("s").as("sb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double")
            / size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.9)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup pairs above a threshold. Exact all-pairs
    // formulation for the oracle; the 100 TB path is q47's LSH buckets
    // (this plan broadcasts one side so there is still no shuffle).
    QueryDef.sql(
      "q45_neardup_embedding",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
        |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      // Native codegen dot product + norms PREcomputed per row (n, not n²,
      // norm evaluations): the per-pair cost inside the nested-loop join is
      // one tight primitive loop, so the scan is compute-bound.
      val e = emb(s, dir)
      // spread the STREAM side: the n² dot-product loop parallelizes across
      // all cores instead of inheriting the scan's single local split
      val a = Tables.spread(s, e).select(col("vec_id").as("id_a"),
        col("embedding").as("va"), NE.vectorL2Norm(col("embedding")).as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        NE.vectorL2Norm(col("embedding")).as("nb"))
      a.crossJoin(broadcast(b))
        .select(col("id_a"), col("id_b"),
          round(NE.vectorDot(col("va"), col("vb"))
            / (col("na") * col("nb")), 4).as("cosine"))
        // cheap predicate FIRST: the AND short-circuits inside the join
        // condition, skipping the dot product for the id_a >= id_b half
        .filter(col("id_a") < col("id_b") && col("cosine") >= 0.4)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // Multi-probe brute-force ANN: top-3 neighbors for each probe
    // (vec_id < 5). Probes broadcast; one window pass partitioned by probe.
    QueryDef.sql(
      "q46_ann_bruteforce",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT p.pid, e.vec_id,
        |    round(list_cosine_similarity(e.v, p.pv), 4) AS cosine
        |  FROM e JOIN p ON e.vec_id <> p.pid),
        |ranked AS (
        |  SELECT pid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY cosine DESC, vec_id ASC) AS rnk
        |  FROM scored)
        |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
        |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val p = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("pid"), col("embedding").as("pv")))
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
      e.join(p, col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          round(NE.vectorCosine(col("embedding"), col("pv")), 4).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("pid"), col("rnk"), col("vec_id"), col("cosine"))
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // LSH-bucketed ANN (the scale path): 8 deterministic sign-projection
    // hyperplanes → 256 buckets; neighbor search only touches the probe's
    // bucket. Bucket assignment is a narrow expression; the search is a
    // broadcast join against one bucket — at 100 TB candidates shrink by
    // ~256× vs brute force. The md5-derived sign matrix is embedded as
    // literals in both plans → full hash-equality oracle.
    QueryDef.sql(
      "q47_ann_lsh_buckets",
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, ${bucketSqlExpr(8)} AS bucket FROM e)
         |SELECT bucket, count(*) AS n, min(vec_id) AS min_id
         |FROM b GROUP BY bucket ORDER BY bucket ASC""".stripMargin) { (s, dir) =>
      embD(s, dir)
        .select(col("vec_id"),
          graft.functions.VectorSearch.signBucket(col("v"), 8, 64).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"),
          min(col("vec_id")).as("min_id"))
        .orderBy(col("bucket").asc)
    },

    // ------------------------------------------------------------------
    // LSH-bucketed top-k search (the production ANN path): probes scan
    // only their own bucket + Hamming-1 neighbours (~12% of the corpus at
    // 6 planes) instead of everything. Recall vs brute force is asserted
    // in VectorSearchSpec; the oracle reproduces buckets, multi-probe
    // candidate sets, and the final ranking exactly.
    QueryDef.sql(
      "q52_ann_lsh_search", {
        val masks = graft.functions.VectorSearch.probeMasks(6, 2)
          .map(m => s"xor(bucket, $m)").mkString(", ")
        s"""WITH e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |b AS (SELECT vec_id, v, ${bucketSqlExpr(6)} AS bucket FROM e),
           |p AS (SELECT vec_id AS pid, v AS pv,
           |    unnest([$masks]) AS bucket
           |  FROM b WHERE vec_id < 5),
           |cand AS (SELECT p.pid, e.vec_id,
           |    round(list_cosine_similarity(e.v, p.pv), 4) AS cosine
           |  FROM b e JOIN p ON e.bucket = p.bucket AND e.vec_id <> p.pid),
           |ranked AS (SELECT pid, vec_id, cosine,
           |    row_number() OVER (PARTITION BY pid
           |      ORDER BY cosine DESC, vec_id ASC) AS rnk
           |  FROM cand)
           |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
           |ORDER BY pid ASC, rnk ASC""".stripMargin
      }) { (s, dir) =>
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      graft.functions.VectorSearch
        .lshTopK(e, e.filter(col("vec_id") < 5), k = 3)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // IVF ANN (inverted-file, the other scale path besides LSH): vectors
    // binned by nearest of 8 coarse centroids (vec_id < 8 as the
    // deterministic codebook); probes scan only their 2 nearest cells.
    // Assignment is a narrow argmax over broadcast-literal centroids (no
    // shuffle); at 100 TB the assigned table is bucketed by cell so the
    // probe join is a pruned scan. 4-decimal rounding + lowest-cid ties
    // make the argmax reproducible in DuckDB → full hash oracle.
    QueryDef.sql(
      "q59_ann_ivf",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (SELECT e.vec_id, e.v, c.cid,
        |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim FROM e, c),
        |assigned AS (SELECT vec_id, v, cid AS cell FROM (
        |    SELECT vec_id, v, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, cid ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |pcells AS (SELECT pid, cell FROM (
        |    SELECT vec_id AS pid, cid AS cell,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, cid ASC) AS rn
        |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
        |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
        |cand AS (SELECT pc.pid, a.vec_id,
        |    round(list_cosine_similarity(a.v, p.pv), 4) AS cosine
        |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
        |  JOIN p ON p.pid = pc.pid AND a.vec_id <> p.pid),
        |ranked AS (SELECT pid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY cosine DESC, vec_id ASC) AS rnk
        |  FROM cand)
        |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
        |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
      graft.functions.VectorSearch
        .ivfTopK(e, e.filter(col("vec_id") < 5), k = 3, cents, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // Per-document text statistics: token counts, subword (BPE-ish) counts,
    // character-class ratios, stopword ratio, mean token length, composite
    // quality score. Pure narrow expressions — a single pass at any scale.
    QueryDef.sql(
      "q48_text_stats",
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_subwords,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / length(text) END, 4) AS alpha_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(list_transform(toks, x -> lower(x)),
        |        x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
        |      AS DOUBLE) / len(toks) END, 4) AS stop_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(list_reduce(list_transform(toks,
        |        x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
        |      / len(toks) END, 4) AS mean_tok_len
        |FROM t ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.subwordCount(col("text")).as("n_subwords"),
          round(TF.alphaRatio(col("text")), 4).as("alpha_ratio"),
          round(TF.stopwordRatio(col("text")), 4).as("stop_ratio"),
          round(TF.meanTokenLen(col("text")), 4).as("mean_tok_len"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // Language identification: profile-word voting with deterministic
    // (hits, lang)-max tie-break, identical struct ordering in both engines.
    QueryDef.sql(
      "q49_lang_id",
      s"""WITH t AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, $LangVoteSql AS best FROM t)
         |SELECT CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS pred,
         |  count(*) AS n
         |FROM s GROUP BY pred ORDER BY pred ASC""".stripMargin) { (s, dir) =>
      Tables.spread(s, docs(s, dir))
        .select(TF.languageId(col("text")).as("pred"))
        .groupBy(col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("pred").asc)
    },

    // ------------------------------------------------------------------
    // LANG-ID AGREEMENT MATRIX (r13) — how far should the corpus's
    // DECLARED language metadata be trusted? Cross-tabulate the stored
    // `lang` column against the content-based q49 detector: per
    // (declared, detected) cell, count + share of the declared language
    // — the confusion matrix that decides whether downstream per-lang
    // routing (mixture weights, tokenizer choice, quality thresholds)
    // can key on metadata or must key on detection. On the synthetic
    // word-soup corpus the detector reads mostly non-declared values —
    // exactly the disagreement the audit exists to surface. Scale
    // shape: one narrow codegen'd detection pass, one map-side-combined
    // agg to (langs x preds) cells, per-lang totals joined on the tiny
    // cell table.
    QueryDef.sql(
      "q165_langid_agreement",
      s"""WITH t AS (SELECT lang,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |s AS (SELECT lang, $LangVoteSql AS best FROM t),
         |p AS (SELECT lang,
         |    CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS pred
         |  FROM s),
         |c AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred),
         |tl AS (SELECT lang, sum(n) AS tot FROM c GROUP BY lang)
         |SELECT c.lang, c.pred, CAST(c.n AS BIGINT) AS n,
         |  round(CAST(c.n AS DOUBLE) / tl.tot, 4) AS share,
         |  (c.lang = c.pred) AS agree
         |FROM c JOIN tl USING (lang)
         |ORDER BY c.lang ASC, c.pred ASC""".stripMargin) { (s, dir) =>
      val p = Tables.spread(s, docs(s, dir))
        .select(col("lang"), TF.languageId(col("text")).as("pred"))
      val c = p.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      val tl = c.groupBy(col("lang")).agg(sum(col("n")).as("tot"))
      c.join(tl, Seq("lang"))
        .select(col("lang"), col("pred"), col("n"),
          round(col("n").cast("double") / col("tot"), 4).as("share"),
          (col("lang") === col("pred")).as("agree"))
        .orderBy(col("lang").asc, col("pred").asc)
    },

    // ------------------------------------------------------------------
    // Winnowing-style document fingerprints: the 8 lexicographically
    // smallest md5 window digests, joined to one scalar string — both
    // engines derive the identical value (full oracle).
    QueryDef.sql(
      "q50_fingerprint",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents WHERE doc_id < 50),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
        |      i -> md5(array_to_string(toks[i+1:i+3], ' '))) AS grams
        |  FROM t)
        |SELECT doc_id, array_to_string(list_sort(grams)[1:8], ',') AS fp
        |FROM g ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          array_join(TF.fingerprint(col("text")), ",").as("fp"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // Vocabulary frequency stats: top-20 tokens corpus-wide. explode +
    // hash agg with map-side combine — the shuffle carries one row per
    // distinct token per partition, not per occurrence.
    QueryDef.sql(
      "q53_vocab_topk",
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |      FROM documents)
        |WHERE length(tok) > 0
        |GROUP BY tok
        |ORDER BY n DESC, tok ASC LIMIT 20""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(TF.tokens(lower(trim(col("text"))))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(20)
    },

    // ------------------------------------------------------------------
    // Quality filter: the standard "drop low-quality docs" pass — count
    // survivors per source above a quality threshold. Narrow filter +
    // small agg; at 100 TB this is one streaming pass.
    QueryDef.sql(
      "q54_quality_filter",
      """WITH q AS (SELECT source,
        |    (least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0)
        |     + least((CASE WHEN len(string_split_regex(trim(text),'\s+')) = 0
        |        THEN 0.0 ELSE CAST(len(list_filter(
        |            list_transform(string_split_regex(trim(text),'\s+'), x -> lower(x)),
        |            x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
        |          AS DOUBLE) / len(string_split_regex(trim(text),'\s+')) END) * 4.0, 1.0)
        |     + (CASE WHEN length(text) = 0 THEN 0.0
        |        ELSE CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)
        |          / length(text) END)) / 3.0 AS q
        |  FROM documents)
        |SELECT source, count(*) AS n_kept
        |FROM q WHERE round(q, 4) >= 0.5
        |GROUP BY source ORDER BY source ASC""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .withColumn("q", TF.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc)
    },

    // ------------------------------------------------------------------
    // Corpus-level token accounting by (table) language — the bookkeeping
    // query every training-data pipeline runs. Map-side partial agg; the
    // shuffle moves one row per language.
    QueryDef.sql(
      "q51_token_accounting",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang ASC""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang").asc)
    },

    // ------------------------------------------------------------------
    // Dedup CLUSTERS: connected components over the q44 Jaccard candidate
    // pairs, assigning every doc its cluster's canonical (minimum) doc_id.
    // This is the transitive-closure step the pair queries (q42-q45) stop
    // short of — A~B and B~C must dedup as ONE cluster {A,B,C}. The
    // engine runs iterative min-label propagation with pointer jumping
    // (operators/ConnectedComponents.scala, O(log n) rounds, lineage
    // truncated per round); the oracle resolves the same closure with a
    // recursive CTE. Docs in no pair are their own singleton cluster.
    QueryDef.sql(
      "q93_dedup_clusters",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS s
        |  FROM documents WHERE doc_id < 100),
        |e AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.9),
        |und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(node, lbl) AS (
        |  SELECT a AS node, a AS lbl FROM und
        |  UNION
        |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
        |  (coalesce(c.component, d.doc_id) = d.doc_id) AS is_canonical
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
        |LEFT JOIN comp c ON d.doc_id = c.node
        |ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_distinct(TF.tokens(lower(trim(col("text"))))).as("s"))
      val a = Tables.spread(s, d).select(col("doc_id").as("a"), col("s").as("sa"))
      val b = d.select(col("doc_id").as("b"), col("s").as("sb"))
      val edges = a.join(b, col("a") < col("b"))
        .select(col("a"), col("b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double")
            / size(array_union(col("sa"), col("sb"))), 4).as("j"))
        .filter(col("j") >= 0.9)
        .select(col("a"), col("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "doc_id")
      docs(s, dir).filter(col("doc_id") < 100).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("is_canonical", col("component") === col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // Boilerplate n-gram mining (C4-style corpus hygiene): 3-grams that
    // recur across many DISTINCT documents are template/boilerplate text
    // to strip before training. Explode → per-gram (distinct-doc count,
    // occurrence count) in one hash agg pass, hash-partitioned by gram —
    // the shuffle moves one row per (partition, gram), never all text.
    // Total order: doc_freq desc, occurrences desc, then the gram itself
    // (unique per row). Documents shorter than the gram size contribute
    // nothing: DuckDB's generate_series(0, len-3) is empty when len < 3,
    // and the native word_ngrams kernel yields an EMPTY array for docs
    // shorter than n — without that a 2-token doc would emit its 2-gram
    // as a fake "3-gram".
    QueryDef.sql(
      "q95_boilerplate_ngrams",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
        |  FROM t)
        |SELECT gram, count(DISTINCT doc_id) AS doc_freq, count(*) AS occurrences
        |FROM ex GROUP BY gram HAVING count(DISTINCT doc_id) >= 5
        |ORDER BY doc_freq DESC, occurrences DESC, gram ASC
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val toks = TF.tokens(TF.normalizeText(col("text")))
      Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(NE.wordNgrams(toks, 3)).as("gram"))
        .groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"),
          count(lit(1)).as("occurrences"))
        .filter(col("doc_freq") >= 5)
        .orderBy(col("doc_freq").desc, col("occurrences").desc, col("gram").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // Within-document repetition filter (Gopher-style quality rule): the
    // fraction of duplicate 2-grams inside each document. Stated as
    // explode → per-doc (count, count DISTINCT) agg so the gram chain
    // (normalize → tokenize → shingle) is evaluated ONCE per row — the
    // r5 array formulation let Catalyst's CollapseProject / filter
    // pushdown inline the gram array into every reference, recomputing
    // the interpreted higher-order chain ~6× per row (VERDICT r5 #1,
    // 18.7s for 5k rows). The shuffle is keyed by doc_id with map-side
    // partial agg — one row per (partition, doc, gram) moves, never the
    // text, and a hot doc collapses map-side. Docs shorter than 2 tokens
    // have no 2-grams (empty guard both sides) — they could never pass
    // the rep >= 0.10 filter anyway. Fixed-point floor(x·10^4 + 0.5)
    // instead of round(): both engines floor the identical exact double,
    // so ties cannot break differently.
    QueryDef.sql(
      "q96_repetition_filter",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 2),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS gram
        |  FROM t),
        |a AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
        |  FROM ex GROUP BY doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_grams)
        |    * 10000.0 + 0.5) AS BIGINT) AS rep_e4
        |FROM a
        |WHERE (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) >= 0.10
        |ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val rep = lit(1.0) - col("n_distinct").cast("double") / col("n_grams")
      Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(NE.wordNgrams(toks, 2)).as("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("gram")).as("n_distinct"))
        .filter(rep >= 0.10)
        .select(col("doc_id"),
          col("n_grams").cast("long").as("n_grams"),
          col("n_distinct").cast("long").as("n_distinct"),
          floor(rep * 10000.0 + 0.5).cast("long").as("rep_e4"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // Benchmark-contamination scan: count distinct shared 3-grams between
    // every corpus document and a small probe set (doc_id < 10 stands in
    // for an eval benchmark). The probe side's exploded distinct grams are
    // BROADCAST — at 100 TB the corpus streams through one narrow join +
    // one hash agg keyed by (corpus doc, probe doc); no corpus-side
    // all-pairs ever forms.
    QueryDef.sql(
      "q97_contamination_scan",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
        |  FROM t),
        |p AS (SELECT doc_id AS probe_id, gram FROM ex WHERE doc_id < 10),
        |c AS (SELECT doc_id, gram FROM ex WHERE doc_id >= 10)
        |SELECT c.doc_id, p.probe_id, count(*) AS n_shared
        |FROM c JOIN p USING (gram)
        |GROUP BY c.doc_id, p.probe_id HAVING count(*) >= 2
        |ORDER BY n_shared DESC, doc_id ASC, probe_id ASC
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val exploded = Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(NE.wordNgrams(toks, 3)).as("gram"))
        .distinct()
      val probes = broadcast(
        exploded.filter(col("doc_id") < 10)
          .withColumnRenamed("doc_id", "probe_id"))
      exploded.filter(col("doc_id") >= 10)
        .join(probes, Seq("gram"))
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("n_shared").desc, col("doc_id").asc, col("probe_id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // Incremental dedup against historical state: a real crawl pipeline
    // dedups each NEW slice against the digest store of everything
    // already ingested, not only against itself. The store is PERSISTED
    // BUCKETED by digest — the distribution shuffle is paid once at
    // ingest — and the incoming slice is written through the same layout,
    // so the anti-join plans with NO exchange on either side
    // (BucketedJoinSpec pins the zero-shuffle property). At 100 TB the
    // store is append-only and the per-slice cost is one bucketed write
    // of the slice + a co-located anti-join; the corpus is never
    // re-shuffled. Split rule here: even doc_ids = history, odd = new.
    QueryDef.sql(
      // The synthetic corpus has ZERO duplicate digests (measured:
      // every doc content-unique), so splitting it alone would leave
      // the anti-join verdict untested by data — every incoming row
      // would survive whether or not the dedup works. The incoming
      // batch therefore carries deterministic REPLAYS of history docs
      // (the q119 augmentation precedent): every 10th history doc
      // re-submitted under a shifted id. A broken history join would
      // leak those replays into the output and fail the hash.
      "q99_dedup_incremental",
      """WITH d AS (SELECT doc_id,
        |    sha256(lower(trim(regexp_replace(text,'\s+',' ','g')))) AS digest
        |  FROM documents),
        |inc AS (SELECT doc_id, digest FROM d WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, digest FROM d
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0)
        |SELECT n.doc_id, n.digest
        |FROM inc n
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d h WHERE h.doc_id % 2 = 0 AND h.digest = n.digest)
        |ORDER BY n.doc_id ASC""".stripMargin) { (s, dir) =>
      import graft.operators.Layout
      // r19: materialized — the history write, and both union legs of the
      // incoming write, each re-ran the normalize+sha2 pass over the
      // corpus (3 evaluations of the same subtree)
      val d = Tables.spread(s, docs(s, dir))
        .withColumn("digest", sha2(TF.normalizeText(col("text")), 256))
        .select(col("doc_id"), col("digest"))
        .localCheckpoint()
      val db = "graft_dedup_store"
      freshDb(s, db,
        s"${System.getProperty("java.io.tmpdir")}/graft_dedup_store_db")
      val incoming = d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("digest"))
        .unionAll(d
          .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("digest")))
      Layout.writeBucketed(
        d.filter(col("doc_id") % 2 === 0).select(col("digest")).distinct(),
        s"$db.history_digests", "digest", 16, Seq("digest"))
      Layout.writeBucketed(incoming,
        s"$db.incoming_docs", "digest", 16, Seq("digest"))
      s.table(s"$db.incoming_docs")
        .join(s.table(s"$db.history_digests"), Seq("digest"), "left_anti")
        .select(col("doc_id"), col("digest"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // TRAINED IVF index (upgrades the q59 plan-shape demo to a real
    // index): seeded deterministic k-means over the md5-sampled subset
    // (3 Lloyd rounds, 1e-6-quantized means — VectorSearch
    // .trainIvfCodebook), the full corpus assigned and PERSISTED BUCKETED
    // BY CELL, probes pushed as a literal cell IN-filter so the index
    // scan reads only the probed cells' buckets (bucket pruning pinned in
    // PlanAuditSpec). The oracle replays the identical training
    // iterations as chained CTEs. At 100 TB: training touches only the
    // sample, the index write is the once-paid layout shuffle, and each
    // query reads nProbe/k of the corpus.
    QueryDef.sql(
      "q100_ann_ivf_trained",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
         |cand AS (SELECT pc.pid, a.vec_id,
         |    round(list_cosine_similarity(a.v, p.pv), 4) AS cosine
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  JOIN p ON p.pid = pc.pid AND a.vec_id <> p.pid),
         |ranked AS (SELECT pid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM cand)
         |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      import graft.operators.Layout
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 8, iters = 3, sampleBuckets = 3)
      val db = "graft_ivf_index"
      freshDb(s, db,
        s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_db")
      Layout.writeBucketed(
        e.withColumn("cell", VS.ivfCellD(VF.toDoubles(col("embedding")), cents)),
        s"$db.vectors", "cell", 8)
      VS.ivfTopKIndexed(s.table(s"$db.vectors"),
          e.filter(col("vec_id") < 5), k = 3, cents, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // Product quantization + ADC scan (the compression half of a 100 TB
    // vector index, companion to q100's IVF): 64-dim floats → 8
    // subspace codes against a TRAINED 16-center codebook — two per-
    // subspace Lloyd rounds under the same determinism discipline as
    // q100's coarse training (sampled-slice init, argmin round(L2²,4)
    // with lowest-id ties, 1e-6-quantized means) — 32× smaller, searched
    // WITHOUT decoding: the probe's distance to a corpus vector is the
    // sum of its 4-decimal-rounded distances to the coded centers. The
    // scan side carries 8 small ints per vector; trained-vs-sampled
    // ranking quality is asserted in VectorSearchSpec. DuckDB replays
    // training, assignment, and ADC sums CTE-for-CTE.
    QueryDef.sql(
      "q103_ann_pq_adc",
      s"""WITH ${sampCte(3)},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
         |terms AS (SELECT p.pid, codes.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM codes JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  CROSS JOIN p
         |  WHERE codes.vec_id <> p.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT pid, rnk, vec_id, adc_dist FROM ranked WHERE rnk <= 10
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cb = VS.trainPqCodebook(e, subspaces = 8, k = 16, iters = 2)
      VS.pqAdcTopK(e, e.filter(col("vec_id") < 5), k = 10, cb)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // IVF-PQ: the composed index every 100 TB vector deployment actually
    // runs — q100's trained coarse cells pick WHERE to look (bucket-
    // pruned scan of nProbe cells), q103's PQ codes decide the RANKING
    // (ADC against probe-side tables). The stored index is (cell, codes):
    // ~9 small ints per vector, no raw embeddings at query time. The
    // oracle composes both training chains off one shared sample CTE.
    QueryDef.sql(
      "q104_ann_ivfpq",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
         |cand AS (SELECT pc.pid, a.vec_id
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.pid),
         |terms AS (SELECT cand.pid, cand.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  JOIN p ON p.pid = cand.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT pid, rnk, vec_id, adc_dist FROM ranked WHERE rnk <= 5
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{NativeExpressions => GNE, VectorSearch => VS}
      import graft.operators.Layout
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      // r19: shared-sample dual training (codebooks identical to the
      // solo trainers — VectorSearchSpec pin)
      val (cents, cb) = VS.trainIvfAndPq(e, coarseK = 8, coarseIters = 3,
        subspaces = 8, pqK = 16, pqIters = 2)
      val db = "graft_ivfpq_index"
      freshDb(s, db,
        s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_index_db")
      Layout.writeBucketed(
        e.select(col("vec_id"),
          VS.ivfCellD(VF.toDoubles(col("embedding")), cents).as("cell"),
          GNE.pqEncode(col("embedding"), cb).as("codes")),
        s"$db.codes", "cell", 8)
      VS.ivfPqTopK(s.table(s"$db.codes"),
          e.filter(col("vec_id") < 5), k = 5, cents, cb, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // PROBE-ONLY IVF search against the persisted AnnIndex catalog — the
    // build/probe lifecycle split (r6 VERDICT #1). AnnIndex.ensure is
    // idempotent: the first ANN probe of a session trains + persists (or
    // recovers the on-disk catalog from a previous session — external
    // bucketed tables over the same files); every later probe loads the
    // k-row codebook table and runs ONLY the pruned-scan plan. The probe
    // plan contains zero training jobs and zero aggregations
    // (PlanAuditSpec pins no HashAggregate), which is the number that
    // matters at 100 TB: the bench's min-of-two reports the probe-only
    // pass. Mirrors the reference's derive-once/read-many multiscale
    // pyramid (n5_multiscale.py:121-133). The oracle cannot read the
    // persisted index, so it replays the (deterministic) training chain.
    QueryDef.sql(
      "q105_ann_ivf_probe",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id >= 5 AND vec_id < 10) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e
         |  WHERE vec_id >= 5 AND vec_id < 10),
         |cand AS (SELECT pc.pid, a.vec_id,
         |    round(list_cosine_similarity(a.v, p.pv), 4) AS cosine
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  JOIN p ON p.pid = pc.pid AND a.vec_id <> p.pid),
         |ranked AS (SELECT pid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM cand)
         |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val snap = AnnIndex.snapshot(s, AnnIndex.ensure(s, dir))
      VS.ivfTopKIndexed(snap.vectors,
          emb(s, dir).filter(col("vec_id") >= 5 && col("vec_id") < 10),
          k = 3, snap.ivf, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // PROBE-ONLY IVF-PQ against the same persisted catalog: loads BOTH
    // codebook tables (k + subspaces×k rows), then runs the bucket-pruned
    // vector-free codes scan ranked by ADC. Together with q105 this is
    // the serving-path pair: q105 reads raw vectors from its pruned
    // cells, q106 reads 8-byte codes — the 32× narrower scan a 100 TB
    // deployment actually runs per query.
    QueryDef.sql(
      "q106_ann_ivfpq_probe",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id >= 5 AND vec_id < 10) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e
         |  WHERE vec_id >= 5 AND vec_id < 10),
         |cand AS (SELECT pc.pid, a.vec_id
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.pid),
         |terms AS (SELECT cand.pid, cand.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  JOIN p ON p.pid = cand.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT pid, rnk, vec_id, adc_dist FROM ranked WHERE rnk <= 5
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val snap = AnnIndex.snapshot(s, AnnIndex.ensure(s, dir))
      VS.ivfPqTopK(snap.codes,
          emb(s, dir).filter(col("vec_id") >= 5 && col("vec_id") < 10),
          k = 5, snap.ivf, snap.pq,
          nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // IVF-PQ + EXACT RERANK (r6 VERDICT #2): ADC alone is a coarse
    // ranking (recall@10 ≈ 0.24), so its top-200 per probe become a
    // CANDIDATE set whose raw vectors are joined back (candidate list
    // broadcasts; the vectors table never shuffles) and reranked by
    // exact cosine — the full production serving plan: pruned vector-
    // free ADC scan → c raw-vector fetches per probe → exact top-k.
    // Parameters are scale-model artifacts of the 8-cell toy index:
    // measured ceilings are 0.78 recall at nProbe=4 and 0.92 at
    // nProbe=6, so nProbe=6 + c=200 lands at 0.87 (VectorSearchSpec
    // pins >= 0.8 vs brute force). A production index carries ~sqrt(n)
    // cells and probes ~10%, with c a few percent of the candidates.
    QueryDef.sql(
      "q107_ann_ivfpq_rerank",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id < 5) WHERE rn <= 6),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
         |cand AS (SELECT pc.pid, a.vec_id
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.pid),
         |terms AS (SELECT cand.pid, cand.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  JOIN p ON p.pid = cand.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc),
         |cnd AS (SELECT pid, vec_id FROM ranked WHERE rnk <= 200),
         |rr AS (SELECT c.pid, c.vec_id,
         |    round(list_cosine_similarity(e.v, p.pv), 4) AS cosine
         |  FROM cnd c JOIN e ON e.vec_id = c.vec_id JOIN p ON p.pid = c.pid),
         |rranked AS (SELECT pid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM rr)
         |SELECT pid, rnk, vec_id, cosine FROM rranked WHERE rnk <= 10
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val snap = AnnIndex.snapshot(s, AnnIndex.ensure(s, dir))
      VS.ivfPqTopKRerank(snap.codes, snap.vectors,
          emb(s, dir).filter(col("vec_id") < 5),
          k = 10, c = 200, snap.ivf,
          snap.pq, nProbe = 6)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // INCREMENTAL INDEX MAINTENANCE (r7 VERDICT #1) — the append path
    // that closes the one real lifecycle hole: a growing corpus must not
    // pay a full retrain+rewrite per ingest batch. The base slice
    // (vec_id % 10 < 8) trains and builds the index; the delta slice is
    // then APPENDED: assigned to coarse cells against the FROZEN
    // persisted codebooks (the same narrow argmax a probe runs), PQ-
    // encoded with the frozen PQ codebook, and written into the existing
    // cell buckets — no training jobs, no rewrite of existing files
    // (AnnIndexSpec pins both; PlanAuditSpec pins that the appended
    // table still bucket-prunes). The delta vectors then probe the
    // appended index. The oracle replays base-only training CTE-for-CTE
    // and assigns the FULL corpus with the frozen cent3/pcent2 — exactly
    // what build+append persist.
    QueryDef.sql(
      "q108_ann_index_append",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3,
        srcWhere = " AND vec_id % 10 < 8")},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id % 10 >= 8 AND vec_id < 50) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e
         |  WHERE vec_id % 10 >= 8 AND vec_id < 50),
         |cand AS (SELECT pc.pid, a.vec_id
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.pid),
         |terms AS (SELECT cand.pid, cand.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  JOIN p ON p.pid = cand.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT pid, rnk, vec_id, adc_dist FROM ranked WHERE rnk <= 5
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      // content-addressed per-dataset db/location (honors the
      // graft.ann.catalog.root override) — two runs over different SF
      // dirs on one machine can no longer clobber each other mid-run
      val (db, loc) = AnnIndex.scratchFor(dir, "incr")
      AnnIndex.buildIndex(s, db, e.filter(col("vec_id") % 10 < 8), loc)
      AnnIndex.append(s, db, e.filter(col("vec_id") % 10 >= 8))
      val snap = AnnIndex.snapshot(s, db)
      VS.ivfPqTopK(snap.codes,
          e.filter(col("vec_id") % 10 >= 8 && col("vec_id") < 50),
          k = 5, snap.ivf, snap.pq, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // INDEX DELETIONS (r8 VERDICT #1) — the shrink half of maintenance,
    // closing the last lifecycle hole: dedup's own output is a deletion
    // list, and before this any corpus shrink forced a full retrain.
    // The q108 chain (base build, frozen-codebook delta append) runs
    // first; then vec_id % 9 == 0 is DELETED: the ids land in a tiny
    // bucketless tombstone table and every subsequent probe excludes
    // them through the snapshot's broadcast anti-join — no index file is
    // touched, no retrain, and compaction later folds the tombstones out
    // physically (AnnIndexSpec pins all three; PlanAuditSpec pins that
    // the anti-join broadcasts and the codes scan still bucket-prunes).
    // The oracle replays the q108 chain CTE-for-CTE with the deletion
    // predicate excluded from the candidate set — build minus deleted.
    // A deleted vector may still be USED as a probe (it comes from the
    // source relation, not the index): pid 9/18/27/36/45 exercise that.
    QueryDef.sql(
      "q109_ann_index_delete",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3,
        srcWhere = " AND vec_id % 10 < 8")},
         |${pqTrainCtes(k = 16, iters = 2)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |sc AS (SELECT e.vec_id, c.b, c.cid,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (e.v[8 * c.b + i] - c.cv8[i])
         |         * (e.v[8 * c.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS d
         |  FROM e CROSS JOIN pcent2 c),
         |codes AS (SELECT vec_id, b, cid AS code FROM (
         |    SELECT vec_id, b, cid,
         |      row_number() OVER (PARTITION BY vec_id, b
         |        ORDER BY d ASC, cid ASC) AS rn
         |    FROM sc) WHERE rn = 1),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id % 10 >= 8 AND vec_id < 50) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e
         |  WHERE vec_id % 10 >= 8 AND vec_id < 50),
         |cand AS (SELECT pc.pid, a.vec_id
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.pid AND a.vec_id % 9 <> 0),
         |terms AS (SELECT cand.pid, cand.vec_id, codes.b,
         |    round(list_reduce(list_transform(generate_series(1, 8),
         |      i -> (p.pv[8 * codes.b + i] - c.cv8[i])
         |         * (p.pv[8 * codes.b + i] - c.cv8[i])),
         |      (x, y) -> x + y), 4) AS t
         |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN pcent2 c ON c.b = codes.b AND c.cid = codes.code
         |  JOIN p ON p.pid = cand.pid),
         |adc AS (SELECT pid, vec_id,
         |    round(list_reduce(list(t ORDER BY b), (x, y) -> x + y), 4) AS adc_dist
         |  FROM terms GROUP BY pid, vec_id),
         |ranked AS (SELECT pid, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY adc_dist ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT pid, rnk, vec_id, adc_dist FROM ranked WHERE rnk <= 5
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (db, loc) = AnnIndex.scratchFor(dir, "del")
      AnnIndex.buildIndex(s, db, e.filter(col("vec_id") % 10 < 8), loc)
      AnnIndex.append(s, db, e.filter(col("vec_id") % 10 >= 8))
      AnnIndex.delete(s, db,
        e.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      val snap = AnnIndex.snapshot(s, db)
      VS.ivfPqTopK(snap.codes,
          e.filter(col("vec_id") % 10 >= 8 && col("vec_id") < 50),
          k = 5, snap.ivf, snap.pq, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // SEMANTIC dedup via trained IVF cells — the SCALABLE counterpart to
    // q45's declared brute-force oracle slice. q45 compares every pair
    // (n²); here candidate pairs only form WITHIN a shared trained cell:
    // each vector is assigned to its top-3 of 8 cells (boundary pairs
    // straddle a cell edge, so argmax-only assignment would miss them —
    // top-3 recovers 94-98% of q45's pairs at our SFs, measured), pairs
    // are generated per cell, scored once, and de-duplicated (a pair
    // sharing two cells appears twice). The pair space is Σ_cells n_c²
    // instead of n²: at 100 TB, k grows to thousands (cells stay
    // bounded) while nAssign stays 3, so candidate generation scales
    // with corpus size × cell size, never corpus². Training touches only
    // the md5 sample (trainIvfCodebook); the only shuffles are the
    // cell-key pair join and the final distinct. The oracle replays
    // training, top-3 assignment, and intra-cell pairing CTE-for-CTE.
    QueryDef.sql(
      "q111_dedup_semantic_cells",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 3),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4)
         |SELECT id_a, id_b, cosine FROM pairs
         |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 8, iters = 3, sampleBuckets = 3)
      // the float-native dot/norm kernels inside semanticDedupPairs round
      // to the same 4 decimals as the oracle's double cosine (q45
      // discipline); k/nAssign frozen here only for oracle determinism
      VS.semanticDedupPairs(Tables.spread(s, e), cents,
          nAssign = 3, threshold = 0.4)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // Semantic dedup END-TO-END: q111's cell-bucketed candidate pairs →
    // connected components (transitive closure — A~B, B~C must collapse
    // to ONE cluster) → the survivor set: every vector labeled with its
    // cluster's canonical (minimum) vec_id and a keep flag. This is the
    // full SemDeDup-style pass a training pipeline actually runs — the
    // pair queries stop one step short of a usable corpus. Vectors in no
    // pair are their own singleton (keep = true). Scale shape: the edge
    // list entering ConnectedComponents is the THRESHOLDED pair set —
    // orders of magnitude smaller than the corpus — and each closure
    // round is a keyed hash shuffle of (node, label) with lineage
    // truncated per round; the final labeling is one left join on
    // vec_id. The oracle replays training + pairing CTE-for-CTE, then
    // resolves the same closure with a recursive CTE (q93 discipline).
    QueryDef.sql(
      "q113_dedup_semantic_survivors",
      s"""WITH RECURSIVE ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 3),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT a AS node, a AS lbl FROM und
         |  UNION
         |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
         |SELECT ev.vec_id,
         |  CAST(coalesce(c.component, ev.vec_id) AS BIGINT) AS component,
         |  (coalesce(c.component, ev.vec_id) = ev.vec_id) AS keep
         |FROM (SELECT vec_id FROM embeddings) ev
         |LEFT JOIN comp c ON ev.vec_id = c.node
         |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 8, iters = 3, sampleBuckets = 3)
      val edges = VS.semanticDedupPairs(Tables.spread(s, e), cents,
          nAssign = 3, threshold = 0.4, dedup = false)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "vec_id")
      e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("keep", col("component") === col("vec_id"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // Approximate kNN GRAPH: every vector's top-5 cosine neighbors among
    // vectors sharing a trained cell — the batch all-queries face of the
    // ANN family (q100-q109 answer one probe; this answers ALL of them
    // at once) and the input structure for SemDeDup cluster curation and
    // graph-based diversity sampling. Candidates form only within shared
    // top-3-of-8 cells (the q111 discipline); the ranking shuffle is
    // keyed on src over the candidate set, never n². Cell count is the
    // scale lever, as everywhere in this family. The oracle replays
    // training, assignment, directed intra-cell pairing, and the ranking
    // window CTE-for-CTE.
    QueryDef.sql(
      "q115_knn_graph",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 3),
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS (SELECT src, nbr, cosine,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, nbr ASC) AS rnk
         |  FROM cand)
         |SELECT src, CAST(rnk AS INTEGER) AS rnk, nbr, cosine
         |FROM ranked WHERE rnk <= 5
         |ORDER BY src ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 8, iters = 3, sampleBuckets = 3)
      VS.knnGraph(Tables.spread(s, e), cents, nAssign = 3, k = 5)
        .select(col("src"), col("rnk"), col("nbr"), col("cosine"))
        .orderBy(col("src").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // FILTERED ANN — metadata-predicated vector search (the "where
    // label < 5" face of q100): real retrieval always carries a
    // metadata filter (language, license, date window), and the wrong
    // plan applies it AFTER candidate generation — top-k starves when
    // the filter is selective. Here the predicate is applied ON THE
    // INDEX SCAN side, composed with the literal cell IN-filter, so the
    // bucketed index read keeps its bucket pruning AND pushes the label
    // predicate into the parquet scan (PlanAuditSpec pins both); the
    // ranking window then sees only eligible candidates, guaranteeing k
    // survivors whenever the filtered cells hold k. At 100 TB the
    // filter rides the pruned scan for free — zero extra shuffles vs
    // q100. The oracle replays training/assignment CTE-for-CTE and
    // restricts the candidate set with the same predicate.
    QueryDef.sql(
      "q123_ann_filtered",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |flt AS (SELECT vec_id FROM embeddings WHERE label < 5),
         |pcells AS (SELECT pid, cell FROM (
         |    SELECT vec_id AS pid, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
         |cand AS (SELECT pc.pid, a.vec_id,
         |    round(list_cosine_similarity(a.v, p.pv), 4) AS cosine
         |  FROM assigned a JOIN flt f ON f.vec_id = a.vec_id
         |  JOIN pcells pc ON a.cell = pc.cell
         |  JOIN p ON p.pid = pc.pid AND a.vec_id <> p.pid),
         |ranked AS (SELECT pid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM cand)
         |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      import graft.operators.Layout
      val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val cents = VS.trainIvfCodebook(
        e.select(col("vec_id"), col("embedding")),
        k = 8, iters = 3, sampleBuckets = 3)
      val (db, loc) = AnnIndex.scratchFor(dir, "fltr")
      freshDb(s, db, loc)
      Layout.writeBucketed(
        e.withColumn("cell",
          VS.ivfCellD(VF.toDoubles(col("embedding")), cents)),
        s"$db.vectors", "cell", 8)
      VS.ivfTopKIndexed(
          s.table(s"$db.vectors").filter(col("label") < 5),
          e.filter(col("vec_id") < 5)
            .select(col("vec_id"), col("embedding")),
          k = 3, cents, nProbe = 2)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // INDEX MAINTENANCE POLICY (r11) — build/append/delete/compact are
    // mechanisms; this is the DECISION: AnnIndex.maintain reads the
    // tombstone fraction (deletion debt every probe pays through the
    // anti-join) and files-per-bucket (append debt) off the catalog and
    // compacts only past a threshold. The query runs the policy twice on
    // a freshly built index with vec_id % 9 == 0 tombstoned (~11%):
    // first at maxTombstoneFrac=0.5 (under threshold — must be a no-op)
    // then at 0.05 (over — must fold). Each row reports the stats the
    // policy READ and the post-state RE-MEASURED from the real catalog
    // tables, so the oracle's predicted fold (n - n_deleted live rows,
    // zero tombstones) is checked against what the fold physically did.
    // Scale shape: the stats are metadata-cheap (bounded tombstone
    // count + a row-group-stats count + a file listing); the fold
    // itself is one bucketed rewrite of each index table, paid only
    // when due — the LSM-ish economics that keep a 100 TB index
    // servable without ever retraining.
    QueryDef.sql(
      "q124_ann_maintenance_policy",
      """WITH t AS (SELECT count(*) AS n FROM embeddings),
        |d AS (SELECT count(*) AS nd FROM embeddings WHERE vec_id % 9 = 0),
        |th AS (SELECT * FROM (VALUES (0.5), (0.05)) v(threshold)),
        |pre AS (SELECT CAST(th.threshold AS DOUBLE) AS threshold,
        |    t.n, d.nd, CAST(d.nd AS DOUBLE) / t.n AS frac
        |  FROM th CROSS JOIN t CROSS JOIN d)
        |SELECT threshold, n AS n_index, nd AS n_tombstones,
        |  round(frac, 4) AS tombstone_frac,
        |  CASE WHEN frac > threshold THEN 'compact' ELSE 'none' END
        |    AS action,
        |  CASE WHEN frac > threshold THEN n - nd ELSE n END AS post_n_index,
        |  CASE WHEN frac > threshold THEN CAST(0 AS BIGINT) ELSE nd END
        |    AS post_n_tombstones
        |FROM pre ORDER BY threshold DESC""".stripMargin) { (s, dir) =>
      import graft.functions.AnnIndex
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (db, loc) = AnnIndex.scratchFor(dir, "mnt")
      AnnIndex.buildIndex(s, db, e, loc)
      AnnIndex.delete(s, db,
        e.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      // the build above is a fixed setup cost (~85% of q124's bench
      // number); the POLICY — stats read + threshold fold — is what this
      // query measures, so it stamps its own phase seconds for the bench
      // artifact's `sub` map (BenchProbes; r11 VERDICT #8)
      val reports = graft.BenchProbes.time("q124.policy") {
        Seq(0.5, 0.05).map { thr =>
          val m = AnnIndex.maintain(s, db, maxTombstoneFrac = thr)
          val (postIdx, postTomb) =
            if (m.compacted)
              (s.table(s"$db.vectors").count(),
                s.table(s"$db.tombstones").count())
            else (m.nIndex, m.nTombstones)
          (thr, m.nIndex, m.nTombstones, m.tombstoneFrac,
            if (m.compacted) "compact" else "none", postIdx, postTomb)
        }
      }
      import s.implicits._
      reports.toDF("threshold", "n_index", "n_tombstones",
          "tombstone_frac", "action", "post_n_index", "post_n_tombstones")
        .withColumn("tombstone_frac", round(col("tombstone_frac"), 4))
        .orderBy(col("threshold").desc)
    },

    // ------------------------------------------------------------------
    // PAGERANK CENTRALITY over the kNN graph (r11) — the iterative-
    // computation face the engine was missing beyond connected
    // components: quality/centrality propagation over the q115
    // similarity graph (the curation signal SemDeDup-style pipelines
    // rank clusters by). Pregel-on-DataFrames shape: the edge list is
    // built ONCE (q115's cell-bucketed candidate generation) and
    // localCheckpoint'd — iterating on raw lineage would re-run
    // training+pairing EVERY iteration and grow the plan without
    // bound; each of the 5 fixed iterations is then ONE join keyed on
    // src (contributions) + one map-side-combined agg on dst + a
    // left-join back to the node set, with the rank vector
    // re-checkpointed per iteration (bounded lineage, N-row state).
    // Dangling mass is dropped (documented; both engines agree) and
    // every iteration rounds to 8 decimals so the two engines walk the
    // same lattice — the q111 k-means determinism discipline. At 100 TB
    // the per-iteration cost is the edges-by-src exchange; the node
    // vector is corpus-row-count-sized, never corpus-content-sized.
    QueryDef.sql(
      "q129_pagerank_centrality",
      s"""WITH ${kmeansCtes(k = 8, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 3),
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |knn AS (SELECT src, nbr FROM (
         |    SELECT src, nbr,
         |      row_number() OVER (PARTITION BY src
         |        ORDER BY cosine DESC, nbr ASC) AS rnk
         |    FROM cand) WHERE rnk <= 5),
         |deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM e),
         |pr0 AS (SELECT vec_id AS node, round(1.0 / n.nn, 8) AS pr
         |  FROM e CROSS JOIN n),
         |${pagerankCtes(5)}
         |SELECT node AS vec_id, pr AS pagerank FROM pr5
         |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 8, iters = 3, sampleBuckets = 3)
      val edges = VS.knnGraph(Tables.spread(s, e), cents, nAssign = 3, k = 5)
        .select(col("src"), col("nbr").as("dst")).localCheckpoint()
      // the r12 PageRank operator at the oracle-frozen settings: fixed 5
      // iterations, dangling mass dropped, every iterate on the 8-decimal
      // lattice — the standard-formulation options (redistribution,
      // convergence stop) are exercised in PageRankSpec, not here, so the
      // oracle CTE chain stays frozen
      graft.operators.PageRank.run(
          e.select(col("vec_id").as("node")), edges,
          damping = 0.85, maxIters = 5,
          redistributeDangling = false, tol = 0.0,
          roundDecimals = Some(8))
        .ranks
        .select(col("node").as("vec_id"), col("pr").as("pagerank"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // PRODUCTION-k kNN GRAPH (r12) — the SAME operator as q115 at the
    // scale-lever setting the whole cell-bucketed family documents but
    // (until now) only spec-asserted: k=32 cells, nAssign=2. q115's
    // oracle freezes k=8/nAssign=3, which makes the candidate space
    // (nAssign²/k)·n² ≈ 9n²/8 — MORE than all-pairs — so every sf1
    // number in the q111/q113/q115/q129 family reads quadratic. Here
    // the identical knnGraph runs with 4/32 = 12.5% of the pair space
    // (VectorSearchSpec pins the exact candidate shrinkage, 15472 of
    // 124750 at sf0.01), demonstrating as an ORACLE-GREEN query that
    // the k lever — thousands of cells at 100 TB — is what carries
    // this family to scale, not a different algorithm. Bench reads
    // q133 directly against q115: same output semantics (top-5 cosine
    // neighbors), same training discipline, ~8x fewer candidates.
    // Recall vs exact top-5 drops with fewer shared cells (more
    // boundary losses at nAssign=2) — that recall/cost curve is the
    // tunable, measured in VectorSearchSpec; the oracle replays
    // training, 2-of-32 assignment, pairing, and ranking CTE-for-CTE.
    QueryDef.sql(
      "q133_knn_graph_production_k",
      s"""WITH ${kmeansCtes(k = 32, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS (SELECT src, nbr, cosine,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, nbr ASC) AS rnk
         |  FROM cand)
         |SELECT src, CAST(rnk AS INTEGER) AS rnk, nbr, cosine
         |FROM ranked WHERE rnk <= 5
         |ORDER BY src ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 32, iters = 3, sampleBuckets = 3)
      VS.knnGraph(Tables.spread(s, e), cents, nAssign = 2, k = 5)
        .select(col("src"), col("rnk"), col("nbr"), col("cosine"))
        .orderBy(col("src").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // PRODUCTION-k SEMANTIC DEDUP (r12) — q134 is to q111 what q133 is
    // to q115: the IDENTICAL semanticDedupPairs operator at the k=32/
    // nAssign=2 scale-lever setting, oracle-green instead of spec-only.
    // q111's frozen k=8/nAssign=3 candidate space is ≈9n²/8 (more than
    // all-pairs — deliberately, so the oracle stays deterministic at
    // tiny SFs); here the same operator generates 4/32 = 12.5% of the
    // pair space, and the thresholded output is the RECALL story: the
    // pairs q134 emits are a subset of q111's (fewer shared cells →
    // boundary pairs straddling 2-of-32 cells can be missed), which is
    // exactly the recall/cost tunable a 100 TB SemDeDup pass dials via
    // k and nAssign. With q133 this makes every member of the cell-
    // bucketed family (pairs, survivors-input, kNN graph, PageRank-
    // input) demonstrated at the production setting by an oracle row,
    // closing r11 VERDICT what's-wrong #1. The oracle replays k=32
    // training, top-2 assignment, and intra-cell pairing CTE-for-CTE.
    QueryDef.sql(
      "q134_dedup_semantic_production_k",
      s"""WITH ${kmeansCtes(k = 32, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 2),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4)
         |SELECT id_a, id_b, cosine FROM pairs
         |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = VS.trainIvfCodebook(e, k = 32, iters = 3, sampleBuckets = 3)
      VS.semanticDedupPairs(Tables.spread(s, e), cents,
          nAssign = 2, threshold = 0.4)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // BLOOM-PRE-FILTERED DECONTAMINATION (r12) — the DELETE face of
    // q97's contamination scan, in the shape a 100 TB pipeline runs it:
    // the benchmark set's distinct 3-grams are folded into a driver-
    // built bloom SKETCH (fpp-bounded bytes regardless of corpus size),
    // the corpus gram stream is pre-filtered by a native codegen'd
    // bloom_might_contain BEFORE anything shuffles, and exactness is
    // restored by confirming only the bloom-positives against the real
    // (broadcast) probe set — false negatives are impossible, so the
    // pre-filter can only drop rows the confirmation join would drop.
    // Unlike q97 there is NO corpus-wide distinct: the per-doc shared-
    // gram count is a countDistinct AFTER the filter+join, so the only
    // exchange in the whole query carries the fpp-bounded contaminated
    // slice, not the corpus. Output: every corpus doc with its distinct
    // shared-gram count and a keep flag (< 2 shared grams). The oracle
    // is the exact join — the bloom is an optimization that cannot
    // change the answer, which is precisely the property worth pinning.
    QueryDef.sql(
      "q135_decontaminate_bloom",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
        |  FROM t),
        |p AS (SELECT DISTINCT gram FROM ex WHERE doc_id < 10),
        |sh AS (SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared
        |  FROM (SELECT doc_id, gram FROM ex WHERE doc_id >= 10) c
        |  JOIN p USING (gram) GROUP BY c.doc_id)
        |SELECT d.doc_id, CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  (coalesce(sh.n_shared, 0) < 2) AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        |LEFT JOIN sh ON sh.doc_id = d.doc_id
        |ORDER BY d.doc_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.BloomRef
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val exploded = Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(NE.wordNgrams(toks, 3)).as("gram"))
      val probeGrams = exploded.filter(col("doc_id") < 10)
        .select(col("gram")).distinct()
      // sketch sizing only — the confirmation join makes any fpp exact
      val bloom = BloomRef.build(probeGrams, "gram",
        expectedItems = math.max(probeGrams.count(), 1L), fpp = 0.01)
      val shared = exploded.filter(col("doc_id") >= 10)
        .filter(NE.bloomMightContain(col("gram"), bloom))
        .join(broadcast(probeGrams), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared"))
      docs(s, dir).select(col("doc_id")).filter(col("doc_id") >= 10)
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).cast("long").as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) < 2).as("keep"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // CONTAMINATION-AWARE TRAIN/VAL SPLIT (q147, r12) — the composed
    // pipeline gate a real pretraining run ships: the q135 bloom-
    // pre-filtered decontamination scan and the q56-family deterministic
    // md5-bucket split fused into ONE pass over the corpus, so every doc
    // leaves with its split assignment AND its benchmark-contamination
    // verdict (keep = < 2 shared 3-grams). Contaminated docs must be
    // excluded from TRAINING for the held-out benchmark to stay valid —
    // the query emits the verdict rather than silently dropping, so the
    // exclusion is auditable (same dead-letter philosophy as
    // Streams.jsonlIngest). Plan shape is q135's: the only exchange
    // carries the fpp-bounded bloom-positive gram slice; the split
    // column is a narrow md5 expression on top of the same scan.
    QueryDef.sql(
      "q147_split_decontaminated",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
        |  FROM t),
        |p AS (SELECT DISTINCT gram FROM ex WHERE doc_id < 10),
        |sh AS (SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared
        |  FROM (SELECT doc_id, gram FROM ex WHERE doc_id >= 10) c
        |  JOIN p USING (gram) GROUP BY c.doc_id),
        |base AS (SELECT d.doc_id,
        |    coalesce(sh.n_shared, 0) AS n_shared,
        |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS b
        |  FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        |  LEFT JOIN sh ON sh.doc_id = d.doc_id)
        |SELECT doc_id,
        |  CASE WHEN b < 8 THEN 'train' ELSE 'val' END AS split,
        |  CAST(n_shared AS BIGINT) AS n_shared,
        |  (n_shared < 2) AS keep
        |FROM base ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.BloomRef
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val exploded = Tables.spread(s, docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(NE.wordNgrams(toks, 3)).as("gram"))
      val probeGrams = exploded.filter(col("doc_id") < 10)
        .select(col("gram")).distinct()
      val bloom = BloomRef.build(probeGrams, "gram",
        expectedItems = math.max(probeGrams.count(), 1L), fpp = 0.01)
      val shared = exploded.filter(col("doc_id") >= 10)
        .filter(NE.bloomMightContain(col("gram"), bloom))
        .join(broadcast(probeGrams), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared"))
      // q56-family deterministic bucket: md5 prefix of the doc id
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") % 10
      docs(s, dir).select(col("doc_id")).filter(col("doc_id") >= 10)
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(bucket < 8, "train").otherwise("val").as("split"),
          coalesce(col("n_shared"), lit(0L)).cast("long").as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) < 2).as("keep"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // PRODUCTION-k SEMANTIC-DEDUP SURVIVORS (r13) — q113's full
    // SemDeDup pass (pairs → connected-component closure → canonical
    // keep-set) composed over the PRODUCTION candidate chain
    // (corpus-scaled IMI product cells, margin-gated multi-probe
    // assignment) instead of the oracle-frozen quadratic k=8/nAssign=3. q134 proved the pair
    // PRIMITIVE at production k; this proves the COMPOSED pipeline a
    // 100 TB curation run actually ships — closure rounds shuffle only
    // the thresholded edge set (a subset of q113's, by the documented
    // recall/cost tradeoff), and the final labeling is one left join on
    // vec_id. Survivor semantics are q113's verbatim: cluster canonical
    // = minimum vec_id, unpaired vectors are their own singleton. The
    // oracle replays IMI training (both half chains), the margin-gated
    // symmetric multi-probe product-cell assignment, thresholded
    // pairing, and the recursive closure CTE-for-CTE (q93 discipline).
    // r15: BOTH VERDICT r14 dials are composed — k per half derives from
    // the corpus count (kk = max(4, ceil(sqrt(n/64))), product cells ∝ n
    // so cell occupancy stays ~64 at any corpus size) and the assignment
    // is the margin-gated symmetric multi-probe that restores pair
    // recall to ≥ the flat quantizer's at equal cell count
    // (VectorSearchSpec pin; the r14 top-2×top-1 schedule found 44-65 %).
    QueryDef.sql(
      "q150_dedup_survivors_production_k",
      s"""WITH RECURSIVE ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = MpCap, margin = MpMargin.toString)},
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT a AS node, a AS lbl FROM und
         |  UNION
         |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
         |SELECT ev.vec_id,
         |  CAST(coalesce(c.component, ev.vec_id) AS BIGINT) AS component,
         |  (coalesce(c.component, ev.vec_id) = ev.vec_id) AS keep
         |FROM (SELECT vec_id FROM embeddings) ev
         |LEFT JOIN comp c ON ev.vec_id = c.node
         |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (cb1, cb2, half) = VS.trainImiCodebooks(e,
        k = VS.scaledKHalf(e.count()), iters = 3, sampleBuckets = 3)
      val edges = VS.imiDedupPairsMp(Tables.spread(s, e), cb1, cb2, half,
          cap = MpCap, margin = MpMargin, threshold = 0.4, dedup = false)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "vec_id")
      e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("keep", col("component") === col("vec_id"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // QUALITY-RANKED SURVIVOR SELECTION (q217, r15) — q150 picks each
    // near-dup cluster's canonical by MIN ID (deterministic but
    // arbitrary); a real curation run keeps the BEST member. Here the
    // quality signal is document length (keep-the-longest — the CCNet/
    // Dolma-style heuristic for near-duplicate variants, where the
    // longest copy usually carries the least truncation), ties to the
    // lowest id. Composes q150's production chain (corpus-scaled IMI,
    // margin-gated multi-probe, threshold 0.4 pairs, closure) with one
    // vec_id-keyed join to the documents table and a per-COMPONENT rank
    // — a high-cardinality keyed window (components ~ corpus-sized, so
    // no single-reducer hazard; the per-group input is cluster-sized).
    // The oracle replays chain + join + rank CTE-for-CTE.
    QueryDef.sql(
      "q217_survivor_selection_longest",
      s"""WITH RECURSIVE ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = MpCap, margin = MpMargin.toString)},
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT a AS node, a AS lbl FROM und
         |  UNION
         |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         |lab AS (SELECT ev.vec_id,
         |    coalesce(c.component, ev.vec_id) AS component
         |  FROM (SELECT vec_id FROM embeddings) ev
         |  LEFT JOIN comp c ON ev.vec_id = c.node),
         |scored AS (SELECT l.vec_id, l.component, d.n_chars
         |  FROM lab l JOIN documents d ON d.doc_id = l.vec_id),
         |ranked AS (SELECT vec_id, component, n_chars,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY n_chars DESC, vec_id ASC) AS rn
         |  FROM scored)
         |SELECT vec_id, CAST(component AS BIGINT) AS component,
         |  CAST(n_chars AS BIGINT) AS n_chars, (rn = 1) AS keep
         |FROM ranked ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (cb1, cb2, half) = VS.trainImiCodebooks(e,
        k = VS.scaledKHalf(e.count()), iters = 3, sampleBuckets = 3)
      val edges = VS.imiDedupPairsMp(Tables.spread(s, e), cb1, cb2, half,
          cap = MpCap, margin = MpMargin, threshold = 0.4, dedup = false)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "vec_id")
      val lab = e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
      val scored = lab.join(
        docs(s, dir).select(col("doc_id").as("vec_id"), col("n_chars")),
        Seq("vec_id"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .select(col("vec_id"), col("component"), col("n_chars"),
          (col("rn") === 1).as("keep"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // SEMANTIC DECONTAMINATION (r13) — the embedding-level face of
    // q135's benchmark decontamination: n-gram overlap cannot see a
    // PARAPHRASED eval leak, but its embedding can still sit next to a
    // training doc. Carve a deterministic eval set (q128's salted-md5
    // exact-k discipline, 20 vectors), then flag every eval vector whose
    // max cosine against the TRAINING side (everything else) clears the
    // threshold — those eval items are compromised and must be dropped
    // or the training neighbors quarantined. Scale shape: the eval set
    // is tiny BY CONSTRUCTION (eval sets are), so it BROADCASTS and the
    // training corpus streams ONCE through a narrow cosine + max-agg —
    // no shuffle carries vectors; at 100 TB the same contract swaps the
    // brute-force pass for the q123-style filtered IVF probe (the flag
    // semantics and threshold are probe-strategy-independent).
    QueryDef.sql(
      "q166_semantic_decontamination",
      """WITH r AS (SELECT vec_id,
        |    md5('sdecon' || CAST(vec_id AS VARCHAR)) AS rk
        |  FROM embeddings),
        |ev AS (SELECT vec_id FROM r ORDER BY rk ASC, vec_id ASC LIMIT 20),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |mx AS (SELECT ev.vec_id,
        |    max(round(list_cosine_similarity(q.v, tr.v), 4)) AS max_cos
        |  FROM ev
        |  JOIN e q ON q.vec_id = ev.vec_id
        |  CROSS JOIN e tr
        |  WHERE tr.vec_id NOT IN (SELECT vec_id FROM ev)
        |  GROUP BY ev.vec_id)
        |SELECT vec_id, max_cos, (max_cos >= 0.4) AS contaminated
        |FROM mx ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{NativeExpressions => NE}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val ev = e.select(col("vec_id"),
          md5(concat(lit("sdecon"), col("vec_id").cast("string"))).as("rk"))
        .orderBy(col("rk").asc, col("vec_id").asc).limit(20)
        .select(col("vec_id"))
      val evVecs = broadcast(e.join(ev, Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
      val train = Tables.spread(s, e.join(ev, Seq("vec_id"), "left_anti"))
      train.crossJoin(evVecs)
        .select(col("qid"),
          round(NE.vectorCosine(col("embedding"), col("qv")), 4).as("c"))
        .groupBy(col("qid")).agg(max(col("c")).as("max_cos"))
        .select(col("qid").as("vec_id"), col("max_cos"),
          (col("max_cos") >= 0.4).as("contaminated"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // CONTAINMENT DECONTAMINATION (q212, r14) — the third face of the
    // eval-leak family, between q135's exact n-gram overlap and q166's
    // semantic cosine: ASYMMETRIC minhash containment
    // |shingles(eval) ∩ shingles(train)| / |shingles(eval)|. A training
    // doc that embeds a whole eval doc plus extra prose has HIGH
    // containment but diluted symmetric Jaccard — exactly the leak the
    // injected copies here reproduce (eval docs re-inserted into
    // training with appended tokens: containment ~1.0, flagged; the
    // q40/q99 liveness discipline). Scale shape: candidates come from
    // the q189 minhash band keys (eval-side bands are eval-set-sized —
    // the delta; training bands are the q189 persisted-store shape at
    // 100 TB), and the EXACT containment verify runs on candidates
    // only — no all-pairs anywhere; the per-eval window is
    // eval-set-sized.
    QueryDef.sql(
      "q212_decontamination_containment", {
        val sigSelects = (0 until 16)
          .map(j => s"min((${MinhashParams.a(j)} * h + ${MinhashParams.b(j)}) " +
            s"% ${MinhashParams.p}) AS s$j").mkString(", ")
        val bandSelects = (0 until 4).map { b =>
          val cols = (0 until 4).map(i => s"s${b * 4 + i}").mkString(", ")
          s"SELECT doc_id, md5(concat_ws('|', '$b', $cols)) AS bk FROM sig"
        }.mkString("\nUNION ALL ")
        s"""WITH base AS (SELECT doc_id, text,
           |    ('0x' || substr(md5('ct' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS g
           |  FROM documents),
           |corpus AS (
           |  SELECT doc_id, text, g FROM base
           |  UNION ALL
           |  SELECT doc_id + 700000 AS doc_id,
           |    text || ' zz yy xx ww vv' AS text, 0 AS g
           |  FROM base WHERE g = 9 AND doc_id % 20 = 0),
           |t AS (SELECT doc_id, g,
           |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+') AS toks
           |  FROM corpus),
           |ex0 AS (SELECT doc_id, g,
           |    unnest(list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
           |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
           |  FROM t),
           |ex AS (SELECT doc_id, g,
           |    ('0x' || substr(md5(sh), 18, 15))::BIGINT % ${MinhashParams.p} AS h
           |  FROM ex0),
           |sig AS (SELECT doc_id, any_value(g) AS g, $sigSelects
           |  FROM ex GROUP BY doc_id),
           |bands AS ($bandSelects),
           |ebands AS (SELECT DISTINCT b.doc_id, b.bk
           |  FROM bands b JOIN sig s ON b.doc_id = s.doc_id WHERE s.g = 9),
           |tbands AS (SELECT DISTINCT b.doc_id, b.bk
           |  FROM bands b JOIN sig s ON b.doc_id = s.doc_id WHERE s.g <> 9),
           |cand AS (SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
           |  FROM ebands e JOIN tbands t ON e.bk = t.bk),
           |esh AS (SELECT DISTINCT doc_id AS eval_id, h FROM ex WHERE g = 9),
           |tsh AS (SELECT DISTINCT doc_id AS train_id, h FROM ex WHERE g <> 9),
           |ne AS (SELECT eval_id, count(*) AS n_sh FROM esh GROUP BY eval_id),
           |inter AS (SELECT c.eval_id, c.train_id, count(*) AS i
           |  FROM cand c JOIN esh e ON e.eval_id = c.eval_id
           |  JOIN tsh t ON t.train_id = c.train_id AND t.h = e.h
           |  GROUP BY c.eval_id, c.train_id),
           |pp AS (SELECT i.eval_id, i.train_id,
           |    round(CAST(i.i AS DOUBLE) / ne.n_sh, 4) AS containment
           |  FROM inter i JOIN ne ON ne.eval_id = i.eval_id),
           |best AS (SELECT eval_id, containment, train_id FROM (
           |    SELECT eval_id, containment, train_id,
           |      row_number() OVER (PARTITION BY eval_id
           |        ORDER BY containment DESC, train_id ASC) AS rn
           |    FROM pp) WHERE rn = 1),
           |nc AS (SELECT eval_id, count(*) AS n_cand FROM cand GROUP BY eval_id),
           |ev AS (SELECT doc_id AS eval_id FROM base WHERE g = 9)
           |SELECT ev.eval_id AS eval_id,
           |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
           |  coalesce(best.containment, 0.0) AS max_containment,
           |  CAST(coalesce(best.train_id, -1) AS BIGINT) AS best_train,
           |  CAST(CASE WHEN coalesce(best.containment, 0.0) >= 0.8
           |    THEN 1 ELSE 0 END AS INTEGER) AS contaminated
           |FROM ev LEFT JOIN nc ON nc.eval_id = ev.eval_id
           |LEFT JOIN best ON best.eval_id = ev.eval_id
           |ORDER BY ev.eval_id ASC""".stripMargin
      }) { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"),
        (conv(substring(md5(concat(lit("ct"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 10).as("g"))
      val corpus = base.unionAll(
        base.filter(col("g") === 9 && col("doc_id") % 20 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"),
            concat(col("text"), lit(" zz yy xx ww vv")).as("text"),
            lit(0L).as("g")))
      val toks = TF.tokens(TF.normalizeText(col("text")))
      // r19: materialized — five downstream consumers (band keys for the
      // eval and train sides, shingle hashes for eval/train/intersect)
      // each re-ran the tokenize+shingle+minhash pass when the g-filters
      // pushed below it (the q164 duplicate-subtree class; this query's
      // physical plan was 41 KB of repeated signature pipeline)
      val withSh = Tables.spread(s, corpus).select(col("doc_id"), col("g"),
        NE.wordNgrams(toks, 3).as("shs"),
        NE.minhashSigs(toks, (0 until 16).map(MinhashParams.a),
          (0 until 16).map(MinhashParams.b), MinhashParams.p).as("sig"))
        .localCheckpoint()
      val sigs = withSh.select(col("doc_id") :: col("g") :: (0 until 16)
        .map(j => element_at(col("sig"), j + 1).as(s"s$j")).toList: _*)
      val bandKeys = (0 until 4).map(b =>
        md5(concat_ws("|", lit(b.toString) +:
          (0 until 4).map(i => col(s"s${b * 4 + i}").cast("string")): _*)))
      val withKeys = sigs.select(col("doc_id"), col("g"),
        explode(array(bandKeys: _*)).as("bk"))
      val evalB = withKeys.filter(col("g") === 9)
        .select(col("doc_id").as("eval_id"), col("bk")).distinct()
      val trainB = withKeys.filter(col("g") =!= 9)
        .select(col("doc_id").as("train_id"), col("bk")).distinct()
      val cand = evalB.join(trainB, Seq("bk"))
        .select(col("eval_id"), col("train_id")).distinct()
      // materialized for the same reason: the distinct (doc, h) set feeds
      // the eval side twice (count + intersect) and the train side once
      val sh = withSh.select(col("doc_id"), col("g"),
          explode(col("shs")).as("sh"))
        .select(col("doc_id"), col("g"),
          (conv(substring(md5(col("sh")), 18, 15), 16, 10).cast("long")
            % MinhashParams.p).as("h"))
        .distinct()
        .localCheckpoint()
      val eSh = sh.filter(col("g") === 9)
        .select(col("doc_id").as("eval_id"), col("h"))
      val tSh = sh.filter(col("g") =!= 9)
        .select(col("doc_id").as("train_id"), col("h"))
      val ne0 = eSh.groupBy(col("eval_id")).agg(count(lit(1)).as("n_sh"))
      val inter = cand.join(eSh, Seq("eval_id"))
        .join(tSh, Seq("train_id", "h"))
        .groupBy(col("eval_id"), col("train_id"))
        .agg(count(lit(1)).as("i"))
      val perPair = inter.join(ne0, Seq("eval_id"))
        .select(col("eval_id"), col("train_id"),
          round(col("i").cast("double") / col("n_sh"), 4).as("containment"))
      val w = Window.partitionBy(col("eval_id"))
        .orderBy(col("containment").desc, col("train_id").asc)
      val best = perPair.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("eval_id"), col("containment"),
          col("train_id").as("best_train"))
      val nCand = cand.groupBy(col("eval_id")).agg(count(lit(1)).as("n_cand"))
      base.filter(col("g") === 9).select(col("doc_id").as("eval_id"))
        .join(nCand, Seq("eval_id"), "left")
        .join(best, Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
          coalesce(col("containment"), lit(0.0)).as("max_containment"),
          coalesce(col("best_train"), lit(-1L)).cast("long").as("best_train"),
          (coalesce(col("containment"), lit(0.0)) >= 0.8).cast("int")
            .as("contaminated"))
        .orderBy(col("eval_id").asc)
    },

    // ------------------------------------------------------------------
    // DUP-CLUSTER SIZE HISTOGRAM (r13) — the release-card observability
    // face of semantic dedup: how much of the corpus sits in near-dup
    // clusters of each size? (Size-1 = unique; a heavy tail of large
    // clusters is the "one template stamped a million times" smell that
    // changes dedup strategy before it changes any query.) Exactly
    // q150's production chain (corpus-scaled IMI training, margin-gated
    // symmetric multi-probe assignment, threshold 0.4 pairs, closure)
    // folded twice more: component →
    // cluster size, size → (n_clusters, n_docs). Scale shape: both
    // folds are map-side-combined aggs whose outputs are bounded by the
    // distinct-size count (≤ largest cluster) — the corpus-sized work is
    // the pair chain q150 already pays, nothing new shuffles.
    QueryDef.sql(
      "q163_dup_cluster_histogram",
      s"""WITH RECURSIVE ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = MpCap, margin = MpMargin.toString)},
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT a AS node, a AS lbl FROM und
         |  UNION
         |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         |lab AS (SELECT ev.vec_id,
         |    coalesce(c.component, ev.vec_id) AS component
         |  FROM (SELECT vec_id FROM embeddings) ev
         |  LEFT JOIN comp c ON ev.vec_id = c.node),
         |cs AS (SELECT component, count(*) AS sz FROM lab GROUP BY component)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY sz ORDER BY cluster_size ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (cb1, cb2, half) = VS.trainImiCodebooks(e,
        k = VS.scaledKHalf(e.count()), iters = 3, sampleBuckets = 3)
      val edges = VS.imiDedupPairsMp(Tables.spread(s, e), cb1, cb2, half,
          cap = MpCap, margin = MpMargin, threshold = 0.4, dedup = false)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "vec_id")
      e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("component"))
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size").asc)
    },

    // ------------------------------------------------------------------
    // PRODUCTION-k PAGERANK (r13; r14 quantizer swap; r15 scaled k +
    // margin probe) — q129's centrality propagation over the PRODUCTION
    // kNN graph (corpus-scaled IMI product cells, margin-gated
    // symmetric multi-probe at the GRAPH dial) instead of the frozen
    // quadratic k=8/nAssign=3 edge generation it inherited.
    // Same iteration discipline as q129 exactly: edges built once and
    // localCheckpoint'd, 5 fixed iterations of ONE src-keyed join + one
    // map-side-combined agg on dst + a left-join back to the node set,
    // dangling mass dropped, damping 0.85, every iterate rounded to the
    // 8-decimal lattice both engines share. With q150 this retires the
    // last frozen-k-only composites: every member of the cell-bucketed
    // family (pairs, survivors, graph, centrality) now has an
    // oracle-green face at the scale-lever setting. The oracle replays
    // IMI training, the margin-gated product-cell assignment, top-5
    // ranking, and the 5 PageRank rounds CTE-for-CTE.
    // (k=16 per half became possible once PageRank's contribution sum
    // moved to the integer e12 lattice: the k=16 edge set had pushed one
    // node's 5th-iteration double-sum onto an 8-decimal rounding boundary
    // where Spark and DuckDB float-sum association order disagreed; the
    // integer sum is order-independent, so the straddle class is gone.)
    QueryDef.sql(
      "q151_pagerank_production_k",
      s"""WITH ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = GraphCap, margin = GraphMargin.toString)},
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |knn AS (SELECT src, nbr FROM (
         |    SELECT src, nbr,
         |      row_number() OVER (PARTITION BY src
         |        ORDER BY cosine DESC, nbr ASC) AS rnk
         |    FROM cand) WHERE rnk <= 5),
         |deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM e),
         |pr0 AS (SELECT vec_id AS node, round(1.0 / n.nn, 8) AS pr
         |  FROM e CROSS JOIN n),
         |${pagerankCtes(5)}
         |SELECT node AS vec_id, pr AS pagerank FROM pr5
         |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      // per-phase probes (the q152 sub-map discipline): at sf10 this query
      // is the heaviest composite, and the probes attribute the cost —
      // training is O(√K)-cheap, the kNN candidate ranking over frozen-k
      // cells and the 5 checkpointed PageRank rounds carry the rest
      val (cb1, cb2, half) = graft.BenchProbes.time("q151.train") {
        VS.trainImiCodebooks(e, k = VS.scaledKHalf(e.count()), iters = 3,
          sampleBuckets = 3)
      }
      val edges = graft.BenchProbes.time("q151.knn_edges") {
        VS.imiKnnGraphMp(Tables.spread(s, e), cb1, cb2, half,
            cap = GraphCap, margin = GraphMargin, k = 5)
          .select(col("src"), col("nbr").as("dst")).localCheckpoint()
      }
      graft.BenchProbes.time("q151.pagerank") {
        graft.operators.PageRank.run(
            e.select(col("vec_id").as("node")), edges,
            damping = 0.85, maxIters = 5,
            redistributeDangling = false, tol = 0.0,
            roundDecimals = Some(8))
          .ranks
      }
        .select(col("node").as("vec_id"), col("pr").as("pagerank"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // TWO-LEVEL IMI COARSE QUANTIZATION (q156, r13) — the assignment-
    // cost answer to PLANS.md's production-k caveat: a FLAT codebook
    // with K cells costs K·dim per row to assign (and train), so
    // growing K with the corpus reintroduces an n·K term; two
    // independent k-cell codebooks over the vector HALVES span K = k²
    // PRODUCT cells for k·dim assignment work — O(√K). Here k=8 per
    // half spans 64 product cells at 16-cell cost; at 100 TB, k=4096
    // per half spans 16.8M cells at 8192-cell cost. Pairing within
    // shared product cells is the UNCHANGED semanticDedupPairs join
    // (assignment strategy is orthogonal to pairing); recall dials via
    // aProbe (top-2 on half 1 × top-1 on half 2 here). Determinism is
    // the family discipline per half: argmax of round(cosine,4), ties
    // to the lowest cid, product id = c1·k + c2. The oracle replays
    // BOTH half-vector Lloyd chains + both assignments + the pairing
    // CTE-for-CTE.
    QueryDef.sql(
      "q156_dedup_semantic_imi",
      s"""WITH ${kmeansCtesHalf(k = 8, iters = 3, sampleBuckets = 3, lo = 1, dims = 32, p = "h1")},
         |${kmeansCtesHalf(k = 8, iters = 3, sampleBuckets = 3, lo = 33, dims = 32, p = "h2")},
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS v1,
         |    list_transform(embedding[33:64], x -> CAST(x AS DOUBLE)) AS v2
         |  FROM embeddings),
         |s1 AS (SELECT e.vec_id, c.cid,
         |    round(list_cosine_similarity(e.v1, c.cv), 4) AS sim
         |  FROM e CROSS JOIN h1cent3 c),
         |a1 AS (SELECT vec_id, cid AS c1 FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM s1) WHERE rn <= 2),
         |s2 AS (SELECT e.vec_id, c.cid,
         |    round(list_cosine_similarity(e.v2, c.cv), 4) AS sim
         |  FROM e CROSS JOIN h2cent3 c),
         |a2 AS (SELECT vec_id, cid AS c2 FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM s2) WHERE rn = 1),
         |assigned AS (SELECT e.vec_id, e.v, a1.c1 * 8 + a2.c2 AS cell
         |  FROM e JOIN a1 ON a1.vec_id = e.vec_id
         |  JOIN a2 ON a2.vec_id = e.vec_id),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4)
         |SELECT id_a, id_b, cosine FROM pairs
         |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (cb1, cb2, half) = VS.trainImiCodebooks(e, k = 8, iters = 3,
        sampleBuckets = 3)
      VS.imiDedupPairs(Tables.spread(s, e), cb1, cb2, half,
          aProbe = 2, threshold = 0.4)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // PROBE-ONLY SEARCH AGAINST THE PERSISTED IMI CATALOG (q206, r14) —
    // q105's build/probe lifecycle split with the O(√K) coarse quantizer:
    // AnnIndex.ensureImi trains the two half-codebooks ONCE (marker-
    // certified generation, fresh-session recovery, fingerprint-gated
    // rebuild — the flat catalog's durability discipline) and persists
    // the corpus bucketed by its single top-1×top-1 PRODUCT cell; every
    // later probe loads the 2k-row codebook table and runs only the
    // bucket-pruned scan. This closes the last flat-only lifecycle gap
    // VERDICT r13 #1 names: at 100 TB the cell count grows ∝ corpus but
    // both the persisted layout (k² buckets) and the probe work (k·dim
    // assignment, margin-gated cells probed) scale at √K. r15: probe
    // cells use the margin-gated multi-probe on BOTH halves (top-1
    // always, rank-2 within 0.1 of best — the boundary-recall schedule
    // the dedup composites use; r14's top-2×top-1 missed neighbors
    // whose SECOND half straddled a boundary). The oracle cannot read
    // the catalog, so it replays BOTH half Lloyd chains, the corpus's
    // top-1×top-1 assignment, the probes' margin-gated cells, and the
    // pruned-cell exact ranking CTE-for-CTE.
    QueryDef.sql(
      "q206_ann_imi_probe",
      s"""WITH ${imiProdCtes(iters = 3, sampleBuckets = 3, aProbe = 1)},
         |p1 AS (SELECT vec_id, cid AS c1 FROM (
         |    SELECT vec_id, cid, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn,
         |      max(sim) OVER (PARTITION BY vec_id) AS best
         |    FROM s1 WHERE vec_id >= 5 AND vec_id < 10)
         |  WHERE rn = 1 OR (rn <= 2 AND best - sim <= 0.1)),
         |p2 AS (SELECT vec_id, cid AS c2 FROM (
         |    SELECT vec_id, cid, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn,
         |      max(sim) OVER (PARTITION BY vec_id) AS best
         |    FROM s2 WHERE vec_id >= 5 AND vec_id < 10)
         |  WHERE rn = 1 OR (rn <= 2 AND best - sim <= 0.1)),
         |pcells AS (SELECT p1.vec_id AS pid, p1.c1 * kd.kk + p2.c2 AS cell
         |  FROM p1 JOIN p2 ON p2.vec_id = p1.vec_id CROSS JOIN kdef kd),
         |p AS (SELECT vec_id AS pid, v AS pv FROM e
         |  WHERE vec_id >= 5 AND vec_id < 10),
         |cand AS (SELECT pc.pid, a.vec_id,
         |    round(list_cosine_similarity(a.v, p.pv), 4) AS cosine
         |  FROM assigned a JOIN pcells pc ON a.cell = pc.cell
         |  JOIN p ON p.pid = pc.pid AND a.vec_id <> p.pid),
         |ranked AS (SELECT pid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM cand)
         |SELECT pid, rnk, vec_id, cosine FROM ranked WHERE rnk <= 3
         |ORDER BY pid ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{AnnIndex, VectorSearch => VS}
      val db = AnnIndex.ensureImi(s, dir)
      val (cb1, cb2, half) = AnnIndex.imiCodebooks(s, db)
      VS.imiTopKIndexed(s.table(s"$db.vectors"),
          emb(s, dir).filter(col("vec_id") >= 5 && col("vec_id") < 10),
          k = 3, cb1, cb2, half)
        .orderBy(col("pid").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // TWO-LEVEL COARSE ASSIGNMENT (q218, r16 — VERDICT r15 #2): with the
    // corpus-scaled codebook (kHalf = √(n/64)) the flat centroid scan
    // costs O(kHalf·dim) per vector — total assignment work ∝ n^1.5, the
    // dominant term at 100 TB (kHalf ~10⁵). The fix is a two-level
    // descent: the k centroids are deterministically grouped into
    // g = ⌈√k⌉ super-cells (same Lloyd discipline as the codebook itself
    // — init from the first g centroids in cid order, argmax of
    // round(cosine, 4) with ties to the lowest sid, 1e-6-quantized mean
    // updates, empty supers carry then drop); a vector ranks the g
    // super-centroids with the SAME margin gate the cells use, then
    // scans only the probed supers' members — O(√k·dim) per vector,
    // total ∝ n^1.25. The production composites engage this path
    // automatically at kHalf >= 64 (VectorSearch.HierKThreshold), which
    // no gate SF reaches, so THIS query forces k = 64 on the gate corpus
    // to hash-check the descent itself: the oracle replays the codebook
    // training, the super-level Lloyd rounds, the live-super membership,
    // and both margin gates CTE-for-CTE, and the full (vec_id, cell)
    // assignment must match row-for-row.
    QueryDef.sql(
      "q218_hier_coarse_assign",
      s"""WITH ${kmeansCtes(64, 2, 3)},
         |sup0 AS (SELECT cid AS sid, cv AS sv FROM cent2 WHERE cid < 8),
         |${superLloydCtes(src = "cent2", from = "sup0", t = 1)},
         |${superLloydCtes(src = "cent2", from = "sup1", t = 2)},
         |mem AS (SELECT cid, sid FROM (
         |    SELECT c.cid, s.sid,
         |      row_number() OVER (PARTITION BY c.cid
         |        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 4) DESC,
         |          s.sid ASC) AS rn
         |    FROM cent2 c CROSS JOIN sup2 s) WHERE rn = 1),
         |live AS (SELECT s.sid, s.sv FROM sup2 s
         |  WHERE EXISTS (SELECT 1 FROM mem m WHERE m.sid = s.sid)),
         |ev AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |ss AS (SELECT e.vec_id, l.sid,
         |    round(list_cosine_similarity(e.v, l.sv), 4) AS sim
         |  FROM ev e CROSS JOIN live l),
         |ps AS (SELECT vec_id, sid FROM (
         |    SELECT vec_id, sid, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, sid ASC) AS rn,
         |      max(sim) OVER (PARTITION BY vec_id) AS best
         |    FROM ss) WHERE rn = 1 OR (rn <= 3 AND best - sim <= 0.2)),
         |sc AS (SELECT e.vec_id, m.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM ev e JOIN ps p ON p.vec_id = e.vec_id
         |  JOIN mem m ON m.sid = p.sid JOIN cent2 c ON c.cid = m.cid),
         |gate AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, sim,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn,
         |      max(sim) OVER (PARTITION BY vec_id) AS best
         |    FROM sc) WHERE rn = 1 OR (rn <= 3 AND best - sim <= 0.2))
         |SELECT vec_id, cid AS cell FROM gate
         |ORDER BY vec_id ASC, cell ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val cents = VS.trainIvfCodebook(emb(s, dir), k = 64, iters = 2,
        sampleBuckets = 3)
      val groups = VS.superCluster(cents)
      emb(s, dir).select(col("vec_id"),
          explode(NE.ivfTopCellsMarginHier(
            VF.toDoubles(col("embedding")), groups,
            cap = 3, margin = 0.2, superCap = 3, superMargin = 0.2))
            .as("cell"))
        .orderBy(col("vec_id").asc, col("cell").asc)
    },

    // ------------------------------------------------------------------
    // TRUNCATED-DIMENSION TWO-STAGE SEARCH (q158, r13) — the matryoshka
    // serving pattern: coarse-rank ALL candidates on a 32-dim PREFIX of
    // the embedding (half the bytes moved — with MRL-trained embeddings
    // the prefix is a designed coarse representation; here it is an
    // honest proxy whose recall is MEASURED, 0.89@10 at this dial in
    // VectorSearchSpec, alongside the mapped-out prefix/candidate curve:
    // 16/50→0.50 up to 32/200→0.99), keep the top-100, then exact-rerank
    // ONLY those 100 on the full 64 dims — the q107 rerank discipline
    // applied to dimension truncation instead of PQ codes. At 100 TB the
    // full-width vectors are touched for candidate-count rows, never
    // corpus-count; the coarse pass composes with any cell-bucketed
    // entry point (prefix cosine is just a cheaper scorer). Two
    // TakeOrdered plans, broadcast candidate join, zero corpus shuffles.
    QueryDef.sql(
      "q158_ann_matryoshka",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS vp
        |  FROM embeddings),
        |p AS (SELECT v AS pv, vp AS pvp FROM e WHERE vec_id = 1),
        |coarse AS (SELECT e.vec_id,
        |    round(list_cosine_similarity(e.vp, p.pvp), 4) AS cs
        |  FROM e, p WHERE e.vec_id <> 1
        |  ORDER BY cs DESC, vec_id ASC LIMIT 100),
        |rer AS (SELECT c.vec_id,
        |    round(list_cosine_similarity(e.v, p.pv), 4) AS cosine
        |  FROM coarse c JOIN e ON e.vec_id = c.vec_id CROSS JOIN p)
        |SELECT vec_id, cosine FROM rer
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorFunctions => VF}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val withPrefix = e.select(col("vec_id"),
        VF.toDoubles(col("embedding")).as("v"),
        VF.toDoubles(slice(col("embedding"), 1, 32)).as("vp"))
      val probe = broadcast(withPrefix.filter(col("vec_id") === 1)
        .select(col("v").as("pv"), col("vp").as("pvp")))
      val coarse = withPrefix.filter(col("vec_id") =!= 1)
        .crossJoin(probe)
        .select(col("vec_id"),
          round(VF.cosine(col("vp"), col("pvp")), 4).as("cs"))
        .orderBy(col("cs").desc, col("vec_id").asc)
        .limit(100)
      // full-width vectors are read back for the 100 survivors only
      withPrefix.join(broadcast(coarse.select(col("vec_id"))), Seq("vec_id"))
        .crossJoin(probe)
        .select(col("vec_id"),
          round(VF.cosine(col("v"), col("pv")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    },

    // ------------------------------------------------------------------
    // RELEASE-PIPELINE CAPSTONE (q152, r13) — the end-to-end artifact a
    // 100 TB pretraining run actually ships, composed from pieces that
    // are each individually oracle-green: (1) the q142 trained quality
    // gate (3 GD iterations, score >= 0.5 keeps), (2) exact dedup among
    // the quality survivors (canonical = min doc_id per normalized-text
    // digest), (3) semantic dedup survivors from q150's production IMI
    // chain (corpus-scaled product cells, margin-gated multi-probe;
    // docs without an embedding can't be semantic dups and keep), (4) q135's benchmark decontamination
    // (drop >= 2 shared 3-grams with the probe set, bloom pre-filter on
    // the Spark side, exact join in the oracle — the bloom cannot change
    // the answer), (5) the q147 deterministic md5 split, (6) a per-split
    // release card: docs, whitespace tokens, 512-token chunk count and
    // oversize count (document-wise chunking — cross-doc greedy packing
    // is q57's own operator), mean quality score. What the composition
    // PROVES beyond its parts: every stage is data-REDUCING (filters and
    // keep-sets only — the corpus is scanned a bounded number of times
    // and nothing joins corpus-to-corpus except the digest self-agg),
    // and the whole plan's exchange count stays bounded (pinned in
    // PlanAuditSpec): the drop-sets (semantic non-survivors,
    // contaminated ids) are corpus-SUBSET-sized and broadcast into
    // anti-joins, the quality weights are 4 literals, and the final
    // card is one hash agg on the split column. The oracle replays
    // training (GD + k-means), closure, decontamination, split, and
    // card CTE-for-CTE.
    {
      def dot(w: String) = s"($w.w0*f0 + $w.w1*f1 + $w.w2*f2 + $w.w3*f3)"
      def step(prev: String, cur: String) =
        s"$cur AS (SELECT " + (0 to 3).map(i =>
          s"round(min(w.w$i) + avg((y - 1/(1+exp(-${dot("w")})))*f$i), 8) AS w$i")
          .mkString(", ") + s" FROM f, $prev w)"
      QueryDef.sql(
        "q152_release_pipeline",
        s"""WITH RECURSIVE ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = MpCap, margin = MpMargin.toString)},
           |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
           |und AS (SELECT id_a AS a, id_b AS b FROM pairs
           |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
           |reach(node, lbl) AS (
           |  SELECT a AS node, a AS lbl FROM und
           |  UNION
           |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
           |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
           |semdrop AS (SELECT node AS doc_id FROM comp WHERE component <> node),
           |base AS (SELECT doc_id, text, n_chars,
           |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+') AS toks
           |  FROM documents),
           |f AS (SELECT doc_id, 1.0 AS f0,
           |    round(least(length(text) / 1000.0, 1.0), 6) AS f1,
           |    round(CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           |        / length(text) END, 6) AS f2,
           |    round(CASE WHEN len(toks) = 0 THEN 0.0
           |      ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS f3,
           |    CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
           |  FROM base),
           |w1 AS (SELECT round(avg((y - 0.5)*f0), 8) AS w0,
           |    round(avg((y - 0.5)*f1), 8) AS w1,
           |    round(avg((y - 0.5)*f2), 8) AS w2,
           |    round(avg((y - 0.5)*f3), 8) AS w3 FROM f),
           |${step("w1", "w2")},
           |${step("w2", "w3")},
           |qk AS (SELECT f.doc_id, round(1/(1+exp(-${dot("w")})), 4) AS score
           |  FROM f, w3 w
           |  WHERE round(1/(1+exp(-${dot("w")})), 4) >= 0.5),
           |ex AS (SELECT doc_id,
           |    unnest(list_transform(generate_series(0, len(toks) - 3),
           |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
           |  FROM base),
           |p AS (SELECT DISTINCT gram FROM ex WHERE doc_id < 10),
           |contaminated AS (SELECT c.doc_id
           |  FROM (SELECT doc_id, gram FROM ex WHERE doc_id >= 10) c
           |  JOIN p USING (gram) GROUP BY c.doc_id
           |  HAVING count(DISTINCT c.gram) >= 2),
           |corpus AS (SELECT d.doc_id, d.text, qk.score
           |  FROM documents d JOIN qk ON qk.doc_id = d.doc_id
           |  WHERE d.doc_id >= 10),
           |dg AS (SELECT doc_id, text, score,
           |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest
           |  FROM corpus),
           |ek AS (SELECT dg.doc_id, dg.text, dg.score FROM dg
           |  JOIN (SELECT digest, min(doc_id) AS doc_id FROM dg GROUP BY digest) m
           |    ON dg.digest = m.digest AND dg.doc_id = m.doc_id),
           |kept AS (SELECT ek.doc_id, ek.text, ek.score FROM ek
           |  LEFT JOIN semdrop sd ON sd.doc_id = ek.doc_id
           |  LEFT JOIN contaminated ct ON ct.doc_id = ek.doc_id
           |  WHERE sd.doc_id IS NULL AND ct.doc_id IS NULL),
           |final AS (SELECT doc_id, score,
           |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |        % 10 < 8 THEN 'train' ELSE 'val' END AS split,
           |    len(list_filter(string_split_regex(trim(text), '\\s+'),
           |      x -> x <> '')) AS ntok
           |  FROM kept)
           |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
           |  CAST(sum(CAST(ceil(ntok / 512.0) AS BIGINT)) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN ntok > 512 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_oversize,
           |  round(avg(score), 4) AS mean_score
           |FROM final GROUP BY split ORDER BY split ASC""".stripMargin) { (s, dir) =>
        import graft.functions.{VectorSearch => VS, BloomRef}
        val d = docs(s, dir)
        // r20 FUSION: the pipeline used to make four tokenize/scan passes
        // over the corpus — the quality-feature pass, the n-gram explode
        // (decontamination), the digest pass, and the final card's token
        // count each re-ran normalize/tokenize from the parquet scan.
        // All four are per-row projections of the same scan, so ONE
        // materialized base row now carries the features, the label, the
        // dedup digest, the card's token count, and the normalized token
        // array the n-gram stage explodes (guide §1.2/§3.3 — the q164
        // duplicate-subtree cure applied to the whole capstone). Every
        // value is the same expression over the same rows as before;
        // only the number of corpus passes changes (4 → 1).
        val toksN = TF.tokens(TF.normalizeText(col("text")))
        val fTbl = Tables.spread(s, d).select(col("doc_id"),
            lit(1.0).as("f0"),
            round(least(length(col("text")) / lit(1000.0), lit(1.0)), 6).as("f1"),
            round(when(length(col("text")) === 0, 0.0)
              .otherwise(length(regexp_replace(col("text"), "[^A-Za-z]", ""))
                .cast("double") / length(col("text"))), 6).as("f2"),
            round(when(size(toksN) === 0, 0.0)
              .otherwise(size(array_distinct(toksN)).cast("double")
                / size(toksN)), 6).as("f3"),
            when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"),
            md5(TF.normalizeText(col("text"))).as("digest"),
            size(filter(TF.tokens(col("text")), t => length(t) > 0)).as("ntok"),
            toksN.as("toks"))
          .localCheckpoint()
        val feats = Seq("f0", "f1", "f2", "f3")
        var w = Array.fill(4)(0.0)
        // training is ~most of q152's bench cost BY DESIGN (the oracle
        // replays it); stamp the phases for the bench `sub` map so a
        // regression in the composed gate itself is visible through
        // training noise (the q124.policy discipline)
        graft.BenchProbes.time("q152.train_gd") {
          for (_ <- 1 to 3) {
            val z = feats.zipWithIndex
              .map { case (c, i) => col(c) * lit(w(i)) }.reduce(_ + _)
            val resid = col("y") - lit(1.0) / (lit(1.0) + exp(-z))
            val g = fTbl.agg(avg(resid * col("f0")), avg(resid * col("f1")),
              avg(resid * col("f2")), avg(resid * col("f3"))).head()
            w = w.indices.map(i => BigDecimal(w(i) + g.getDouble(i))
              .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray
          }
        }
        val zFinal = feats.zipWithIndex
          .map { case (c, i) => col(c) * lit(w(i)) }.reduce(_ + _)
        val scoreC = round(lit(1.0) / (lit(1.0) + exp(-zFinal)), 4)
        // (3) semantic non-survivors from the q150 production IMI chain;
        // the drop-set is cluster-member-sized, broadcast below
        val eTbl = emb(s, dir).select(col("vec_id"), col("embedding"))
        val (cb1, cb2, halfD) = graft.BenchProbes.time("q152.train_cells") {
          // r14: IMI replaces the flat k=32 trainer — the flat n·K Lloyd
          // assignment was 270.9 s of the sf10 capstone (VERDICT r13 #1).
          // r15: k per half scales with the corpus count and the
          // assignment is the margin-gated multi-probe (recall parity
          // with flat at equal cell count — VERDICT r14 #1/#2)
          VS.trainImiCodebooks(eTbl, k = VS.scaledKHalf(eTbl.count()),
            iters = 3, sampleBuckets = 3)
        }
        val semDrop = graft.BenchProbes.time("q152.semantic") {
          val edges = VS.imiDedupPairsMp(Tables.spread(s, eTbl), cb1, cb2,
              halfD, cap = MpCap, margin = MpMargin, threshold = 0.4,
              dedup = false)
            .select(col("id_a").as("a"), col("id_b").as("b"))
          graft.operators.ConnectedComponents.run(edges, "a", "b")
            .filter(col("component") =!= col("node"))
            .select(col("node").as("doc_id"))
        }
        // (4) decontamination: q135's bloom pre-filter before any
        // exchange, exact confirm join restores exactness; the n-grams
        // explode the base's materialized token arrays — no re-tokenize
        val exploded = fTbl
          .select(col("doc_id"), explode(NE.wordNgrams(col("toks"), 3)).as("gram"))
        val probeGrams = exploded.filter(col("doc_id") < 10)
          .select(col("gram")).distinct()
        val bloom = graft.BenchProbes.time("q152.bloom") {
          BloomRef.build(probeGrams, "gram",
            expectedItems = math.max(probeGrams.count(), 1L), fpp = 0.01)
        }
        val contaminated = exploded.filter(col("doc_id") >= 10)
          .filter(NE.bloomMightContain(col("gram"), bloom))
          .join(broadcast(probeGrams), Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .select(col("doc_id"))
        // (2) exact dedup among quality survivors, then the keep-set:
        // the quality gate is a FILTER on the base (the old corpus-sized
        // documents⨝quality join is gone — both sides were projections of
        // the same base row), and keep-the-min-doc-per-digest is one
        // struct-min aggregation instead of groupBy + join-back (doc_id
        // is unique, so the lexicographic struct min IS the min-doc row)
        val dg = fTbl.filter(col("doc_id") >= 10 && scoreC >= 0.5)
          .select(col("digest"), col("doc_id"), scoreC.as("score"), col("ntok"))
        val kept = dg.groupBy(col("digest"))
          .agg(min(struct(col("doc_id"), col("score"), col("ntok"))).as("m"))
          .select(col("m.doc_id").as("doc_id"), col("m.score").as("score"),
            col("m.ntok").as("ntok"))
          .join(broadcast(semDrop), Seq("doc_id"), "left_anti")
          .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        // (5) deterministic split + (6) the per-split release card
        val split = when(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long") % 10 < 8, "train").otherwise("val")
        kept.select(split.as("split"), col("score"), col("ntok"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).cast("long").as("total_tokens"),
            sum(ceil(col("ntok") / lit(512.0))).cast("long").as("n_chunks"),
            sum(when(col("ntok") > 512, 1L).otherwise(0L)).cast("long")
              .as("n_oversize"),
            round(avg(col("score")), 4).as("mean_score"))
          .orderBy(col("split").asc)
      }
    },

    // ------------------------------------------------------------------
    // HARD-NEGATIVE MINING (r13) — the contrastive-training face of the
    // trained-cell family: for every anchor vector, its top-3 highest-
    // cosine neighbors carrying a DIFFERENT label. Random negatives are
    // trivially separable and teach an embedding model nothing; the
    // negatives that matter are the ones sitting closest to the anchor,
    // and mining them exactly is an all-pairs pass — so this rides the
    // IDENTICAL production-k chain as q133 (k=32 cells, nAssign=2,
    // 12.5 % of the pair space) with the label-mismatch predicate pushed
    // INTO the cell join, where it prunes candidates before either
    // window. Scale shape: same as q133 — assignment is shuffle-free,
    // the only exchange is the cell-keyed join, the per-(cell, anchor)
    // top-k is a local sort on the join's partitioning, and k-the-cell-
    // count is the measured lever (BASELINE.md r14–r15 rows). The
    // oracle replays training, 2-of-32 assignment, mismatch pairing, and
    // ranking CTE-for-CTE.
    QueryDef.sql(
      "q179_hard_negatives",
      s"""WITH ${kmeansCtes(k = 32, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.label, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, label, v, cid AS cell FROM (
         |    SELECT vec_id, label, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    b.label AS nbr_label,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |      AND a.label <> b.label),
         |ranked AS (SELECT src, nbr, nbr_label, cosine,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, nbr ASC) AS rnk
         |  FROM cand)
         |SELECT src, CAST(rnk AS INTEGER) AS rnk, nbr, nbr_label, cosine
         |FROM ranked WHERE rnk <= 3
         |ORDER BY src ASC, rnk ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val cents = VS.trainIvfCodebook(
        e.select(col("vec_id"), col("embedding")),
        k = 32, iters = 3, sampleBuckets = 3)
      VS.hardNegatives(Tables.spread(s, e), cents, nAssign = 2, k = 3)
        .select(col("src"), col("rnk"), col("nbr"), col("nbr_label"),
          col("cosine"))
        .orderBy(col("src").asc, col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // SOFT-DEDUP SAMPLING WEIGHTS (r13) — the reweighting alternative to
    // hard semantic dedup (q150 keeps one survivor per cluster and drops
    // the rest; SoftDeDup-style curation instead keeps EVERY member at
    // sampling weight 1/cluster_size, so near-dup content contributes one
    // effective copy to training without a hard drop decision). Composes
    // the q150 production IMI pair chain: pairs → connected components →
    // component sizes → weight_e4 = floor(10^4/size + 0.5) per member,
    // 10^4 for singletons. The weight arithmetic is integer fixed-point,
    // so both engines agree exactly. Scale shape: the pair chain is the
    // measured k-lever family; the closure runs on the PAIR table (output-
    // sized, not corpus-sized); sizes are one keyed agg; the final join
    // back to the corpus is keyed by vec_id with the component table
    // cluster-member-sized — broadcastable at any corpus scale where the
    // near-dup fraction is bounded. Output also carries the effective-
    // dataset-size story: SUM(weight_e4)/10^4 is the corpus's effective
    // row count after soft dedup.
    QueryDef.sql(
      "q180_softdedup_weights",
      s"""WITH RECURSIVE ${imiProdCtesMp(iters = 3, sampleBuckets = 3, cap = MpCap, margin = MpMargin.toString)},
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT a AS node, a AS lbl FROM und
         |  UNION
         |  SELECT u.a AS node, r.lbl FROM und u JOIN reach r ON u.b = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         |sized AS (SELECT component, count(*) AS csize FROM comp
         |  GROUP BY component)
         |SELECT ev.vec_id,
         |  CAST(coalesce(c.component, ev.vec_id) AS BIGINT) AS component,
         |  CAST(coalesce(s.csize, 1) AS BIGINT) AS csize,
         |  CAST(floor(10000.0 / coalesce(s.csize, 1) + 0.5) AS BIGINT)
         |    AS weight_e4
         |FROM (SELECT vec_id FROM embeddings) ev
         |LEFT JOIN comp c ON ev.vec_id = c.node
         |LEFT JOIN sized s ON c.component = s.component
         |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (cb1, cb2, half) = VS.trainImiCodebooks(e,
        k = VS.scaledKHalf(e.count()), iters = 3, sampleBuckets = 3)
      val edges = VS.imiDedupPairsMp(Tables.spread(s, e), cb1, cb2, half,
          cap = MpCap, margin = MpMargin, threshold = 0.4, dedup = false)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = graft.operators.ConnectedComponents.run(edges, "a", "b")
        .withColumnRenamed("node", "vec_id")
      val sized = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      e.select(col("vec_id"))
        .join(broadcast(comp), Seq("vec_id"), "left")
        .join(broadcast(sized), Seq("component"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"),
          coalesce(col("csize"), lit(1L)).cast("long").as("csize"),
          floor(lit(10000.0) / coalesce(col("csize"), lit(1L)) + lit(0.5))
            .cast("long").as("weight_e4"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // INCREMENTAL NEAR-DUP vs a MINHASH SIGNATURE STORE (q189, r13) —
    // q99's incremental pattern lifted from exact digests to NEAR-dups:
    // the history corpus's LSH band keys live in a PERSISTED store
    // bucketed by band key (each key md5-prefixed with its band index,
    // so one column is the complete join identity); an incoming delta
    // computes its own band keys (the q42 native signature kernel — a
    // row-local pass, no exchange) and LEFT-joins the store: co-bucketed
    // layout ⇒ the history side never reshuffles, the join input is
    // delta-sized, and each incoming doc leaves with its history-match
    // count and first match. Incoming includes REPLAYS of history docs
    // with one appended token (near-dup but digest-distinct — exactly
    // what q99's exact store cannot catch), keeping the detection path
    // live per the q40/q99 injection discipline. At 100 TB the store is
    // the standing artifact; each day pays only its delta's signatures
    // plus a band-bucket-pruned probe.
    QueryDef.sql(
      "q189_dedup_incremental_minhash", {
        val sigSelects = (0 until 16)
          .map(j => s"min((${MinhashParams.a(j)} * h + ${MinhashParams.b(j)}) " +
            s"% ${MinhashParams.p}) AS s$j").mkString(", ")
        val bandSelects = (0 until 4).map { b =>
          val cols = (0 until 4).map(i => s"s${b * 4 + i}").mkString(", ")
          s"SELECT doc_id, md5(concat_ws('|', '$b', $cols)) AS bk FROM sig"
        }.mkString("\nUNION ALL ")
        s"""WITH base AS (SELECT doc_id, text,
           |    ('0x' || substr(md5('mh' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS g
           |  FROM documents),
           |corpus AS (
           |  SELECT doc_id, text, g FROM base
           |  UNION ALL
           |  SELECT doc_id + 500000 AS doc_id, text || ' xtra' AS text,
           |    9 AS g
           |  FROM base WHERE g < 8 AND doc_id % 50 = 0),
           |t AS (SELECT doc_id, g,
           |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+') AS toks
           |  FROM corpus),
           |ex0 AS (SELECT doc_id, g,
           |    unnest(list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
           |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
           |  FROM t),
           |ex AS (SELECT doc_id, g,
           |    ('0x' || substr(md5(sh), 18, 15))::BIGINT % ${MinhashParams.p} AS h
           |  FROM ex0),
           |sig AS (SELECT doc_id, any_value(g) AS g, $sigSelects
           |  FROM ex GROUP BY doc_id),
           |bands AS ($bandSelects),
           |hist AS (SELECT DISTINCT b.bk, b.doc_id AS hist_id
           |  FROM bands b JOIN sig s ON b.doc_id = s.doc_id WHERE s.g < 8),
           |inc AS (SELECT DISTINCT b.doc_id, b.bk
           |  FROM bands b JOIN sig s ON b.doc_id = s.doc_id WHERE s.g >= 8)
           |SELECT i.doc_id,
           |  CAST(count(DISTINCT h.hist_id) AS BIGINT) AS n_hist,
           |  CAST(coalesce(min(h.hist_id), -1) AS BIGINT) AS first_match
           |FROM inc i LEFT JOIN hist h ON i.bk = h.bk
           |GROUP BY i.doc_id ORDER BY i.doc_id ASC""".stripMargin
      }) { (s, dir) =>
      import graft.operators.Layout
      val base = docs(s, dir).select(col("doc_id"), col("text"),
        (conv(substring(md5(concat(lit("mh"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 10).as("g"))
      val corpus = base.unionAll(
        base.filter(col("g") < 8 && col("doc_id") % 50 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"),
            concat(col("text"), lit(" xtra")).as("text"), lit(9L).as("g")))
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val sigArr = NE.minhashSigs(toks,
        (0 until 16).map(MinhashParams.a), (0 until 16).map(MinhashParams.b),
        MinhashParams.p)
      val sigs = Tables.spread(s, corpus)
        .select(col("doc_id"), col("g"), sigArr.as("sig"))
        .select(col("doc_id") :: col("g") :: (0 until 16).map(j =>
          element_at(col("sig"), j + 1).as(s"s$j")).toList: _*)
      val bandKeys = (0 until 4).map(b =>
        md5(concat_ws("|", lit(b.toString) +:
          (0 until 4).map(i => col(s"s${b * 4 + i}").cast("string")): _*)))
      // r19: materialized — the history and incoming writes otherwise
      // each re-ran the tokenize+minhash signature pass (the expensive
      // half of the query) when their g-filters pushed below it
      val withKeys = sigs.select(col("doc_id"), col("g"),
        explode(array(bandKeys: _*)).as("bk"))
        .localCheckpoint()
      val db = "graft_minhash_store"
      freshDb(s, db,
        s"${System.getProperty("java.io.tmpdir")}/graft_minhash_store_db")
      Layout.writeBucketed(
        withKeys.filter(col("g") < 8)
          .select(col("bk"), col("doc_id").as("hist_id")).distinct(),
        s"$db.history_bands", "bk", 16, Seq("bk"))
      Layout.writeBucketed(
        withKeys.filter(col("g") >= 8)
          .select(col("doc_id"), col("bk")).distinct(),
        s"$db.incoming_bands", "bk", 16, Seq("bk"))
      s.table(s"$db.incoming_bands")
        .join(s.table(s"$db.history_bands"), Seq("bk"), "left")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("hist_id")).as("n_hist"),
          coalesce(min(col("hist_id")), lit(-1L)).cast("long")
            .as("first_match"))
        .select(col("doc_id"), col("n_hist"), col("first_match"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // INCREMENTAL IMAGE NEAR-DUP vs a PERSISTED pHASH STORE (q210, r14;
    // r16 wide bands — VERDICT r15 #6) — q189's standing-artifact
    // economics applied to the IMAGE corpus: the history's aHash BANDS
    // live in a store bucketed by band key (md5(band_idx | band_value) —
    // one column is the complete join identity), each row carrying the
    // full 4×64-bit hash so the probe can confirm exactly; an incoming
    // delta computes its own bands (one narrow real-decode pass) and
    // LEFT-joins the store co-bucketed — the history never reshuffles,
    // the join input is delta-sized, and each incoming image leaves with
    // its candidate count (band collisions), CONFIRMED near-dup count
    // (hamming ≤ 3 on the carried hashes), and first match. r16 moves
    // the STORE to the 256-bit hash in four 64-bit bands (q215's lever,
    // now the default): on the retired 2^16 band space chance collisions
    // grow ~n²/2^16 and the store probe pays them forever; on 2^64 the
    // candidate set is true-dup-sized at any corpus. Incoming includes
    // one-value REPLAYS of history images (digest-distinct; byte digests
    // see nothing), per the q40/q99 liveness discipline — the
    // perturbation moves one 2×2 pixel block AND the global mean, so
    // some replays confirm at hamming ≤ 3 while others drift past it
    // (the honest reason the exact confirm exists at all). At 100 TB the
    // store is the standing artifact; each day pays its delta's decode +
    // a band-bucket-pruned probe.
    QueryDef.sql(
      "q210_phash_incremental_store",
      """WITH base AS (SELECT vec_id, embedding,
        |    ('0x' || substr(md5('ph' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS g
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, embedding, g FROM base
        |  UNION ALL
        |  SELECT vec_id + 500000 AS vec_id,
        |    CASE WHEN vec_id % 50 = 0 THEN embedding
        |      ELSE list_transform(generate_series(1, len(embedding)),
        |        i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
        |             ELSE embedding[i] END) END AS embedding,
        |    9 AS g
        |  FROM base WHERE g < 8 AND vec_id % 25 = 0),
        |px AS (SELECT vec_id, g,
        |    list_transform(generate_series(0, 255), i ->
        |      greatest(0, least(255,
        |        greatest(0, least(255,
        |          CAST(floor((CAST(embedding[((i // 16) // 2) * 8
        |            + ((i % 16) // 2) + 1] AS DOUBLE) + 1.0) * 127.5)
        |            AS INTEGER)))
        |        + CASE ((i // 16) % 2) * 2 + ((i % 16) % 2)
        |            WHEN 0 THEN 0 WHEN 1 THEN 9 WHEN 2 THEN -7
        |            ELSE 4 END))) AS p
        |  FROM corpus),
        |hs AS (SELECT vec_id, g, p, list_reduce(p, (a, b) -> a + b) AS s
        |  FROM px),
        |bjs AS (SELECT vec_id, g, j,
        |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
        |      AS BIGINT) AS b
        |  FROM (SELECT vec_id, g, j,
        |      list_reduce(list_transform(generate_series(0, 63), t ->
        |        CASE WHEN 256 * p[64*j + t + 1] >= s
        |          THEN (1::HUGEINT << t) ELSE 0::HUGEINT END),
        |        (a, x) -> a + x) AS u
        |    FROM hs CROSS JOIN generate_series(0, 3) gs(j))),
        |bands AS (SELECT vec_id, any_value(g) AS g,
        |    list(b ORDER BY j ASC) AS bd
        |  FROM bjs GROUP BY vec_id),
        |keys AS (SELECT vec_id, g, bd,
        |    md5(CAST(j AS VARCHAR) || '|' || CAST(bd[j + 1] AS VARCHAR)) AS bk
        |  FROM bands, generate_series(0, 3) t(j)),
        |hist AS (SELECT DISTINCT bk, vec_id AS hist_id, bd AS hbd
        |  FROM keys WHERE g < 8),
        |inc AS (SELECT DISTINCT vec_id, bk, bd FROM keys WHERE g >= 8),
        |probe AS (SELECT i.vec_id, h.hist_id,
        |    CASE WHEN h.hist_id IS NULL THEN NULL ELSE
        |      bit_count(xor(CAST(i.bd[1] AS BIGINT), CAST(h.hbd[1] AS BIGINT)))
        |      + bit_count(xor(CAST(i.bd[2] AS BIGINT), CAST(h.hbd[2] AS BIGINT)))
        |      + bit_count(xor(CAST(i.bd[3] AS BIGINT), CAST(h.hbd[3] AS BIGINT)))
        |      + bit_count(xor(CAST(i.bd[4] AS BIGINT), CAST(h.hbd[4] AS BIGINT)))
        |    END AS ham
        |  FROM inc i LEFT JOIN hist h ON i.bk = h.bk)
        |SELECT vec_id,
        |  CAST(count(DISTINCT hist_id) AS BIGINT) AS n_cand,
        |  CAST(count(DISTINCT CASE WHEN ham <= 3 THEN hist_id END) AS BIGINT)
        |    AS n_near,
        |  CAST(coalesce(min(CASE WHEN ham <= 3 THEN hist_id END), -1)
        |    AS BIGINT) AS first_near
        |FROM probe GROUP BY vec_id
        |ORDER BY vec_id ASC""".stripMargin) { (s, dir) =>
      import graft.operators.Layout
      val base = emb(s, dir).select(col("vec_id"), col("embedding"),
        (conv(substring(md5(concat(lit("ph"), col("vec_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 10).as("g"))
      // replays: every 50th history image re-arrives EXACT (hamming 0 —
      // the always-confirmable face), the others one-value perturbed
      // (some confirm at <= 3, some drift past — the candidate-vs-
      // confirmed distinction stays live on the 256-bit hash)
      val corpus = base.unionAll(
        base.filter(col("g") < 8 && col("vec_id") % 25 === 0)
          .select((col("vec_id") + 500000L).as("vec_id"),
            when(col("vec_id") % 50 === 0, col("embedding"))
              .otherwise(transform(col("embedding"),
                (x, i) => when(i === 0, lit(1.0f)).otherwise(x)))
              .as("embedding"),
            lit(9L).as("g")))
      // checkpoint before the fan-out (history write + incoming write
      // each re-reference the hash table): the 200k ImageIO TIFF decodes
      // must run once, not once per consumer (~40 s -> ~12 s at sf10)
      val ph = graft.functions.Multimodal.imageAHashWide(
          graft.functions.Multimodal.embeddingsAsTiff16(
            Tables.spread(s, corpus)), side = 16).toDF()
        .join(corpus.select(col("vec_id").as("id"), col("g")), Seq("id"))
        .localCheckpoint()
      val bandCols = Seq("b0", "b1", "b2", "b3")
      val withKeys = ph.select(
          col("id") :: col("g") :: bandCols.map(col).toList: _*)
        .withColumn("bk", explode(array((0 until 4).map(j =>
          md5(concat(lit(j.toString), lit("|"),
            col(bandCols(j)).cast("string")))): _*)))
      val db = "graft_phash_store"
      freshDb(s, db,
        s"${System.getProperty("java.io.tmpdir")}/graft_phash_store_db")
      Layout.writeBucketed(
        withKeys.filter(col("g") < 8)
          .select(col("bk") :: col("id").as("hist_id") ::
            bandCols.map(c => col(c).as(s"h_$c")).toList: _*).distinct(),
        s"$db.history_bands", "bk", 16, Seq("bk"))
      Layout.writeBucketed(
        withKeys.filter(col("g") >= 8)
          .select(col("id").as("vec_id") :: col("bk") ::
            bandCols.map(col).toList: _*).distinct(),
        s"$db.incoming_bands", "bk", 16, Seq("bk"))
      val ham = bandCols
        .map(c => bit_count(col(c).bitwiseXOR(col(s"h_$c"))))
        .reduce(_ + _)
      s.table(s"$db.incoming_bands")
        .join(s.table(s"$db.history_bands"), Seq("bk"), "left")
        .select(col("vec_id"), col("hist_id"),
          when(col("hist_id").isNull, lit(null)).otherwise(ham).as("ham"))
        .groupBy(col("vec_id"))
        .agg(
          countDistinct(col("hist_id")).as("n_cand"),
          countDistinct(when(col("ham") <= 3, col("hist_id"))).as("n_near"),
          coalesce(min(when(col("ham") <= 3, col("hist_id"))), lit(-1L))
            .cast("long").as("first_near"))
        .orderBy(col("vec_id").asc)
    },

    // ------------------------------------------------------------------
    // TRIPLET MINING (q195, r13) — the full contrastive-training export:
    // for every anchor, its hardest POSITIVE (nearest same-label
    // neighbor — the pair the model must pull together) and hardest
    // NEGATIVE (q179's nearest different-label neighbor — the pair it
    // must push apart), plus the margin between them. Anchors whose
    // cells hold no same-label or no different-label co-member drop out
    // (an inner join on both sides — a triplet needs all three legs).
    // Both legs are the identical labelNeighbors operator at the
    // production-k setting, differing only in the label predicate —
    // which lives IN the cell join, so both rankings are exact over
    // their populations. margin_e4 = 1e4·(pos_cos − neg_cos), integer
    // fixed point on already-4-decimal cosines: the quantity a training
    // run monitors (negative margins are the informative triplets).
    QueryDef.sql(
      "q195_triplet_mining",
      s"""WITH ${kmeansCtes(k = 32, iters = 3, sampleBuckets = 3)},
         |e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |scored AS (SELECT e.vec_id, e.label, e.v, c.cid,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS sim
         |  FROM e CROSS JOIN cent3 c),
         |assigned AS (SELECT vec_id, label, v, cid AS cell FROM (
         |    SELECT vec_id, label, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn <= 2),
         |cand_p AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |      AND a.label = b.label),
         |pos AS (SELECT src, nbr AS pos, cosine AS pos_cos FROM (
         |  SELECT src, nbr, cosine, row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, nbr ASC) AS rnk FROM cand_p)
         |  WHERE rnk = 1),
         |cand_n AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |      AND a.label <> b.label),
         |neg AS (SELECT src, nbr AS neg, cosine AS neg_cos FROM (
         |  SELECT src, nbr, cosine, row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, nbr ASC) AS rnk FROM cand_n)
         |  WHERE rnk = 1)
         |SELECT p.src AS anchor, p.pos, p.pos_cos, n.neg, n.neg_cos,
         |  CAST(floor((p.pos_cos - n.neg_cos) * 10000.0 + 0.5) AS BIGINT)
         |    AS margin_e4
         |FROM pos p JOIN neg n ON p.src = n.src
         |ORDER BY anchor ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{VectorSearch => VS}
      val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val cents = VS.trainIvfCodebook(
        e.select(col("vec_id"), col("embedding")),
        k = 32, iters = 3, sampleBuckets = 3)
      val sp = Tables.spread(s, e)
      val pos = VS.labelNeighbors(sp, cents, nAssign = 2, k = 1,
          sameLabel = true)
        .select(col("src").as("anchor"), col("nbr").as("pos"),
          col("cosine").as("pos_cos"))
      val neg = VS.labelNeighbors(sp, cents, nAssign = 2, k = 1,
          sameLabel = false)
        .select(col("src").as("anchor"), col("nbr").as("neg"),
          col("cosine").as("neg_cos"))
      pos.join(neg, Seq("anchor"))
        .select(col("anchor"), col("pos"), col("pos_cos"),
          col("neg"), col("neg_cos"),
          floor((col("pos_cos") - col("neg_cos")) * 10000.0 + 0.5)
            .cast("long").as("margin_e4"))
        .orderBy(col("anchor").asc)
    }
  )
}
