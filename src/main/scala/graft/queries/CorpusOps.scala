package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus analytics & curation operators, batch 2 (round 9): lexical
  * ranking (BM25), PII redaction, passage-level dedup, distribution
  * profiling (histogram/CDF), and group-wise anomaly detection. These are
  * the remaining table-stakes passes of a production training-data
  * pipeline that the earlier suites (LlmPipeline, TrainingPipeline) did
  * not yet cover.
  *
  * Scale discipline (same as every suite): declarative DataFrame plans,
  * map-side-combined hash aggregations, broadcast for the tiny sides
  * (term stats, per-group moments, bin totals), no UDFs — every string
  * kernel here is a codegen'd built-in (regexp_*, split, transform), so
  * the corpus streams through narrow stages once per pass.
  */
object CorpusOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** BM25 query-term set, frozen for oracle determinism. In production the
    * terms arrive per query; the plan shape is term-count-independent. */
  private val Bm25Terms = Seq("spark", "table", "join")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  // PII patterns — valid in BOTH Java regex (Spark) and RE2 (DuckDB):
  // no backreferences, no lookaround. \b is supported by both.
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Passage chunk width (tokens). Frozen small so the synthetic word-soup
    * corpus actually contains cross-document duplicate chunks; real
    * passage dedup runs 50-200-token windows — the width only changes a
    * literal, never the plan. */
  private val ChunkW = 3

  /** q118's per-doc BM25 scores (shared by q118 and the q146 hybrid):
    * token explode → two map-side-combined aggs (per-doc tf on query
    * terms, per-doc length); df and corpus stats broadcast back; 4-dec
    * rounded per-term contributions summed per doc. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"),
        explode(TF.tokens(lower(trim(col("text"))))).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("tok").isin(Bm25Terms.map(x => x: Any): _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = broadcast(tf.groupBy(col("tok")).agg(count(lit(1)).as("df")))
    val st = broadcast(
      dl.agg(avg(col("dl").cast("double")).as("avgdl"))
        .crossJoin(docs(s, dir).agg(count(lit(1)).as("n"))))
    val idf = log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") + lit(Bm25K1) *
      (lit(1) - Bm25B + lit(Bm25B) * col("dl") / col("avgdl"))
    tf.join(dfreq, "tok").join(dl, "doc_id").crossJoin(st)
      .select(col("doc_id"),
        round(idf * col("tf") * (Bm25K1 + 1) / norm, 4).as("c"))
      .groupBy(col("doc_id")).agg(round(sum(col("c")), 4).as("bm25"))
  }

  /** q118's BM25 CTE chain (shared oracle text for q118/q146), ending in
    * `scored(doc_id, bm25)`. */
  private val Bm25ScoredSql: String =
    s"""toks AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks
       |  WHERE length(tok) > 0 GROUP BY doc_id),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN ('spark', 'table', 'join') GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |st AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl,
       |    (SELECT count(*) FROM documents) AS n FROM dl),
       |contrib AS (SELECT tf.doc_id,
       |    round(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))
       |      * tf.tf * (1.2 + 1)
       |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)),
       |      4) AS c
       |  FROM tf JOIN dfreq d USING (tok) JOIN dl USING (doc_id)
       |  CROSS JOIN st),
       |scored AS (SELECT doc_id, round(sum(c), 4) AS bm25
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  /** One BPE merge round as oracle CTEs (shared by q144 train and q145
    * apply): weighted pair counts over `prev`, total-order argmax, merge
    * applied by literal replace. */
  private def BpeRound(prev: String, r: Int): String =
    s"""pc$r AS (SELECT pair, sum(n) AS cnt FROM (
       |    SELECT n, unnest(list_transform(
       |      generate_series(1, len(string_split(seq, '|')) - 2),
       |      i -> string_split(seq, '|')[i] || '|' ||
       |           string_split(seq, '|')[i+1] || '|')) AS pair
       |    FROM $prev) GROUP BY pair),
       |m$r AS (SELECT pair, replace(pair, '|', '') || '|' AS merged
       |  FROM pc$r ORDER BY cnt DESC, pair ASC LIMIT 1),
       |s$r AS (SELECT t, n, replace(seq, m$r.pair, m$r.merged) AS seq
       |  FROM s${r - 1}, m$r)""".stripMargin

  /** Train the 3 BPE merges on the full-corpus word-frequency table —
    * the one training loop behind q144 (which returns the final
    * `(t, n, seq)` table), q145 (per-doc apply) and q182 (per-lang
    * fertility). One corpus pass builds the vocab-sized frequency table;
    * each round is one agg + head() over that table (vocab-sized, never
    * the corpus) and a narrow literal replace. Returns the merges in
    * learned order and the table segmented by all of them.
    */
  private def trainBpe(
      s: SparkSession, dir: String): (Seq[(String, String)], DataFrame) = {
    val wf = Tables.spread(s, docs(s, dir).select(col("text")))
      .select(explode(TF.tokens(TF.normalizeText(col("text")))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    var cur = wf
      .withColumn("seq", regexp_replace(col("t"), "(.)", "$1|"))
      .localCheckpoint()
    val merges = (1 to 3).map { _ =>
      val syms = split(col("seq"), "\\|")
      val pairs = when(size(syms) >= 3,
          transform(sequence(lit(1), size(syms) - 2),
            i => concat(element_at(syms, i), lit("|"),
              element_at(syms, i + 1), lit("|"))))
        .otherwise(array().cast("array<string>"))
      val top = cur.select(col("n"), explode(pairs).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).head()
      val pair = top.getString(0)
      val merged = pair.replace("|", "") + "|"
      cur = cur.withColumn("seq",
        org.apache.spark.sql.functions.replace(
          col("seq"), lit(pair), lit(merged)))
        .localCheckpoint()
      (pair, merged)
    }
    (merges, cur)
  }

  /** Subword count of one token under the learned merges — a pure
    * narrow expression (merges arrive as literals), zero exchanges. */
  private def bpeSubwords(merges: Seq[(String, String)])(
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val seq = merges.foldLeft(regexp_replace(t, "(.)", "$1|")) {
      case (c, (pair, merged)) =>
        org.apache.spark.sql.functions.replace(c, lit(pair), lit(merged))
    }
    (size(split(seq, "\\|")) - 1).cast("long")
  }

  def defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // BM25 ranking (Okapi, k1=1.2 b=0.75, Lucene-style idf) of the whole
    // corpus against a fixed term set — the lexical-retrieval
    // counterpart of the ANN family (q100+) and the standard first stage
    // of hybrid search. Scale shape: the token explode feeds two
    // map-side-combined hash aggs (per-doc tf restricted to query terms;
    // per-doc length); document frequencies and corpus stats are
    // term-count/1-row relations BROADCAST back, so the only shuffles
    // are the two aggs — nothing corpus-sized is ever joined shuffled.
    // Per-term contributions round to 4 decimals before the final sum
    // (float-parity discipline), and the top-10 ranking order
    // (score DESC, doc_id ASC) is total.
    QueryDef.sql(
      "q118_bm25_topk",
      s"""WITH $Bm25ScoredSql
         |SELECT doc_id, bm25 FROM scored
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      bm25Scored(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
    },

    // ------------------------------------------------------------------
    // PII redaction — the compliance pass every training corpus runs
    // before tokenization. The synthetic corpus carries no natural PII,
    // so each doc is first augmented with DETERMINISTIC derived PII
    // (email/phone/IPv4 built from doc_id — identically in both
    // engines); the operator then counts and redacts all three classes.
    // One narrow codegen'd pass (regexp_extract_all + chained
    // regexp_replace), zero shuffles before the final order — at 100 TB
    // this is a pure scan-transform-write with perfect linear scaling.
    // Redaction order (email → phone → IP) is fixed; placeholders are
    // digit-free so later patterns cannot match inside earlier
    // replacements. Output pins counts AND the md5 of the redacted text.
    QueryDef.sql(
      "q119_pii_redaction",
      s"""WITH aug AS (SELECT doc_id,
         |    text || ' contact user' || doc_id
         |      || '@mail.example.com call 555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
         |      AS a
         |  FROM documents),
         |red AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(a, '$EmailPat')) AS INTEGER) AS n_email,
         |    CAST(len(regexp_extract_all(a, '$PhonePat')) AS INTEGER) AS n_phone,
         |    CAST(len(regexp_extract_all(a, '$IpPat')) AS INTEGER) AS n_ip,
         |    regexp_replace(regexp_replace(regexp_replace(a,
         |      '$EmailPat', '<EMAIL>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g'),
         |      '$IpPat', '<IP>', 'g') AS redacted
         |  FROM aug)
         |SELECT doc_id, n_email, n_phone, n_ip, md5(redacted) AS red_md5
         |FROM red ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      val a = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256), lit(".0."),
        (col("doc_id") % 100))
      val redacted = regexp_replace(regexp_replace(regexp_replace(
        col("a"), lit(EmailPat), lit("<EMAIL>")),
        lit(PhonePat), lit("<PHONE>")),
        lit(IpPat), lit("<IP>"))
      docs(s, dir).select(col("doc_id"), a.as("a"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("a"), lit(EmailPat), lit(0)))
            .cast("int").as("n_email"),
          size(regexp_extract_all(col("a"), lit(PhonePat), lit(0)))
            .cast("int").as("n_phone"),
          size(regexp_extract_all(col("a"), lit(IpPat), lit(0)))
            .cast("int").as("n_ip"),
          md5(redacted).as("red_md5"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // PASSAGE-level dedup: documents are chunked into fixed-width token
    // windows; a chunk is a duplicate iff an identical chunk appears
    // earlier in (doc_id, chunk_idx) order anywhere in the corpus. This
    // is the sub-document granularity between exact dedup (q25/q40,
    // whole doc) and MinHash (q42, fuzzy whole doc) — the pass that
    // catches boilerplate headers/footers shared across distinct
    // documents. Scale shape: chunking is a narrow codegen'd
    // explode; first-occurrence marking is ONE window keyed by the
    // chunk digest (hash-partitioned — each digest's occurrence list is
    // tiny); the per-doc rollup is a map-side-combined agg. Nothing is
    // ever compared pairwise.
    QueryDef.sql(
      "q120_passage_dedup",
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      t -> length(t) > 0) AS tk
         |  FROM documents),
         |chunks AS (SELECT doc_id,
         |    unnest(range(CAST(ceil(len(tk) / $ChunkW.0) AS BIGINT)))
         |      AS chunk_idx,
         |    unnest(list_transform(
         |      range(CAST(ceil(len(tk) / $ChunkW.0) AS BIGINT)),
         |      i -> array_to_string(
         |        tk[($ChunkW * i + 1):($ChunkW * i + $ChunkW)], ' ')))
         |      AS passage
         |  FROM toks),
         |marked AS (SELECT doc_id, chunk_idx,
         |    row_number() OVER (PARTITION BY md5(passage)
         |      ORDER BY doc_id, chunk_idx) AS occ
         |  FROM chunks)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    / CAST(count(*) AS DOUBLE), 4) AS dup_frac
         |FROM marked GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin) {
      (s, dir) =>
      val tk = filter(TF.tokens(lower(trim(col("text")))),
        t => length(t) > 0)
      val nChunks = ceil(size(col("tk")).cast("double") / ChunkW).cast("int")
      // Guard the empty-doc edge: sequence(0, -1) would emit [0, -1]
      // (descending default step) — two phantom chunks DuckDB's range(0)
      // never produces. An empty token list has no passages; drop it.
      val base = Tables.spread(s, docs(s, dir).select(col("doc_id"), tk.as("tk")))
        .filter(size(col("tk")) > 0)
      // r20 restructure (the q186 identity): exactly one occurrence per
      // passage digest is occ = 1 and its owner is the MINIMUM doc_id
      // containing the passage (chunk_idx only breaks ties within a
      // doc). The digest-keyed window (exchange + sort over every chunk
      // row) collapses to one map-side-combined min agg; the per-doc
      // chunk count is a map-side-combined count over the SAME rows.
      // The exploded (doc_id, digest) rows — 40 B per 120-token chunk,
      // orders of magnitude below the corpus — are materialized once so
      // the count and first-owner branches share one tokenize pass.
      val ex = base.select(col("doc_id"),
          explode(transform(sequence(lit(0), nChunks - 1),
            i => md5(concat_ws(" ",
              slice(col("tk"), i * ChunkW + 1, lit(ChunkW)))))).as("ph"))
        .localCheckpoint()
      val counts = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      val firsts = ex
        .groupBy(col("ph"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_first"))
      counts.join(firsts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_first"), lit(0L))).as("n_dup"),
          round((col("n_chunks") - coalesce(col("n_first"), lit(0L)))
            / col("n_chunks").cast("double"), 4).as("dup_frac"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // EXACT SUBSTRING-LEVEL DEDUP (q186, r13) — the character-granular
    // exact-duplication scan (the ExactSubstr pass of Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better",
    // public): every 40-char window of every document, marked duplicate
    // when the identical character string occurs earlier anywhere in
    // the corpus — stride 1, so duplication is caught ACROSS token and
    // passage boundaries where q120's word-chunk grid and q95's
    // token-shingle grid cannot see it (a copied sentence re-wrapped
    // with different whitespace segmentation still shares its interior
    // char windows). Suffix arrays are the classical single-machine
    // answer; the shuffle-native equivalent is the gram-keyed window
    // below — the exchange carries md5(gram) (fixed 32 bytes, never the
    // text), partitions by content so identical windows meet exactly
    // once, and the per-doc rollup is map-side-combined. The k-factor
    // write amplification (each char enters k grams) is the documented
    // cost, paid in shuffle bytes only: the scan reads the corpus once
    // and nothing corpus×k-sized is ever persisted.
    QueryDef.sql(
      "q186_substring_dedup",
      """WITH g AS (SELECT doc_id,
        |    unnest(generate_series(1, length(text) - 39)) AS pos,
        |    unnest(list_transform(generate_series(1, length(text) - 39),
        |      i -> md5(substr(text, CAST(i AS BIGINT), 40)))) AS gh
        |  FROM documents WHERE length(text) >= 40),
        |marked AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY gh
        |      ORDER BY doc_id ASC, pos ASC) AS occ
        |  FROM g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE), 4) AS dup_frac
        |FROM marked GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin) {
      (s, dir) =>
      val k = 40
      // r20 restructure (same rows, proven identity): the gram-keyed
      // WINDOW ranked every occurrence by (doc_id, pos) only to test
      // occ > 1 — but exactly ONE occurrence per gram hash is occ = 1,
      // and its owner is simply the MINIMUM doc_id containing the gram
      // (pos only breaks ties within a doc, which cannot move the
      // owner). So n_dup(doc) = n_grams(doc) − #grams first-owned by
      // doc, n_grams(doc) = length − 39 by construction. The plan drops
      // from [exchange+sort window over every gram row + second gram-
      // sized exchange for the per-doc rollup] to ONE map-side-combined
      // min agg keyed by gh (partial min collapses duplicate grams
      // before the exchange, no sort) + a doc-sized count.
      val base = Tables.spread(s,
          docs(s, dir).select(col("doc_id"), col("text")))
        .filter(length(col("text")) >= k)
      val counts = base.select(col("doc_id"),
        (length(col("text")) - (k - 1)).cast("long").as("n_grams"))
      val firsts = base
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), length(col("text")) - (k - 1)),
            i => md5(col("text").substr(i, lit(k))))).as("gh"))
        .groupBy(col("gh"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_first"))
      counts.join(firsts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_grams") - coalesce(col("n_first"), lit(0L))).as("n_dup"),
          round((col("n_grams") - coalesce(col("n_first"), lit(0L)))
            / col("n_grams").cast("double"), 4).as("dup_frac"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // Numeric distribution profiling: fixed-width histogram of
    // l_extendedprice with per-bin stats, share, and cumulative share
    // (the empirical CDF) — the data-profiling pass that sizes
    // everything else (bucket counts, salt factors, bin boundaries for
    // range joins). Scale shape: ONE map-side-combined agg keyed by the
    // bin (bounded domain — the histogram output is bin-count-sized,
    // not data-sized); the total is a broadcast single row; the CDF
    // window runs over the bounded bin table only, never the raw data.
    QueryDef.sql(
      "q121_histogram_cdf",
      """WITH b AS (SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
        |    count(*) AS cnt,
        |    round(min(l_extendedprice), 4) AS lo,
        |    round(max(l_extendedprice), 4) AS hi,
        |    round(avg(l_extendedprice), 4) AS avg_price
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM lineitem)
        |SELECT bin, cnt, lo, hi, avg_price,
        |  round(cnt / CAST(t.n AS DOUBLE), 4) AS share,
        |  round(sum(cnt) OVER (ORDER BY bin) / CAST(t.n AS DOUBLE), 4)
        |    AS cum_share
        |FROM b CROSS JOIN t ORDER BY bin ASC""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val b = li.groupBy(
          floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("l_extendedprice")), 4).as("lo"),
          round(max(col("l_extendedprice")), 4).as("hi"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"))
      val t = broadcast(li.agg(count(lit(1)).as("n")))
      val w = Window.orderBy(col("bin"))
      b.crossJoin(t)
        .select(col("bin"), col("cnt"), col("lo"), col("hi"),
          col("avg_price"),
          round(col("cnt") / col("n").cast("double"), 4).as("share"),
          round(sum(col("cnt")).over(w) / col("n").cast("double"), 4)
            .as("cum_share"))
        .orderBy(col("bin").asc)
    },

    // ------------------------------------------------------------------
    // Group-wise anomaly detection: per-event-type z-scores over the
    // event value stream; report events beyond 2.5σ. The data-quality
    // tripwire run over telemetry/metrics before they poison a training
    // mix. Scale shape: per-group moments are ONE map-side-combined agg
    // producing a group-count-sized table BROADCAST back onto the
    // stream — the corpus is never shuffled, scored in a narrow
    // codegen'd stage (precedent: q114's rate table). The z threshold
    // compares the 4-decimal-rounded score (float-parity discipline).
    QueryDef.sql(
      "q122_anomaly_zscore",
      """WITH st AS (SELECT event_type, avg(value) AS mu,
        |    stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  round(e.value, 4) AS value,
        |  round((e.value - st.mu) / st.sd, 4) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE st.sd > 0 AND abs(round((e.value - st.mu) / st.sd, 4)) > 2.5
        |ORDER BY event_id ASC""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val st = broadcast(ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd")))
      val z = round((col("value") - col("mu")) / col("sd"), 4)
      ev.join(st, "event_type")
        .filter(col("sd") > 0 && abs(z) > 2.5)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"), z.as("z"))
        .orderBy(col("event_id").asc)
    },

    // ------------------------------------------------------------------
    // DATA-QUALITY CONSTRAINT AUDIT (r11) — the validation gate a
    // production pipeline runs before training ever sees a batch
    // (the Deequ/Great-Expectations shape): declared constraints →
    // one violations count each → a pass/fail report row per
    // constraint. Scale shape is the whole point: the three lineitem
    // range/null checks fold into ONE conditional aggregation — a
    // single map-side-combined scan regardless of how many constraints
    // are declared (never one scan per check); uniqueness is one
    // distinct-agg; the FK and reconciliation checks are the only
    // joins, both on natural keys (shuffled hash at 100 TB, elidable
    // under shared bucketing). The report is constraint-count-sized.
    // Liveness (r13): five of the six checks read 0 violations on the
    // clean fixture tables, so for those an auditor that always
    // answered 0 was indistinguishable from a working one
    // (total_reconciles was already live: the synthetic o_totalprice is
    // unrelated to the line charges, and the audit correctly reports
    // every order). Each audited table now carries one deterministic
    // bad row per dormant check (the q119/q99/q40 injection precedent):
    // a 2.0 discount, a NULL shipdate, a negative price, a duplicated
    // order key, and an orphan custkey whose order also fails
    // reconciliation — the five dormant checks now report EXACTLY one
    // violation with pass=0, pinned by the oracle hash. The one-scan
    // conditional-agg shape is unchanged (the injection is a narrow
    // 3-row union).
    QueryDef.sql(
      "q127_constraint_audit",
      """WITH liaug AS (SELECT l_orderkey, l_discount, l_shipdate,
        |    l_extendedprice, l_tax FROM lineitem
        |  UNION ALL SELECT * FROM (VALUES
        |    (900000001, 2.0, TIMESTAMP '1995-01-01 00:00:00', 10.0, 0.0),
        |    (900000002, 0.0, CAST(NULL AS TIMESTAMP), 10.0, 0.0),
        |    (900000003, 0.0, TIMESTAMP '1995-01-01 00:00:00', -5.0, 0.0))
        |    v(l_orderkey, l_discount, l_shipdate, l_extendedprice, l_tax)),
        |oaug AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT * FROM (SELECT o_orderkey, o_custkey, o_totalprice
        |    FROM orders ORDER BY o_orderkey ASC LIMIT 1)),
        |oaug2 AS (SELECT * FROM oaug
        |  UNION ALL SELECT 900000010, -999, 99.99),
        |li AS (SELECT
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_nonnull,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS price_positive
        |  FROM liaug),
        |uq AS (SELECT count(*) - count(DISTINCT o_orderkey) AS v
        |  FROM oaug2),
        |fk AS (SELECT count(*) AS v FROM oaug2 o
        |  LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |  WHERE c.c_custkey IS NULL),
        |chg AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
        |      * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM liaug GROUP BY l_orderkey),
        |recon AS (SELECT count(*) AS v FROM oaug2 o
        |  LEFT JOIN chg ON chg.l_orderkey = o.o_orderkey
        |  WHERE abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
        |    - coalesce(chg.cents, 0)) > 1),
        |rep AS (
        |  SELECT 'custkey_fk' AS check_name, fk.v AS violations FROM fk
        |  UNION ALL SELECT 'discount_range', discount_range FROM li
        |  UNION ALL SELECT 'orderkey_unique', uq.v FROM uq
        |  UNION ALL SELECT 'price_positive', price_positive FROM li
        |  UNION ALL SELECT 'shipdate_nonnull', shipdate_nonnull FROM li
        |  UNION ALL SELECT 'total_reconciles', recon.v FROM recon)
        |SELECT check_name, violations,
        |  CAST(violations = 0 AS INTEGER) AS pass
        |FROM rep ORDER BY check_name ASC""".stripMargin) { (s, dir) =>
      import s.implicits._
      val liRaw = Tables.load(s, dir, "lineitem")
      val oRaw = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
      val li = liRaw.select(col("l_orderkey"), col("l_discount"),
          col("l_shipdate"), col("l_extendedprice"), col("l_tax"))
        .unionAll(Seq(
          (900000001L, 2.0, Some(ts), 10.0, 0.0),
          (900000002L, 0.0, Option.empty[java.sql.Timestamp], 10.0, 0.0),
          (900000003L, 0.0, Some(ts), -5.0, 0.0))
          .toDF("l_orderkey", "l_discount", "l_shipdate",
            "l_extendedprice", "l_tax"))
      val o = oRaw.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .unionAll(oRaw.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")).orderBy(col("o_orderkey").asc).limit(1))
        .unionAll(Seq((900000010L, -999L, 99.99))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"))
      def one(name: String, v: org.apache.spark.sql.Column): DataFrame => DataFrame =
        df => df.agg(v.cast("long").as("violations"))
          .select(lit(name).as("check_name"), col("violations"))
      // three checks, ONE lineitem scan: conditional aggregation
      val liChecks = li.agg(
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).cast("long").as("discount_range"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
            .cast("long").as("shipdate_nonnull"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
            .cast("long").as("price_positive"))
        .selectExpr(
          "stack(3, 'discount_range', discount_range, " +
            "'shipdate_nonnull', shipdate_nonnull, " +
            "'price_positive', price_positive) AS (check_name, violations)")
      val uqCheck = one("orderkey_unique",
        count(lit(1)) - countDistinct(col("o_orderkey")))(o)
      val fkCheck = o.join(cust, col("o_custkey") === col("c_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("custkey_fk").as("check_name"), col("violations"))
      // q126 integer-cents discipline: each line charge rounds to cents
      // ONCE, sums and the header comparison are exact long arithmetic —
      // the sum-doubles-then-threshold formulation put 2-decimal-aligned
      // deltas on .005 boundaries where the engines tie-break differently
      // (r11 ADVICE; observed 6/150k flips at sf0.1 in q126's history)
      val charge = li.groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * 100).cast("long")).as("cents"))
      val reconCheck = o.join(charge,
          col("l_orderkey") === col("o_orderkey"), "left")
        .filter(abs(round(col("o_totalprice") * 100).cast("long")
          - coalesce(col("cents"), lit(0L))) > 1)
        .agg(count(lit(1)).as("violations"))
        .select(lit("total_reconciles").as("check_name"), col("violations"))
      liChecks.unionByName(uqCheck).unionByName(fkCheck)
        .unionByName(reconCheck)
        .select(col("check_name"), col("violations"),
          (col("violations") === 0L).cast("int").as("pass"))
        .orderBy(col("check_name").asc)
    },

    // ------------------------------------------------------------------
    // FREQUENT-PHRASE MINING via a CERTIFIED Misra-Gries sketch (r12) —
    // the boilerplate-detection pass of a crawl pipeline (C4-style: find
    // the hottest repeated lines/phrases to strip) over a heavy-tailed
    // phrase domain: unigrams + word 2-grams + 3-grams in one stream
    // (the corpus's 31-word unigram head rides on a 16k+-distinct n-gram
    // tail at sf0.01 — exactly the frequent-head/near-unique-tail shape
    // of a real crawl). Why not a plain groupBy: the exchange of an
    // exact count carries one row per DISTINCT phrase per partition —
    // at 100 TB that domain is billions of near-unique strings. The MG
    // summary (functions/HeavyHitters.scala) caps the pass-1 shuffle at
    // capacity=512 entries per partition REGARDLESS of domain size, the
    // confirmation pass exact-counts only the ≤512 candidates behind a
    // codegen'd isin literal filter, and the result carries a
    // CERTIFICATE (k-th confirmed count > N/(m+1)) proving it equals
    // the exact plan — with an exact-groupBy fallback when a degenerate
    // uniform domain has no heavy hitters to find (HeavyHittersSpec pins
    // both paths; the certified path is taken at the oracle SFs). The
    // oracle is the exact top-25 — the sketch cannot change the answer.
    QueryDef.sql(
      "q136_frequent_phrases",
      """WITH t AS (SELECT
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT unnest(toks) AS phrase FROM t
        |  UNION ALL
        |  SELECT unnest(list_transform(generate_series(0, len(toks) - 2),
        |    i -> concat_ws(' ', toks[i+1], toks[i+2]))) FROM t
        |  UNION ALL
        |  SELECT unnest(list_transform(generate_series(0, len(toks) - 3),
        |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) FROM t)
        |SELECT phrase, CAST(count(*) AS BIGINT) AS cnt
        |FROM g WHERE phrase <> ''
        |GROUP BY phrase ORDER BY cnt DESC, phrase ASC LIMIT 25""".stripMargin) {
      (s, dir) =>
      import graft.functions.{HeavyHitters, NativeExpressions => NE}
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val phrases = Tables.spread(s, docs(s, dir).select(col("text")))
        .select(toks.as("toks"))
        .select(explode(concat(col("toks"),
          NE.wordNgrams(col("toks"), 2),
          NE.wordNgrams(col("toks"), 3))).as("phrase"))
      HeavyHitters.exactTopK(phrases, "phrase", k = 25, capacity = 512)
        .withColumnRenamed("term", "phrase")
    },

    // ------------------------------------------------------------------
    // BIGRAM-LM PERPLEXITY QUALITY SCORING (r12) — the CCNet-style
    // quality gate: train an add-k-smoothed bigram language model on a
    // held-out reference slice (doc_id % 7 = 0), score every remaining
    // document by perplexity, low = fluent/in-domain. In-engine training
    // is two map-side-combined count aggs over the slice (unigrams,
    // bigrams); the model is a BOUNDED relation (slice vocabulary), so
    // scoring is the corpus bigram stream LEFT-joined against two
    // BROADCAST count tables + a 1-row vocab-size broadcast — the only
    // corpus-sized exchange is the per-doc partial agg. OOV needs no
    // <unk> bookkeeping: a missing join hit IS the zero count, and
    // add-k smoothing p = (c12+0.5)/(c1+0.5V) makes unseen-context
    // bigrams score exactly 1/V. Float parity: per-bigram log-probs
    // round to 6 decimals before the per-doc avg (the q118 discipline);
    // perplexity = exp(-avg) rounds to 4. At 100 TB the model stays
    // broadcast-sized because the training slice is bounded by design —
    // a web-scale vocab would flip the two model joins to bucketed
    // shuffled-hash, changing nothing upstream.
    QueryDef.sql(
      "q137_perplexity_score",
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |tr AS (SELECT * FROM d WHERE doc_id % 7 = 0),
        |uni AS (SELECT w, count(*) AS c1 FROM
        |  (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
        |v AS (SELECT count(*) AS vs FROM uni),
        |bi AS (SELECT gram, count(*) AS c12 FROM
        |  (SELECT unnest(list_transform(generate_series(0, len(toks) - 2),
        |     i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS gram FROM tr)
        |  GROUP BY gram),
        |sc AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, len(toks) - 2),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS gram
        |  FROM d WHERE doc_id % 7 <> 0),
        |p AS (SELECT sc.doc_id,
        |    round(ln((coalesce(bi.c12, 0) + 0.5)
        |      / (coalesce(uni.c1, 0) + 0.5 * v.vs)), 6) AS lp
        |  FROM sc
        |  LEFT JOIN bi USING (gram)
        |  LEFT JOIN uni ON uni.w = string_split(sc.gram, ' ')[1]
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(exp(-avg(lp)), 4) AS ppl
        |FROM p GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{NativeExpressions => NE}
      val d = docs(s, dir)
        .select(col("doc_id"), TF.tokens(TF.normalizeText(col("text"))).as("toks"))
      val train = d.filter(col("doc_id") % 7 === 0)
      val uni = train.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("vs"))
      val bi = train.select(explode(NE.wordNgrams(col("toks"), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("c12"))
      val sc = Tables.spread(s, d.filter(col("doc_id") % 7 =!= 0))
        .select(col("doc_id"), explode(NE.wordNgrams(col("toks"), 2)).as("gram"))
      sc.join(broadcast(bi), Seq("gram"), "left")
        .join(broadcast(uni),
          split(col("gram"), " ").getItem(0) === col("w"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          round(log((coalesce(col("c12"), lit(0L)) + lit(0.5))
            / (coalesce(col("c1"), lit(0L)) + lit(0.5) * col("vs"))), 6).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(exp(-avg(col("lp"))), 4).as("ppl"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // JSONL ROUND TRIP (r12) — the interchange-format ingest face: a
    // 100 TB corpus arrives (and ships) as JSON-lines, not parquet. The
    // query writes the documents table to JSONL, reads it back with an
    // EXPLICIT schema (no inference pass — inference is a second full
    // scan at scale), and proves fidelity with content digests: row
    // count, id sum, distinct text-md5 count, total char count, and the
    // (lang, source) domain size all computed from the round-tripped
    // data, while the oracle computes them straight from parquet — any
    // encode/escape/type loss in the trip flips a digest. Both
    // directions are distributed (one task per partition); the scratch
    // path is keyed by the SF dir (same same-SF-concurrency contract as
    // q99's digest store).
    QueryDef.sql(
      "q138_jsonl_roundtrip",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_text_digests,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
        |  CAST(count(DISTINCT lang || '|' || source) AS BIGINT) AS n_lang_src
        |FROM documents""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = "/tmp/graft_textfmt/jsonl_" +
        java.lang.Integer.toHexString(dir.hashCode)
      docs(s, dir).write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(out)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          countDistinct(md5(col("text"))).as("n_text_digests"),
          sum(length(col("text"))).cast("long").as("n_chars_total"),
          countDistinct(concat_ws("|", col("lang"), col("source")))
            .as("n_lang_src"))
    },

    // ------------------------------------------------------------------
    // CSV ROUND TRIP (r12) — same digest contract as q138 through the
    // other ubiquitous text format, exercising the hazards JSONL does
    // not have: quoting and separator collision. Written with explicit
    // quote/escape settings and a header, read back with the explicit
    // schema + header (again no inference scan). The digests are
    // deliberately identical to q138's: the pair pins that BOTH text
    // formats are lossless for this corpus, so a mismatch isolates the
    // failing codec rather than the data.
    QueryDef.sql(
      "q139_csv_roundtrip",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_text_digests,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
        |  CAST(count(DISTINCT lang || '|' || source) AS BIGINT) AS n_lang_src
        |FROM documents""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = "/tmp/graft_textfmt/csv_" +
        java.lang.Integer.toHexString(dir.hashCode)
      docs(s, dir).write.mode("overwrite")
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        // quoted fields may legally contain newlines; without multiLine a
        // text value with '\n' splits into spurious records (r12 ADVICE)
        .option("multiLine", "true")
        .csv(out)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          countDistinct(md5(col("text"))).as("n_text_digests"),
          sum(length(col("text"))).cast("long").as("n_chars_total"),
          countDistinct(concat_ws("|", col("lang"), col("source")))
            .as("n_lang_src"))
    },

    // ------------------------------------------------------------------
    // IN-ENGINE BPE TOKENIZER TRAINING (q144, r12) — byte-pair-encoding
    // merge learning (Sennrich et al. 2016), the tokenizer-construction
    // step of an LLM data pipeline, run WITHOUT leaving the engine. The
    // corpus is touched exactly ONCE (the map-side-combined word-
    // frequency count — BPE canonically trains on the frequency table,
    // not the raw stream); each of the 3 merge rounds is then a
    // vocabulary-sized job: explode the symbol pairs of each distinct
    // word weighted by its count, one hash agg, argmax (count desc,
    // pair asc — total order), and a narrow literal replace applying
    // the merge. Sequences are '|'-delimited ('j|o|i|n|') so a merge
    // application is plain left-to-right string replace with NO shared
    // boundary characters between adjacent matches — both engines'
    // replace() semantics coincide with BPE's leftmost-greedy rule.
    // All-integer/string arithmetic: full hash determinism, no floats.
    // At 100 TB the frequency table is the scale lever: a web-scale
    // vocab gets pre-capped to its frequent head first (exactly what
    // q136's certified heavy hitters computes), after which every round
    // is head-sized. First learned merge on this corpus: e+r -> 'er'.
    {
      QueryDef.sql(
        "q144_bpe_train",
        s"""WITH tok AS (SELECT
           |    unnest(string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS t
           |  FROM documents),
           |wf AS (SELECT t, count(*) AS n FROM tok WHERE t <> '' GROUP BY t),
           |s0 AS (SELECT t, n, regexp_replace(t, '(.)', '\\1|', 'g') AS seq
           |  FROM wf),
           |${BpeRound("s0", 1)},
           |${BpeRound("s1", 2)},
           |${BpeRound("s2", 3)}
           |SELECT t AS token, CAST(n AS BIGINT) AS cnt, seq AS segmentation
           |FROM s3 ORDER BY token ASC""".stripMargin) { (s, dir) =>
        val (_, cur) = trainBpe(s, dir)
        cur.select(col("t").as("token"), col("n").cast("long").as("cnt"),
            col("seq").as("segmentation"))
          .orderBy(col("token").asc)
      }
    },

    // ------------------------------------------------------------------
    // BPE TOKENIZATION APPLY (q145, r12) — the other half of q144: run
    // the LEARNED merges over the corpus and count subwords per doc,
    // the single most-executed preprocessing pass of an LLM pipeline
    // (every training document is tokenized at least once). Shape is
    // the point: after the vocab-sized training replay, the application
    // side is a pure NARROW expression chain — per-token char split,
    // three literal replaces (the merges arrive as collected literals,
    // broadcast by codegen), a transform+aggregate per doc — so the
    // corpus streams through with ZERO exchanges and no join against
    // the merge table. At 100 TB tokenization cost is exactly one
    // decode-bound scan, the correct floor for this pass.
    QueryDef.sql(
      "q145_bpe_apply",
      s"""WITH tok AS (SELECT
         |    unnest(string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS t
         |  FROM documents),
         |wf AS (SELECT t, count(*) AS n FROM tok WHERE t <> '' GROUP BY t),
         |s0 AS (SELECT t, n, regexp_replace(t, '(.)', '\\1|', 'g') AS seq
         |  FROM wf),
         |${BpeRound("s0", 1)},
         |${BpeRound("s1", 2)},
         |${BpeRound("s2", 3)},
         |d AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'),
         |    x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < 300)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(0, list_transform(d.toks,
         |    t -> len(string_split(replace(replace(replace(
         |      regexp_replace(t, '(.)', '\\1|', 'g'),
         |      m1.pair, m1.merged), m2.pair, m2.merged), m3.pair, m3.merged),
         |      '|')) - 1)), (a, b) -> a + b) AS BIGINT) AS n_subwords
         |FROM d, m1, m2, m3 ORDER BY doc_id ASC""".stripMargin) { (s, dir) =>
      val (merges, _) = trainBpe(s, dir)
      val toks = filter(TF.tokens(TF.normalizeText(col("text"))),
        t => length(t) > 0)
      Tables.spread(s, docs(s, dir).filter(col("doc_id") < 300))
        .select(col("doc_id"),
          aggregate(transform(toks, t => bpeSubwords(merges)(t)), lit(0L),
            (a, b) => a + b).as("n_subwords"))
        .orderBy(col("doc_id").asc)
    },

    // ------------------------------------------------------------------
    // TOKENIZER FERTILITY BY LANGUAGE (q182, r13) — the tokenizer-audit
    // table every multilingual pretraining run publishes: subwords per
    // word ("fertility") and chars per subword, per language, under the
    // learned merges. A tokenizer trained on skewed language mixes
    // over-fragments the under-represented languages (fertility ↑),
    // which silently multiplies their effective token cost — this query
    // is how that is detected BEFORE burning compute. Shape: the q144/
    // q145 training replay (vocab-sized table, corpus touched once),
    // then ONE narrow pass over the apply slice folding per-token
    // subword and char counts per doc, into a lang-keyed map-side-
    // combined agg (output rows = languages). Ratios are integer
    // fixed-point (floor(1e4·x + 0.5)) so both engines agree exactly.
    QueryDef.sql(
      "q182_tokenizer_fertility",
      s"""WITH tok AS (SELECT
         |    unnest(string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS t
         |  FROM documents),
         |wf AS (SELECT t, count(*) AS n FROM tok WHERE t <> '' GROUP BY t),
         |s0 AS (SELECT t, n, regexp_replace(t, '(.)', '\\1|', 'g') AS seq
         |  FROM wf),
         |${BpeRound("s0", 1)},
         |${BpeRound("s1", 2)},
         |${BpeRound("s2", 3)},
         |d AS (SELECT lang, list_filter(
         |    string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'),
         |    x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < 300),
         |per AS (SELECT lang,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_reduce(list_prepend(0, list_transform(d.toks,
         |      t -> len(string_split(replace(replace(replace(
         |        regexp_replace(t, '(.)', '\\1|', 'g'),
         |        m1.pair, m1.merged), m2.pair, m2.merged), m3.pair, m3.merged),
         |        '|')) - 1)), (a, b) -> a + b) AS BIGINT) AS n_sub,
         |    CAST(list_reduce(list_prepend(0, list_transform(d.toks,
         |      t -> len(t))), (a, b) -> a + b) AS BIGINT) AS n_chr
         |  FROM d, m1, m2, m3)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(n_chr) AS BIGINT) AS n_chars,
         |  CAST(floor(10000.0 * sum(n_sub) / sum(n_words) + 0.5) AS BIGINT)
         |    AS fertility_e4,
         |  CAST(floor(10000.0 * sum(n_chr) / sum(n_sub) + 0.5) AS BIGINT)
         |    AS cps_e4
         |FROM per GROUP BY lang ORDER BY lang ASC""".stripMargin) { (s, dir) =>
      val (merges, _) = trainBpe(s, dir)
      val toks = filter(TF.tokens(TF.normalizeText(col("text"))),
        t => length(t) > 0)
      Tables.spread(s, docs(s, dir).filter(col("doc_id") < 300))
        .select(col("lang"),
          size(toks).cast("long").as("n_words"),
          aggregate(transform(toks, t => bpeSubwords(merges)(t)), lit(0L),
            (a, b) => a + b).as("n_sub"),
          aggregate(transform(toks, t => length(t).cast("long")), lit(0L),
            (a, b) => a + b).as("n_chr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("n_words"),
          sum(col("n_sub")).cast("long").as("n_subwords"),
          sum(col("n_chr")).cast("long").as("n_chars"),
          floor(lit(10000.0) * sum(col("n_sub")) / sum(col("n_words"))
            + lit(0.5)).cast("long").as("fertility_e4"),
          floor(lit(10000.0) * sum(col("n_chr")) / sum(col("n_sub"))
            + lit(0.5)).cast("long").as("cps_e4"))
        .orderBy(col("lang").asc)
    },

    // ------------------------------------------------------------------
    // HYBRID RETRIEVAL via RECIPROCAL RANK FUSION (q146, r12) — the
    // standard RAG serving pattern: the SAME query runs through the
    // lexical ranker (q118's BM25, shared scoring code AND shared
    // oracle CTE text) and the semantic ranker (q41's cosine against
    // the doc_id=0 embedding as the query vector), and the two top-20
    // lists fuse by RRF: score = Σ 1/(60 + rank). RRF needs only RANKS,
    // never comparable scores — which is why it is the fusion of choice
    // when the rankers' score scales differ (Cormack et al. 2009,
    // public). Plan shape: both rankers end in a top-20 TakeOrdered;
    // the rank windows then run over 20-ROW inputs (bounded, never the
    // corpus — same discipline as q121's bin table); the fusion is a
    // 20x20 full outer join. At 100 TB the semantic side swaps to the
    // q100+ IVF index probe — the fusion stage is ranker-agnostic by
    // construction.
    QueryDef.sql(
      "q146_hybrid_rrf",
      s"""WITH $Bm25ScoredSql,
         |lex AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id ASC) AS r
         |  FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |nd AS (SELECT count(*) AS n FROM documents),
         |cos AS (SELECT e.vec_id AS doc_id,
         |    round(list_cosine_similarity(e.v, q.qv), 4) AS cs
         |  FROM e, q, nd WHERE e.vec_id < nd.n AND e.vec_id <> 0),
         |sem AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY cs DESC, doc_id ASC) AS r
         |  FROM cos ORDER BY cs DESC, doc_id ASC LIMIT 20),
         |fused AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + l.r), 0)
         |      + coalesce(1.0 / (60 + s.r), 0), 6) AS rrf
         |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      import graft.functions.{NativeExpressions => NE}
      val wLex = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      val lex = bm25Scored(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        .withColumn("r", row_number().over(wLex))
        .select(col("doc_id"), col("r"))
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qv = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val nd = broadcast(docs(s, dir).agg(count(lit(1)).as("n")))
      val wSem = Window.orderBy(col("cs").desc, col("doc_id").asc)
      val sem = e.filter(col("vec_id") =!= 0)
        .crossJoin(nd).filter(col("vec_id") < col("n"))
        .crossJoin(qv)
        .select(col("vec_id").as("doc_id"),
          round(NE.vectorCosine(col("embedding"), col("qe")), 4).as("cs"))
        .orderBy(col("cs").desc, col("doc_id").asc).limit(20)
        .withColumn("r", row_number().over(wSem))
        .select(col("doc_id"), col("r").as("rs"))
      lex.join(sem, Seq("doc_id"), "full")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("r")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    },

    // ------------------------------------------------------------------
    // DATASET CARD (q148, r12) — the one-row summary a corpus release
    // ships (datasheet/data-card practice): volume, token totals,
    // domain cardinalities, length distribution, exact-dup rate. The
    // shape is the q127 discipline applied to profiling: EVERY metric
    // folds into ONE map-side-combined aggregate scan (conditional sums
    // for the length bands, countDistinct for the domains and the
    // normalized-text digest), so the card costs a single corpus pass
    // no matter how many metrics it carries.
    QueryDef.sql(
      "q148_data_card",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')))
        |    AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short,
        |  CAST(sum(CASE WHEN n_chars >= 100 AND n_chars < 300
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        |  CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_long,
        |  CAST(count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |    AS BIGINT) AS n_unique_texts,
        |  round(avg(CAST(len(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> ''))
        |    AS DOUBLE)), 4) AS mean_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      val toks = filter(TF.tokens(col("text")), t => length(t) > 0)
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(size(toks)).cast("long").as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).cast("long")
          .as("n_short"),
        sum(when(col("n_chars") >= 100 && col("n_chars") < 300, 1L)
          .otherwise(0L)).cast("long").as("n_mid"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).cast("long")
          .as("n_long"),
        countDistinct(md5(TF.normalizeText(col("text"))))
          .as("n_unique_texts"),
        round(avg(size(toks).cast("double")), 4).as("mean_tokens"))
    },

    // ------------------------------------------------------------------
    // DISTRIBUTION DRIFT via PSI (q149, r12) — the monitoring pass that
    // catches a corpus snapshot silently changing shape: per source,
    // the Population Stability Index between two slices (here the
    // deterministic doc_id parity split; in production, yesterday's
    // snapshot vs today's) over fixed length bands. PSI = Σ (p_b - p_a)
    // · ln(p_b / p_a) with add-half smoothing so empty bins stay
    // finite and deterministic. Shape: one narrow binning pass, ONE
    // hash agg on (source, slice, bin), then the PSI fold runs on the
    // bin table (sources × 10 rows) — corpus-sized work is a single
    // map-side-combined aggregation regardless of band count.
    QueryDef.sql(
      "q149_drift_psi",
      """WITH b AS (SELECT source,
        |    ('0x' || substr(md5('psi' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS slice,
        |    CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1
        |      WHEN n_chars < 300 THEN 2 WHEN n_chars < 400 THEN 3
        |      ELSE 4 END AS bin
        |  FROM documents),
        |c AS (SELECT source, slice, bin, count(*) AS n
        |  FROM b GROUP BY source, slice, bin),
        |g AS (SELECT source, bin,
        |    coalesce(max(CASE WHEN slice = 0 THEN n END), 0) AS n0,
        |    coalesce(max(CASE WHEN slice = 1 THEN n END), 0) AS n1
        |  FROM c GROUP BY source, bin),
        |t AS (SELECT source, sum(n0) AS t0, sum(n1) AS t1
        |  FROM g GROUP BY source),
        |p AS (SELECT g.source,
        |    (g.n0 + 0.5) / (t.t0 + 2.5) AS p0,
        |    (g.n1 + 0.5) / (t.t1 + 2.5) AS p1
        |  FROM g JOIN t ON g.source = t.source)
        |SELECT source, round(sum((p1 - p0) * ln(p1 / p0)), 6) AS psi
        |FROM p GROUP BY source ORDER BY source ASC""".stripMargin) { (s, dir) =>
      val bin = when(col("n_chars") < 100, 0).when(col("n_chars") < 200, 1)
        .when(col("n_chars") < 300, 2).when(col("n_chars") < 400, 3)
        .otherwise(4)
      val slice = conv(substring(md5(concat(lit("psi"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2
      val c = docs(s, dir)
        .select(col("source"), slice.as("slice"), bin.as("bin"))
        .groupBy(col("source"), col("slice"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val g = c.groupBy(col("source"), col("bin")).agg(
        coalesce(max(when(col("slice") === 0, col("n"))), lit(0L)).as("n0"),
        coalesce(max(when(col("slice") === 1, col("n"))), lit(0L)).as("n1"))
      val t = g.groupBy(col("source"))
        .agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
      g.join(t, Seq("source"))
        .select(col("source"),
          ((col("n0") + 0.5) / (col("t0") + 2.5)).as("p0"),
          ((col("n1") + 0.5) / (col("t1") + 2.5)).as("p1"))
        .groupBy(col("source"))
        .agg(round(sum((col("p1") - col("p0")) * log(col("p1") / col("p0"))), 6)
          .as("psi"))
        .orderBy(col("source").asc)
    },

    // ------------------------------------------------------------------
    // EMBEDDING CENTROID DRIFT MONITOR (r13) — q149's drift question
    // asked of the EMBEDDING space: did a class's semantic center move
    // between two corpus slices? (The monitor a retrieval/semantic-dedup
    // deployment runs before trusting a stale IVF codebook on new data —
    // high centroid drift is the "retrain the coarse quantizer" signal
    // feeding the q124 maintenance policy.) Per (label, slice): the mean
    // vector over the slice's embeddings; per label: angular drift
    // 1 - cosine(mean_a, mean_b). Slices split by vec_id parity (the
    // q149 discipline). Scale shape: ONE corpus pass explodes vectors to
    // (label, slice, dim, x) and map-side-combines the avg — the agg
    // output is labels x 2 x dim cells regardless of corpus size; the
    // cosine fold runs on that tiny table. Determinism: per-dim means
    // round to 6 (the trainIvfCodebook centroid discipline) before the
    // cosine; drift rounds to 4.
    QueryDef.sql(
      "q161_embedding_drift",
      """WITH x AS (SELECT label, vec_id % 2 AS slice, t.i AS i,
        |    CAST(embedding[t.i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)),
        |cm AS (SELECT label, slice, i, round(avg(x), 6) AS m
        |  FROM x GROUP BY label, slice, i),
        |j AS (SELECT a.label, a.m AS ma, b.m AS mb
        |  FROM cm a JOIN cm b ON a.label = b.label AND a.i = b.i
        |  WHERE a.slice = 0 AND b.slice = 1),
        |d AS (SELECT label, sum(ma * mb) AS dot,
        |    sqrt(sum(ma * ma)) AS na, sqrt(sum(mb * mb)) AS nb
        |  FROM j GROUP BY label),
        |n AS (SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM embeddings GROUP BY label)
        |SELECT d.label, n.n_a, n.n_b,
        |  round(1.0 - dot / (na * nb), 4) AS drift
        |FROM d JOIN n ON d.label = n.label
        |ORDER BY d.label ASC""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("slice"),
          col("embedding"), col("vec_id"))
      // 1-based dim index to mirror the oracle's array subscript
      val x = e.select(col("label"), col("slice"),
          posexplode(col("embedding")).as(Seq("i0", "xf")))
        .select(col("label"), col("slice"), (col("i0") + 1).as("i"),
          col("xf").cast("double").as("x"))
      val cm = x.groupBy(col("label"), col("slice"), col("i"))
        .agg(round(avg(col("x")), 6).as("m"))
      val a = cm.filter(col("slice") === 0)
        .select(col("label"), col("i"), col("m").as("ma"))
      val b = cm.filter(col("slice") === 1)
        .select(col("label"), col("i"), col("m").as("mb"))
      val d = a.join(b, Seq("label", "i"))
        .groupBy(col("label"))
        .agg(sum(col("ma") * col("mb")).as("dot"),
          sqrt(sum(col("ma") * col("ma"))).as("na"),
          sqrt(sum(col("mb") * col("mb"))).as("nb"))
      val n = e.groupBy(col("label")).agg(
        sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_b"))
      d.join(n, Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          round(lit(1.0) - col("dot") / (col("na") * col("nb")), 4)
            .as("drift"))
        .orderBy(col("label").asc)
    },

    // ------------------------------------------------------------------
    // N-GRAM NOVELTY RATE (r13) — the freshness/diversity monitor
    // between two corpus slices: what fraction of slice B's distinct
    // 3-grams never occur in slice A? Novelty ~1 means genuinely new
    // material (vocabulary/domain growth); novelty ~0 means the "new"
    // slice is re-treading the old corpus — the signal that more
    // crawling is buying repetition, not data (and the dual of q135's
    // contamination overlap: that asks "too shared?", this asks "shared
    // enough to be stale?"). Per-source so a single saturated domain is
    // visible. Scale shape: ONE gram-keyed exchange (the distinct over
    // (source, slice, gram) — the q95/q120 shingle discipline), then a
    // co-keyed anti join on the SAME (source, gram) key — no re-shuffle
    // of gram text beyond the distinct — and two map-side-combined aggs
    // to source-sized output.
    QueryDef.sql(
      "q164_ngram_novelty",
      """WITH t AS (SELECT source,
        |    ('0x' || substr(md5('nov' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS slice,
        |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS toks
        |  FROM documents),
        |ex AS (SELECT DISTINCT source, slice,
        |    unnest(list_transform(generate_series(0, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS gram
        |  FROM t),
        |b AS (SELECT source, gram FROM ex WHERE slice = 1),
        |a AS (SELECT source, gram FROM ex WHERE slice = 0),
        |nov AS (SELECT b.source, count(*) AS n_new
        |  FROM b ANTI JOIN a USING (source, gram) GROUP BY b.source),
        |tot AS (SELECT source, count(*) AS n_grams FROM b GROUP BY source)
        |SELECT tot.source, CAST(coalesce(nov.n_new, 0) AS BIGINT) AS n_new,
        |  CAST(tot.n_grams AS BIGINT) AS n_grams,
        |  round(CAST(coalesce(nov.n_new, 0) AS DOUBLE) / tot.n_grams, 4)
        |    AS novelty
        |FROM tot LEFT JOIN nov ON tot.source = nov.source
        |ORDER BY tot.source ASC""".stripMargin) { (s, dir) =>
      import graft.functions.{NativeExpressions => NE}
      val toks = TF.tokens(TF.normalizeText(col("text")))
      // r19: ONE (source, gram)-keyed agg with per-slice presence flags
      // replaces the old distinct-then-anti-join shape. That shape read
      // three ways off the shared distinct (A side, B side twice), and
      // the slice filters legally pushed BELOW the aggregation — so the
      // tokenize+ngram+partial-distinct map work ran THREE times
      // (measured: 3 × ~9 task-seconds stages at sf0.1, the whole cost
      // of the query). Here "gram in A" / "gram in B" are max() flags of
      // one pass, the anti join becomes a flag predicate, and the gram
      // text crosses exactly one exchange. Novelty per source is the
      // same set arithmetic, row for row.
      val ex = graft.Tables.spread(s, docs(s, dir))
        .select(col("source"),
          (conv(substring(md5(concat(lit("nov"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
            .as("slice"),
          explode(NE.wordNgrams(toks, 3)).as("gram"))
      val flags = ex.groupBy(col("source"), col("gram"))
        .agg(max(when(col("slice") === 0, 1).otherwise(0)).as("in_a"),
          max(when(col("slice") === 1, 1).otherwise(0)).as("in_b"))
      flags.filter(col("in_b") === 1)
        .groupBy(col("source"))
        .agg(sum(when(col("in_a") === 0, 1L).otherwise(0L)).as("n_new"),
          count(lit(1)).as("n_grams"))
        .select(col("source"), col("n_new"), col("n_grams"),
          round(col("n_new").cast("double") / col("n_grams"), 4)
            .as("novelty"))
        .orderBy(col("source").asc)
    },

    // ------------------------------------------------------------------
    // ORDERED-SEQUENCE FUNNEL (r13) — the event-analytics operator class
    // the suite lacked: per-user staged conversion through an ORDERED
    // event pattern (view → click → purchase), where each stage must
    // occur strictly AFTER the user's previous stage AND within a
    // 24-hour conversion window of it — not mere event-type membership
    // (a purchase before the first view must NOT count, and without the
    // window this corpus converts everyone: 150/150/150 measured — the
    // window makes the funnel verdict live: 150/60/25 at sf0.01). Per stage: users reaching it, conversion vs stage 1, and
    // mean seconds from the previous stage. Scale shape: each stage is
    // one user-keyed min-aggregate over a type-filtered scan (filter
    // pushed to parquet) joined co-keyed on user_id to the previous
    // stage — every exchange is user-keyed, so the whole funnel rides
    // ONE partitioning at any event volume; stage count only adds
    // narrow passes. Epoch-floor second diffs in both engines (boundary
    // counting, identical truncation).
    QueryDef.sql(
      "q167_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1
        |    AND e.ts <= v.t1 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |    AND e.ts <= c.t2 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |g2 AS (SELECT c.user_id,
        |    CAST(floor(epoch(c.t2)) AS BIGINT)
        |      - CAST(floor(epoch(v.t1)) AS BIGINT) AS gap
        |  FROM c JOIN v ON v.user_id = c.user_id),
        |g3 AS (SELECT p.user_id,
        |    CAST(floor(epoch(p.t3)) AS BIGINT)
        |      - CAST(floor(epoch(c.t2)) AS BIGINT) AS gap
        |  FROM p JOIN c ON c.user_id = p.user_id),
        |rep AS (
        |  SELECT 1 AS stage, 'view' AS event_type,
        |    (SELECT CAST(count(*) AS BIGINT) FROM v) AS users,
        |    CAST(NULL AS DOUBLE) AS mean_gap_s
        |  UNION ALL SELECT 2, 'click',
        |    (SELECT CAST(count(*) AS BIGINT) FROM c),
        |    (SELECT round(avg(CAST(gap AS DOUBLE)), 2) FROM g2)
        |  UNION ALL SELECT 3, 'purchase',
        |    (SELECT CAST(count(*) AS BIGINT) FROM p),
        |    (SELECT round(avg(CAST(gap AS DOUBLE)), 2) FROM g3))
        |SELECT stage, event_type, users,
        |  round(CAST(users AS DOUBLE)
        |    / (SELECT count(*) FROM v), 4) AS conversion,
        |  mean_gap_s
        |FROM rep ORDER BY stage ASC""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      def secs(t: org.apache.spark.sql.Column) = unix_timestamp(t)
      val g2 = c.join(v, Seq("user_id"))
        .agg(round(avg((secs(col("t2")) - secs(col("t1"))).cast("double")), 2)
          .as("mean_gap_s"))
      val g3 = p.join(c, Seq("user_id"))
        .agg(round(avg((secs(col("t3")) - secs(col("t2"))).cast("double")), 2)
          .as("mean_gap_s"))
      val nV = broadcast(v.agg(count(lit(1)).as("users")))
      val nC = broadcast(c.agg(count(lit(1)).as("users")))
      val nP = broadcast(p.agg(count(lit(1)).as("users")))
      val base = nV.select(col("users").as("base"))
      val s1 = nV.select(lit(1).as("stage"), lit("view").as("event_type"),
        col("users"), lit(null).cast("double").as("mean_gap_s"))
      val s2 = nC.crossJoin(broadcast(g2))
        .select(lit(2).as("stage"), lit("click").as("event_type"),
          col("users"), col("mean_gap_s"))
      val s3 = nP.crossJoin(broadcast(g3))
        .select(lit(3).as("stage"), lit("purchase").as("event_type"),
          col("users"), col("mean_gap_s"))
      s1.unionByName(s2).unionByName(s3)
        .crossJoin(broadcast(base))
        .select(col("stage"), col("event_type"), col("users"),
          round(col("users").cast("double") / col("base"), 4)
            .as("conversion"),
          col("mean_gap_s"))
        .orderBy(col("stage").asc)
    },

    // ------------------------------------------------------------------
    // COHORT RETENTION MATRIX (r13) — the unordered-recurrence
    // counterpart of q167's ordered funnel: users cohorted by the week
    // of their first signup; each later week of ANY activity marks them
    // retained at that offset. Output = the classic retention triangle
    // (cohort_week, week_offset) → active users / cohort size, offsets
    // 0-8. Scale shape: cohorting is one user-keyed min-agg; the
    // activity pass joins co-keyed on user_id and dedups on (user,
    // cohort, offset) — cardinality ≤ users × 9 regardless of event
    // volume — then two tiny aggs. Week truncation is Monday-start in
    // BOTH engines (ISO); offsets via epoch-floor integer division so
    // no date arithmetic ambiguity survives.
    QueryDef.sql(
      "q168_cohort_retention",
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cw,
        |    (CAST(floor(epoch(date_trunc('week', e.ts))) AS BIGINT)
        |      - CAST(floor(epoch(f.cw)) AS BIGINT)) // 604800 AS wk
        |  FROM events e JOIN f ON f.user_id = e.user_id
        |  WHERE e.ts >= f.cw),
        |cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort FROM f
        |  GROUP BY cw),
        |r AS (SELECT cw, wk, CAST(count(*) AS BIGINT) AS active FROM a
        |  WHERE wk BETWEEN 0 AND 8 GROUP BY cw, wk)
        |SELECT r.cw AS cohort_week, CAST(r.wk AS BIGINT) AS week_offset,
        |  r.active, cs.cohort,
        |  round(CAST(r.active AS DOUBLE) / cs.cohort, 4) AS retention
        |FROM r JOIN cs ON cs.cw = r.cw
        |ORDER BY cohort_week ASC, week_offset ASC""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val f = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val a = ev.join(f, Seq("user_id"))
        .filter(col("ts") >= col("cw"))
        .select(col("user_id"), col("cw"),
          expr("(unix_timestamp(date_trunc('week', ts))" +
            " - unix_timestamp(cw)) div 604800").as("wk"))
        .distinct()
      val cs = f.groupBy(col("cw")).agg(count(lit(1)).as("cohort"))
      val r = a.filter(col("wk").between(0, 8))
        .groupBy(col("cw"), col("wk")).agg(count(lit(1)).as("active"))
      r.join(broadcast(cs), Seq("cw"))
        .select(col("cw").as("cohort_week"), col("wk").as("week_offset"),
          col("active"), col("cohort"),
          round(col("active").cast("double") / col("cohort"), 4)
            .as("retention"))
        .orderBy(col("cohort_week").asc, col("week_offset").asc)
    },

    // ------------------------------------------------------------------
    // BATCH SESSIONIZATION (r13) — the batch face of the streaming
    // session window (q72): reconstruct gap-based sessions (30-minute
    // inactivity boundary) per user with lag + cumulative-flag window
    // arithmetic and emit the per-session table (start, events,
    // duration) a behavioral pipeline persists. Scale shape: BOTH
    // windows partition by user_id — a HIGH-cardinality key, so this is
    // the healthy member of the window family (contrast q61's 3-value
    // key; no DistributedRank needed) — and the corpus is touched once:
    // one user-keyed exchange feeds lag, flag-cumsum, and the session
    // agg without re-shuffling. Durations via epoch-floor seconds.
    QueryDef.sql(
      "q169_sessionize",
      """WITH o AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |fl AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT)
        |        - CAST(floor(epoch(prev)) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |sid AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM fl)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(floor(epoch(max(ts))) AS BIGINT)
        |    - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
        |FROM sid GROUP BY user_id, session_no
        |ORDER BY user_id ASC, session_no ASC""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wCum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("prev", lag(col("ts"), 1).over(wOrd))
        .withColumn("brk",
          when(col("prev").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800,
            1).otherwise(0))
        .withColumn("session_no", sum(col("brk")).over(wCum))
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts")))
            - unix_timestamp(min(col("ts")))).as("duration_s"))
        .select(col("user_id"), col("session_no").cast("long"),
          col("session_start"), col("n_events"), col("duration_s"))
        .orderBy(col("user_id").asc, col("session_no").asc)
    },

    // ------------------------------------------------------------------
    // GOPHER-STYLE RULE GATE (q207, r14) — the published hand-heuristic
    // quality rules (Rae et al. 2021 Appendix A, the standard pre-filter
    // every web-scale corpus runs BEFORE the q142 trained classifier):
    // word count in [50, 100k], mean word length in [3, 10], ≥ 80 % of
    // words containing an alphabetic character, ≥ 2 stopwords, symbol-
    // to-word ratio ('#' chars + '…'-as-'...') ≤ 0.1. Every rule is
    // evaluated in INTEGER arithmetic (totlen ≥ 3n, 5·alpha ≥ 4n,
    // 10·symbols ≤ n — no ratio ever materializes), so both engines walk
    // the same lattice with no rounding surface at the thresholds. The
    // per-rule violation paths are kept live by two injected docs (the
    // q40/q99 liveness discipline): a symbol-soup doc that trips
    // meanlen/alpha/stop/symbol at once and a 20-word stopword-rich doc
    // that trips ONLY word count (its mean length sits exactly on the
    // ≥ 3 boundary — an intentional edge pin). Output is the one-row
    // release-card audit: per-rule violation counts, kept docs, keep
    // rate. Scale shape: ONE narrow codegen pass (split + three
    // higher-order folds + two replaces) into a single map-side-combined
    // aggregate — no shuffle of anything document-sized.
    QueryDef.sql(
      "q207_gopher_rules",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT 900001, repeat('# ', 60)
        |  UNION ALL SELECT 900002, repeat('the cat ', 10)),
        |t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM corpus),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    list_reduce(list_transform(toks,
        |      x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS totlen,
        |    CAST(len(list_filter(toks,
        |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_toks,
        |    CAST(len(list_filter(list_transform(toks, x -> lower(x)),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
        |      AS BIGINT) AS stops,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS symbols
        |  FROM t),
        |v AS (SELECT doc_id,
        |    CASE WHEN n >= 50 AND n <= 100000 THEN 0 ELSE 1 END AS v_words,
        |    CASE WHEN totlen >= 3 * n AND totlen <= 10 * n
        |      THEN 0 ELSE 1 END AS v_meanlen,
        |    CASE WHEN 5 * alpha_toks >= 4 * n THEN 0 ELSE 1 END AS v_alpha,
        |    CASE WHEN stops >= 2 THEN 0 ELSE 1 END AS v_stop,
        |    CASE WHEN 10 * symbols <= n THEN 0 ELSE 1 END AS v_symbol
        |  FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(v_words) AS BIGINT) AS viol_words,
        |  CAST(sum(v_meanlen) AS BIGINT) AS viol_meanlen,
        |  CAST(sum(v_alpha) AS BIGINT) AS viol_alpha,
        |  CAST(sum(v_stop) AS BIGINT) AS viol_stop,
        |  CAST(sum(v_symbol) AS BIGINT) AS viol_symbol,
        |  CAST(sum(CASE WHEN v_words + v_meanlen + v_alpha + v_stop
        |      + v_symbol = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  round(CAST(sum(CASE WHEN v_words + v_meanlen + v_alpha + v_stop
        |      + v_symbol = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
        |    AS keep_rate
        |FROM v""".stripMargin) { (s, dir) =>
      val inj = s.range(1).select(
          lit(900001L).as("doc_id"), lit("# " * 60).as("text"))
        .unionAll(s.range(1).select(
          lit(900002L).as("doc_id"), lit("the cat " * 10).as("text")))
      val corpus = Tables.spread(s,
        docs(s, dir).select(col("doc_id"), col("text")).unionAll(inj))
      val toks = split(trim(col("text")), "\\s+")
      val m = corpus.select(
        size(toks).cast("long").as("n"),
        aggregate(transform(toks, x => length(x).cast("long")),
          lit(0L), (a, b) => a + b).as("totlen"),
        size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
          .as("alpha_toks"),
        size(filter(transform(toks, x => lower(x)),
          x => x.isin("the", "a", "an", "and", "or", "of", "to", "in",
            "is", "it"))).cast("long").as("stops"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", ""))
          + (length(col("text"))
            - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("symbols"))
      val vWords = when(col("n") >= 50 && col("n") <= 100000, 0L).otherwise(1L)
      val vMeanlen = when(col("totlen") >= lit(3) * col("n")
        && col("totlen") <= lit(10) * col("n"), 0L).otherwise(1L)
      val vAlpha = when(lit(5) * col("alpha_toks") >= lit(4) * col("n"), 0L)
        .otherwise(1L)
      val vStop = when(col("stops") >= 2, 0L).otherwise(1L)
      val vSymbol = when(lit(10) * col("symbols") <= col("n"), 0L).otherwise(1L)
      m.select(vWords.as("v_words"), vMeanlen.as("v_meanlen"),
          vAlpha.as("v_alpha"), vStop.as("v_stop"), vSymbol.as("v_symbol"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("v_words")).cast("long").as("viol_words"),
          sum(col("v_meanlen")).cast("long").as("viol_meanlen"),
          sum(col("v_alpha")).cast("long").as("viol_alpha"),
          sum(col("v_stop")).cast("long").as("viol_stop"),
          sum(col("v_symbol")).cast("long").as("viol_symbol"),
          sum(when(col("v_words") + col("v_meanlen") + col("v_alpha")
            + col("v_stop") + col("v_symbol") === 0, 1L).otherwise(0L))
            .cast("long").as("kept"),
          round(sum(when(col("v_words") + col("v_meanlen") + col("v_alpha")
            + col("v_stop") + col("v_symbol") === 0, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 4).as("keep_rate"))
    },

    // ------------------------------------------------------------------
    // HTML -> TEXT EXTRACTION (q223, r16) — the pass every web-crawl
    // training pipeline runs FIRST (trafilatura/jusText-style
    // boilerplate removal), which the corpus family until now assumed
    // had already happened. Each document is wrapped executor-side into
    // a REAL page (head with style/script whose bodies contain '<',
    // quotes and a literal "</p>"; a 2-link nav, odd ids an extra
    // 2-link pager nav; the text as <div><p> content with every
    // (i%7==3)-rd word's first letter numeric-entity-escaped and messy
    // whitespace joints; an &copy; footer) and extracted back through
    // functions.HtmlText: body isolation, opaque script/style skip,
    // comment skip, nested-aware nav/header/footer/aside removal, tag
    // separation, entity decode, whitespace collapse. The clean text
    // must equal the ORIGINAL document text exactly, so the oracle
    // replays the whole extraction as `text AS clean_text` plus length
    // arithmetic for the page metrics (link density over the FULL page
    // including boilerplate — the navigation-heaviness signal a quality
    // gate feeds on). Scale shape: one narrow mapPartitions pass,
    // bounded one-row output per document, TakeOrdered at the end —
    // HTML bytes never shuffle.
    QueryDef.sql(
      "q223_html_extract",
      """SELECT doc_id AS id, text AS clean_text,
        |  CAST(2 + 2 * (doc_id % 2) AS INTEGER) AS n_links,
        |  CAST(12 + 6 * (doc_id % 2) AS INTEGER) AS tag_count,
        |  CAST(length(text) + 41 + 10 * (doc_id % 2) AS INTEGER)
        |    AS visible_chars,
        |  round(CAST(20 + 10 * (doc_id % 2) AS DOUBLE) /
        |        (length(text) + 41 + 10 * (doc_id % 2)), 4) AS link_density
        |FROM documents ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val docs = Tables.spread(s, Tables.load(s, dir, "documents"))
      val extracted = graft.functions.HtmlText.extractAll(
        graft.functions.HtmlText.documentsAsHtml(docs))
      extracted.toDF()
        .select(col("doc_id").as("id"), col("clean_text"), col("n_links"),
          col("tag_count"), col("visible_chars"),
          round(col("link_chars").cast("double") / col("visible_chars"), 4)
            .as("link_density"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // BOILERPLATE-INVARIANT PAGE DEDUP (q225, r16) — WHY a crawl
    // pipeline extracts before deduplicating: the same article served
    // under different page chrome (different nav blocks, different
    // titles) is invisible to raw-byte digests (q25/q40) but groups
    // exactly after extraction. The corpus re-serves each doc_id < 10
    // under a flipped-parity id (+100001), which by the q223 fixture
    // rule changes the page's boilerplate (the extra pager nav) and its
    // title — a DIFFERENT raw page, same content. The plan extracts
    // every page through functions.HtmlText and groups on
    // md5(clean_text) — the digest-grouped exact-dedup shape (q25's
    // 100 TB discipline: the shuffle key is 128 bits, never the text) —
    // so the injected cross-chrome copies land in their originals'
    // groups ONLY if extraction reproduced the content identically
    // through both templates; genuine corpus-internal text dups
    // surface in the same pass. Scale shape: narrow extraction, one
    // digest-keyed exchange with map-side combine, TakeOrdered.
    QueryDef.sql(
      "q225_html_dedup_boilerplate",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100001 AS doc_id, text
        |  FROM documents WHERE doc_id < 10),
        |g AS (SELECT md5(text) AS d, min(doc_id) AS canonical_id,
        |    count(*) AS n_copies,
        |    max(CASE WHEN doc_id >= 100001 THEN 1 ELSE 0 END) AS cross_chrome
        |  FROM corpus GROUP BY md5(text))
        |SELECT canonical_id, CAST(n_copies AS BIGINT) AS n_copies,
        |  CAST(cross_chrome AS INTEGER) AS cross_chrome
        |FROM g WHERE n_copies >= 2
        |ORDER BY canonical_id ASC""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100001L).as("doc_id"), col("text")))
      val pages = graft.functions.HtmlText.documentsAsHtml(
        Tables.spread(s, corpus))
      graft.functions.HtmlText.extractAll(pages).toDF()
        .groupBy(md5(col("clean_text")))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"),
          max(when(col("doc_id") >= 100001L, 1).otherwise(0))
            .as("cross_chrome"))
        .filter(col("n_copies") >= 2)
        .select(col("canonical_id"), col("n_copies"),
          col("cross_chrome").cast("int").as("cross_chrome"))
        .orderBy(col("canonical_id").asc)
    },

    // ------------------------------------------------------------------
    // WARC INGEST + EXTRACTION (q227, r16; r17 hardened) — the crawl's
    // OUTERMOST container: Common Crawl distributes the web as .warc.gz
    // files (ISO 28500; one gzip member per record, concatenated), and
    // a real ingest starts by walking those records, not by reading a
    // tidy parquet of documents. The fixture builds 8 real .warc.gz
    // files (doc_id % 8, records in doc_id order, each file led by a
    // warcinfo record like a live crawl file; pages cycle through the
    // real-crawl entity layerings — plain / chunked / gzip'd /
    // ISO-8859-1 charset / meta-charset / zstd / BOM'd UTF-16LE, r18)
    // via sources.warc.WarcIO; the MEASURED path is
    // then the production shape end to end: binaryFile scan →
    // INCREMENTAL per-file record walk (one gzip member inflated per
    // record — resident memory is the largest single record, never the
    // decompressed file) → skip non-response records → HTTP/1.1 entity
    // decode (status 200 enforced, chunked de-framed, gzip inflated,
    // Content-Type charset honored) → HtmlText extraction → one row per
    // page. Extraction must reproduce the source text exactly through
    // ALL the layers (gzip member, WARC framing, HTTP transfer/content
    // codings, charset, HTML boilerplate), so the oracle replays the
    // whole chain as documents-table arithmetic. Scale shape: files are
    // the scan unit, the walk is one narrow flatMap, payloads never
    // shuffle — the only exchange is the final TakeOrdered.
    QueryDef.sql(
      "q227_warc_ingest_extract",
      """SELECT doc_id AS id,
        |  'http://example.test/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  text AS clean_text
        |FROM documents ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.warc.WarcIO
      // ---- fixture construction (not the measured path): 8 real
      // .warc.gz files in a UNIQUE per-JVM directory (concurrent
      // processes — dual-SF verify, bench alongside verify — never
      // share a path). Rows are collected to the DRIVER before writing
      // so the build works when executors don't share the driver
      // filesystem; the collect is fixture-only and bounded by the
      // documents table (the measured path below never collects). The
      // content is a pure function of `dir`, so FixtureCache builds it
      // ONCE per JVM — repeated invocations (bench's two timed passes)
      // measure the ingest, not the scaffolding rebuild.
      val fixPath = FixtureCache.dir(s"warc|$dir") { fixPath =>
        val pagesById = graft.functions.HtmlText.documentsAsHtml(
            Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
          .toDF()
          .select(col("doc_id"), col("html"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val writes = pagesById.groupBy(_._1 % 8).toSeq.map { case (g, ps) =>
          Future {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(fixPath, s"part-$g.warc.gz"),
              WarcIO.writeWarcGz(ps.toSeq.map { case (id, html) =>
                (s"http://example.test/doc/$id", html)
              }))
            ()
          }
        }
        Await.result(Future.sequence(writes), Duration.Inf)
        ()
      }
      // ---- the measured path: scan files, walk records, extract
      s.read.format("binaryFile").load(fixPath)
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          WarcIO.readWarcGz(bytes)
            .filter(_.warcType == "response")
            .map { r =>
              val uri = r.targetUri.getOrElse(throw new IllegalArgumentException(
                "response record without WARC-Target-URI"))
              val entity = WarcIO.httpEntity(r.payload)
              require(entity.status == 200,
                s"unexpected HTTP status ${entity.status} for $uri")
              val id = uri.substring(uri.lastIndexOf('/') + 1).toLong
              (id, uri, graft.functions.HtmlText.extract(entity.text).clean_text)
            }
        }
        .toDF("id", "uri", "clean_text")
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // PDF TEXT EXTRACTION (q230, r17) — after HTML, the largest text
    // modality in a real crawl; the extraction story stopped at HTML
    // (q223/q227). Each document renders as a REAL two-page PDF —
    // framings alternate per id between the classic-xref-table layout
    // and the PDF 1.5 xref-stream + ObjStm + PNG-predictor layout
    // (r18), Flate-compressed content streams, Tj/TD text
    // operators, lines laid out at single-space boundaries (every
    // break replaces exactly one space, PdfText.layoutLines) — and the
    // MEASURED path is the production ingest: per-document xref
    // resolution → object/stream parse → FlateDecode → page-tree walk
    // → operator-level text extraction → reassembly. Extraction must
    // reproduce the source text exactly through ALL the layers (zlib,
    // string escaping, operator framing, page/line splits), so the
    // oracle replays the chain as documents-table identity; the page
    // count is cross-checked in-engine (loud). The parser itself is
    // pinned against an independent python-zlib golden (PdfTextSpec:
    // nested page trees, TJ kerns, hex strings, cp1252 bytes, reject
    // fixtures). Scale shape: one narrow mapPartitions — document
    // bytes never shuffle; the only exchange is the final TakeOrdered.
    QueryDef.sql(
      "q230_pdf_text_extract",
      """SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars,
        |  text AS clean_text
        |FROM documents ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.PdfText
      Tables.spread(s, Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          // the oracle replays `text` verbatim; a literal newline in the
          // source would survive layout and then be folded to ' ' below,
          // silently diverging — reject loudly instead (r17 ADVICE)
          require(text.indexOf('\n') < 0 && text.indexOf('\r') < 0,
            s"doc $id: source text contains a line break; q230's identity oracle assumes none")
          // render: the fixture layer (still executor-side and narrow).
          // Framings rotate by id: classic xref table, the PDF 1.5
          // xref-stream + ObjStm + PNG-Up-predictor layout (r18), and
          // the Type0/Identity-H + /ToUnicode subset-font layout (r19,
          // 2-byte CID hex show strings) — text identity must survive
          // all three.
          val lines = PdfText.layoutLines(text, 60)
          val pages = lines.grouped(math.max(1, (lines.size + 1) / 2)).toSeq
          val pdf = (id % 3) match {
            case 0 => PdfText.writePdf(pages)
            case 1 => PdfText.writePdfXrefStream(pages)
            case _ => PdfText.writePdfType0(pages)
          }
          // the measured extraction chain — ONE parse yields both the
          // text and the page-count cross-check (r17 ADVICE)
          val pageTexts = PdfText.extractPages(pdf)
          require(pageTexts.size == pages.size,
            s"doc $id: page tree diverged")
          (id, pageTexts.mkString("\n").replace('\n', ' '))
        })
        .toDF("id", "clean_text")
        .select(col("id"), length(col("clean_text")).cast("long").as("n_chars"),
          col("clean_text"))
        .orderBy(col("id").asc)
        .limit(200)
    }
  )
}
