package graft.functions

import graft.Tables
import graft.operators.Layout
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One probe-time-consistent view of a catalog: both index tables and both
  * codebooks resolved under the build lock, so a concurrent rebuild can
  * never pair a new codebook with an old index (or vice versa) inside one
  * query. The DataFrames are analyzed eagerly at snapshot time, pinning
  * the generation directory they read even if a rebuild swaps the catalog
  * tables before the query executes (the previous generation's files stay
  * on disk until the NEXT build). `vectors`/`codes` are the SERVING view:
  * tombstoned vec_ids (see [[AnnIndex.delete]]) are already excluded via
  * a broadcast anti-join whose tombstone set is MATERIALIZED at snapshot
  * time (a concurrent fold truncates the tombstone table in place; the
  * pinned view must not dissolve with it), so every probe path is
  * deletion-aware for free and fold-stable.
  */
final case class AnnSnapshot(
    vectors: DataFrame, codes: DataFrame,
    ivf: Seq[(Int, Seq[Double])], pq: Seq[Seq[Seq[Double]]])

/** Per-index training hyper-parameters, PERSISTED in the catalog's
  * `params` table so a probe session always loads codebooks with the
  * geometry the index was BUILT with — never the constants the probing
  * binary happens to be compiled with. The defaults reproduce the
  * q100-q108 oracle chains; a 100 TB deployment raises `coarseK` into
  * the thousands (~sqrt(n) cells) and `pqK` to 256 without touching
  * probe code: bucket counts, codebook loads, and the managed-catalog
  * fingerprint all read these back from the catalog itself.
  */
final case class AnnParams(
    coarseK: Int = AnnIndex.CoarseK,
    coarseIters: Int = AnnIndex.CoarseIters,
    sampleBuckets: Int = AnnIndex.SampleBuckets,
    pqSubspaces: Int = AnnIndex.PqSubspaces,
    pqK: Int = AnnIndex.PqK,
    pqIters: Int = AnnIndex.PqIters) {
  require(coarseK > 0 && pqSubspaces > 0 && pqK > 0
    && coarseIters >= 0 && pqIters >= 0 && sampleBuckets > 0,
    s"invalid ANN params: $this")

  /** Stable signature mixed into the managed-catalog fingerprint: an
    * `ensure` with different params must REBUILD, not serve an index
    * whose geometry doesn't match the request.
    */
  def sig: String =
    s"k$coarseK/$coarseIters s$sampleBuckets pq$pqSubspaces:$pqK/$pqIters"
}

object AnnParams {
  val Default: AnnParams = AnnParams()
}

/** What [[AnnIndex.maintain]] saw and did: the pre-maintenance stats the
  * policy read, and whether they crossed a threshold and triggered a
  * compaction. `nIndex` counts PHYSICAL rows in the vectors table
  * (tombstoned rows included until a fold removes them); `filesPerBucket`
  * is the append-debt measure — every [[AnnIndex.append]] batch adds one
  * file per touched bucket.
  */
final case class AnnMaintenance(
    nIndex: Long, nTombstones: Long, tombstoneFrac: Double,
    filesPerBucket: Double, compacted: Boolean)

/** Persisted ANN index catalog — the build-once/probe-many lifecycle split.
  *
  * r6 left every ANN query re-training its codebooks in-line, so the bench
  * conflated a fixed build cost with the number that matters at 100 TB:
  * probe latency. This catalog derives the trained artifacts ONCE per
  * dataset and persists all of them next to each other:
  *
  *   - `vectors`      (vec_id, embedding, cell)  bucketed by coarse cell
  *   - `codes`        (vec_id, cell, codes)      bucketed by coarse cell
  *   - `ivf_codebook` (cid, cv)                  k×dim doubles
  *   - `pq_codebook`  (b, cid, cv8)              subspaces×k×(dim/subspaces)
  *   - `tombstones`   (vec_id)                   deleted ids awaiting compaction
  *   - `params`       one row of [[AnnParams]]   the geometry the index was built with
  *
  * Probe-only entry points then load the tiny codebook tables (k rows to
  * the driver) and run nothing but the pruned-scan/ADC plan. This is the
  * relational analogue of the reference persisting its multiscale pyramid
  * once and reading the levels many times (`n5_multiscale.py:121-133` —
  * derive once, read many).
  *
  * Lifecycle: `ensure` is idempotent at three levels — (1) already
  * registered in this session's catalog AND the memoized fingerprint still
  * matches the dataset: no work (an embeddings file overwritten mid-session
  * therefore forces the rebuild path instead of serving a stale index);
  * (2) a marker file with a matching dataset fingerprint exists on disk:
  * re-register the tables over the existing files (external tables with
  * the same bucket spec — bucket ids are recovered from the file names, so
  * pruning still works); (3) otherwise: train and write a NEW GENERATION
  * directory, swap the serving tables onto it, and stamp the marker LAST
  * so a half-built catalog is never recovered.
  *
  * Generations: each build lands in `<loc>/g<N>` and the serving database
  * holds EXTERNAL tables pointed at the current generation. The previous
  * generation's files are kept until the build after next, so a probe plan
  * that resolved its locations before a rebuild keeps reading a complete,
  * self-consistent index mid-rebuild. Probes that need cross-table
  * atomicity take a [[snapshot]] (resolved under the build lock).
  *
  * Maintenance: [[append]] is the incremental GROW path — delta vectors
  * are assigned against the FROZEN persisted codebooks and appended into
  * the existing cell buckets; no retraining, no rewrite of existing files
  * (mirrors the incremental-dedup-vs-history shape of q99). [[delete]] is
  * the SHRINK path — ids land in the tombstone table and drop out of
  * every probe via the snapshot-side broadcast anti-join; [[compact]]
  * folds both kinds of maintenance debt (small append files, pending
  * tombstones) into a clean new generation.
  *
  * Scope: the catalog root defaults to `java.io.tmpdir` and can be moved
  * with the `graft.ann.catalog.root` system property (set it to shared
  * storage for a real deployment). The build/probe lock is JVM-local;
  * cross-process, every marker stamp is a compare-and-swap (atomic
  * temp+rename, preceded by a re-read against the maintenance op's
  * initial read), so a concurrent build from another driver surfaces as
  * a loud ConcurrentModificationException instead of last-write-wins
  * marker corruption. The check-then-rename window is not a storage
  * lease — multi-driver deployments should still serialize maintenance
  * externally; the guarantee here is detection, not arbitration.
  */
object AnnIndex {

  /** Default training hyper-parameters ([[AnnParams]]) — chosen so the
    * DuckDB oracle CTE chains (which replay training from the raw table)
    * reproduce the persisted artifacts exactly. Identical to
    * q100/q103/q104's inline training. Builds may override any of them;
    * the built values persist in the catalog's `params` table.
    */
  val CoarseK = 8
  val CoarseIters = 3
  val SampleBuckets = 3
  val PqSubspaces = 8
  val PqK = 16
  val PqIters = 2

  private val tableNames =
    Seq("vectors", "codes", "ivf_codebook", "pq_codebook", "tombstones", "params")

  /** Run independent Spark writes concurrently (guide §2.6 — actions are
    * only sequential because the driver calls them sequentially). A build
    * writes six tables whose jobs share no state: issuing them from a
    * small pool lets the tiny codebook/params writes back-fill executor
    * slots freed by the big bucketed writes' tails, and the per-write
    * driver commit tails overlap instead of summing. A failure never cuts
    * a sibling short (an interrupt could land mid-commit): every job runs
    * to its end, then the first failure in `work` order is rethrown with
    * the others attached as suppressed. The pool is shut down before the
    * call returns.
    */
  private[functions] def inParallel(work: Seq[() => Unit]): Unit = {
    if (work.isEmpty) return
    if (work.size == 1) { work.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    try {
      val futs = work.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = w()
      }))
      val failures = futs.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Catalog database name for a dataset dir (content-addressed). */
  def dbFor(dir: String): String = s"graft_ann_catalog_${md5hex(dir).take(8)}"

  /** Content-addressed (db, location) for a SELF-MANAGED index over a
    * dataset dir — the [[buildIndex]] entry point's naming helper, used by
    * queries that build ephemeral per-dataset indexes (q108/q109) so two
    * concurrent runs over DIFFERENT dataset dirs never clobber each
    * other's index, and the catalog root override is honored like the
    * `ensure`-managed catalogs.
    */
  def scratchFor(dir: String, tag: String): (String, String) = {
    val db = s"graft_ann_${tag}_${md5hex(dir).take(8)}"
    (db, locFor(db))
  }

  private def locFor(db: String): String = {
    val root = System.getProperty("graft.ann.catalog.root",
      System.getProperty("java.io.tmpdir"))
    s"$root/${db}_db"
  }

  private def genLoc(loc: String, gen: Int): String = s"$loc/g$gen"

  /** Rebuild trigger: length + mtime of the source embeddings file, plus
    * the requested training params — an `ensure` with a different
    * geometry must rebuild, never serve a mismatched index.
    */
  private def fingerprint(
      s: SparkSession, dir: String, params: AnnParams): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    s"graft-ann-v3 ${st.getLen} ${st.getModificationTime} ${params.sig}"
  }

  /** Fingerprint the session fast path checks — what `ensure` last built,
    * recovered, or appended for this db IN THIS JVM.
    */
  private val fpMemo = scala.collection.concurrent.TrieMap.empty[String, String]

  private def markerPath(loc: String) =
    new org.apache.hadoop.fs.Path(loc, "_GRAFT_INDEX_READY")

  /** Marker text is `g<gen>\n<fingerprint>`; absence or an unparsable
    * (pre-generation) marker reads as None → rebuild.
    */
  private def readMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Option[(Int, String)] = {
    if (!fs.exists(marker)) return None
    val in = fs.open(marker)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.split("\n", 2) match {
      case Array(g, fp) if g.matches("g\\d+") => Some((g.drop(1).toInt, fp))
      case _ => None
    }
  }

  /** Test seam for the multi-driver race window: invoked between a
    * maintenance op's initial marker read and its compare-and-swap write,
    * where an external driver's concurrent build would land.
    */
  private[functions] var markerRaceHook: () => Unit = () => ()

  /** Compare-and-swap marker stamp: re-reads the marker and fails loudly
    * if it moved since `expect` was read (a concurrent build from
    * ANOTHER driver process — the JVM-local lock can't see it), then
    * publishes via write-temp + atomic rename so no reader ever observes
    * a torn marker. Last-write-wins marker corruption (r8 VERDICT #4) is
    * replaced by a loud [[java.util.ConcurrentModificationException]];
    * the check-then-rename window is still not a storage lease, so
    * multi-driver deployments should serialize maintenance externally —
    * but a lost race now surfaces instead of silently cross-stamping.
    */
  private def writeMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path, gen: Int, fp: String,
      expect: Option[(Int, String)]): Unit = {
    markerRaceHook()
    val now = readMarker(fs, marker)
    if (now != expect) throw new java.util.ConcurrentModificationException(
      s"ANN catalog marker $marker moved from $expect to $now during " +
        "maintenance — concurrent build from another driver process; " +
        "this session's tables still serve their pre-maintenance generation")
    val bytes = s"g$gen\n$fp".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val local = graft.sources.HadoopFs.localPath(fs, marker)
    if (local != null) graft.sources.HadoopFs.writeLocal(local, bytes)
    else {
      val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
        s".${marker.getName}.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(bytes)
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, marker, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Idempotent build-or-recover; returns the catalog database name.
    * `params` defaults reproduce the oracle chains; a non-default build
    * persists its params in the catalog and folds them into the
    * fingerprint, so a later ensure with a DIFFERENT geometry rebuilds
    * rather than serving a mismatched index.
    */
  def ensure(
      s: SparkSession, dir: String,
      params: AnnParams = AnnParams.Default): String = synchronized {
    val db = dbFor(dir)
    val registered =
      s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.vectors")
    val loc = locFor(db)
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = markerPath(loc)
    // a built catalog is self-contained: if the SOURCE dataset is gone
    // (archived after indexing — nothing left to compare or rebuild
    // from), keep serving the persisted index instead of dying in the
    // fingerprint stat
    val want =
      try fingerprint(s, dir, params)
      catch {
        case _: java.io.FileNotFoundException =>
          if (registered) return db
          readMarker(fs, marker) match {
            case Some((gen, _)) => register(s, db, loc, gen); return db
            case None => throw new IllegalStateException(
              s"$dir/embeddings.parquet does not exist and no persisted " +
                s"ANN catalog is recoverable at $loc")
          }
      }
    // session fast path: registered AND the dataset is unchanged since the
    // registration (the memoized fingerprint is what this JVM last
    // built/recovered — a mid-session overwrite of the embeddings file
    // falls through to the rebuild branch instead of serving stale data)
    if (registered && fpMemo.get(db).contains(want))
      return db
    readMarker(fs, marker) match {
      case Some((gen, fp)) if fp == want =>
        register(s, db, loc, gen)
      case prior =>
        val gen = prior.map(_._1 + 1).getOrElse(0)
        // pre-generation layouts (or unparsable markers) rebuild at g0;
        // drop their flat table dirs so they don't leak under the root
        if (prior.isEmpty)
          tableNames.foreach(t =>
            fs.delete(new org.apache.hadoop.fs.Path(hp, t), true))
        buildIndex(s, scratchDb(db, gen),
          Tables.load(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding")),
          genLoc(loc, gen), params)
        // marker once the generation's FILES are complete (its presence
        // certifies them), and compare-and-swap against the marker read
        // above — if another driver built meanwhile, fail loudly BEFORE
        // swapping this session's serving tables, which then keep
        // serving their previous generation
        writeMarker(fs, marker, gen, want, expect = prior)
        register(s, db, loc, gen)
        dropOldGenerations(s, db, loc, fs, keepFrom = gen - 1)
    }
    fpMemo(db) = want
    db
  }

  /** Incremental maintenance — the alternative to a full rebuild when the
    * corpus GROWS: assign the delta vectors to coarse cells against the
    * FROZEN persisted codebooks (the same narrow argmax a probe runs),
    * encode their PQ codes with the frozen PQ codebook, and append both
    * into the existing cell-bucketed tables. No training jobs, no rewrite
    * of existing files; the appended files carry the same bucket-id
    * naming, so probe-side bucket pruning is unchanged. At 100 TB this
    * turns per-ingest-batch index maintenance from a full retrain+rewrite
    * into two bounded bucketed appends — the q99
    * incremental-dedup-vs-history economics applied to the index.
    *
    * Visibility: the tables are append-only, and a non-partitioned
    * catalog table's file listing is taken when the reading plan is
    * RESOLVED — a probe resolved before the append simply does not see
    * the delta yet (plans are never torn within a table), one resolved
    * after sees all of it. A rerank probe resolving mid-append may see
    * delta codes before delta vectors — benign (the delta candidate is
    * dropped from that probe's rerank). Long-lived readers should
    * re-resolve (fresh [[snapshot]]) per unit of work — see annServe's
    * per-micro-batch snapshot. Rebuilds and compactions, by contrast,
    * are fully snapshot-isolated via the generation swap.
    */
  def append(s: SparkSession, db: String, deltaEmb: DataFrame): Unit =
    synchronized {
      val p = paramsOf(s, db)
      val cents = ivfCodebook(s, db)
      val cb = pqCodebook(s, db)
      val e = deltaEmb.select(col("vec_id"), col("embedding"))
      val cell = VectorSearch.ivfCellD(
        VectorFunctions.toDoubles(col("embedding")), cents)
      // r19: assign the delta once — the vectors and codes writes each
      // re-ran the upstream scan + coarse argmax otherwise
      val assigned = e.select(col("vec_id"), col("embedding"),
        cell.as("cell")).localCheckpoint()
      // r20: the two bucketed appends are independent jobs off the same
      // checkpointed assignment — overlap them (guide §2.6)
      inParallel(Seq(
        () => Layout.appendBucketed(
          assigned.select(col("vec_id"), col("embedding"), col("cell")),
          s"$db.vectors", "cell", p.coarseK),
        () => Layout.appendBucketed(
          assigned.select(col("vec_id"), col("cell"),
            NativeExpressions.pqEncode(col("embedding"), cb).as("codes")),
          s"$db.codes", "cell", p.coarseK)))
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(assigned)
    }

  /** [[append]] for an `ensure`-managed dataset catalog: appends the delta
    * and restamps the marker with the dataset's CURRENT fingerprint, so a
    * later `ensure` (this session or a fresh one) recovers the appended
    * index instead of retraining from scratch. Call it after the delta
    * rows have landed in the dataset's embeddings store.
    */
  def appendToDataset(s: SparkSession, dir: String, deltaEmb: DataFrame): String =
    synchronized {
      val db = dbFor(dir)
      val loc = locFor(db)
      val hp = new org.apache.hadoop.fs.Path(loc)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = markerPath(loc)
      val prior = readMarker(fs, marker)
      val (gen, _) = prior.getOrElse(throw new IllegalStateException(
        s"no persisted ANN catalog for $dir at $loc — build with ensure() before appending"))
      if (!(s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.vectors")))
        register(s, db, loc, gen)
      // fingerprint captured BEFORE the append runs: if another ingest
      // lands in the dataset while the (arbitrarily long) append writes,
      // the marker must NOT certify that later data as indexed — a
      // pre-append stamp leaves the mismatch in place, so the next
      // ensure() conservatively rebuilds instead of silently serving an
      // index that is missing the mid-append arrivals
      val now = fingerprint(s, dir, paramsOf(s, db))
      append(s, db, deltaEmb)
      writeMarker(fs, marker, gen, now, expect = prior)
      fpMemo(db) = now
      db
    }

  /** Deletion maintenance — the shrink-side counterpart of [[append]],
    * closing the last lifecycle hole: a dedup pipeline's own output IS a
    * deletion list, and before this the only path for a shrinking corpus
    * was a full retrain+rewrite. `delete` appends the vec_ids to a tiny
    * `tombstones` table (one small file per delete batch); every probe
    * path excludes them via a broadcast anti-join applied in [[snapshot]]
    * — tombstones are small BETWEEN COMPACTIONS by contract, exactly the
    * incremental-vs-history economics of q99. No index file is touched;
    * [[compact]] later folds the tombstones out physically and starts the
    * next generation with an empty tombstone table.
    *
    * Idempotent by construction (the anti-join ignores duplicates), and a
    * tombstoned id that never existed in the index is a no-op. The ids
    * relation must carry a `vec_id` column.
    */
  def delete(s: SparkSession, db: String, ids: DataFrame): Unit =
    synchronized {
      ids.select(col("vec_id").cast("bigint").as("vec_id"))
        .coalesce(1)
        .write.mode("append").format("parquet")
        .saveAsTable(s"$db.tombstones")
    }

  /** [[delete]] for an `ensure`-managed dataset catalog: tombstones the
    * ids and restamps the marker with the dataset's CURRENT fingerprint,
    * so after the caller removes the same rows from the source dataset a
    * later `ensure` recovers the tombstoned index instead of retraining —
    * the pre-capture ordering argument of [[appendToDataset]] applies
    * unchanged (a mid-delete ingest leaves the mismatch in place and the
    * next ensure conservatively rebuilds).
    */
  def deleteFromDataset(s: SparkSession, dir: String, ids: DataFrame): String =
    synchronized {
      val db = dbFor(dir)
      val loc = locFor(db)
      val hp = new org.apache.hadoop.fs.Path(loc)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = markerPath(loc)
      val prior = readMarker(fs, marker)
      val (gen, _) = prior.getOrElse(throw new IllegalStateException(
        s"no persisted ANN catalog for $dir at $loc — build with ensure() before deleting"))
      if (!(s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.vectors")))
        register(s, db, loc, gen)
      val now = fingerprint(s, dir, paramsOf(s, db))
      delete(s, db, ids)
      writeMarker(fs, marker, gen, now, expect = prior)
      fpMemo(db) = now
      db
    }

  /** Compaction — the operational tail of the append path: every
    * [[append]] batch adds one file per touched bucket, so a long-lived
    * index accumulates small files per bucket (the classic LSM-ish
    * maintenance debt). `compact` rewrites both index tables into a NEW
    * generation with exactly one file per bucket — no retraining, same
    * fingerprint, and the generation swap keeps concurrent probes
    * consistent exactly like a rebuild does. Cost: one bucketed shuffle
    * of each index table (the codes table is ~32× smaller than the
    * corpus), paid only when maintenance decides to — probes never
    * stop working in between, they just read more files.
    */
  def compact(s: SparkSession, dir: String): String = synchronized {
    val db = dbFor(dir)
    compactAt(s, db, locFor(db))
    db
  }

  /** [[compact]] keyed by catalog (db, loc) rather than dataset dir —
    * what generation-layout-aware [[maintain]] routes through when it
    * only holds the database name (e.g. a self-maintaining ingest
    * stream over an `ensure`-managed catalog).
    */
  private def compactAt(s: SparkSession, db: String, loc: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = markerPath(loc)
    val prior = readMarker(fs, marker)
    val (gen, fp) = prior.getOrElse(throw new IllegalStateException(
      s"no persisted ANN catalog at $loc — build with ensure() before compacting"))
    if (!(s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.vectors")))
      register(s, db, loc, gen)
    val pr = paramsOf(s, db)
    val gen2 = gen + 1
    val scratch = scratchDb(db, gen2)
    val g2 = genLoc(loc, gen2)
    s.sql(s"DROP DATABASE IF EXISTS $scratch CASCADE")
    val g2p = new org.apache.hadoop.fs.Path(g2)
    if (fs.exists(g2p)) fs.delete(g2p, true)
    s.sql(s"CREATE DATABASE $scratch LOCATION '$g2'")
    // bucket-preserving rewrite. The current generation is read as RAW
    // parquet paths, not through the catalog tables: a source carrying
    // the same bucket spec as the write satisfies the repartition's
    // partitioning, so the optimizer ELIDES the exchange and the "rewrite"
    // degenerates to one output file per input file — exactly the small-
    // file state compaction exists to fix. The raw scan has no bucket
    // metadata, so the one-partition-per-bucket shuffle survives.
    val g1 = genLoc(loc, gen)
    // tombstones fold out HERE: the rewrite anti-joins the deleted ids
    // (broadcast — tombstones are small between compactions by contract)
    // so the new generation physically drops them, and its tombstone
    // table starts EMPTY. Probes never needed to wait for this; the
    // snapshot-side anti-join served the deletions logically all along.
    val tombDir = new org.apache.hadoop.fs.Path(s"$g1/tombstones")
    val tombs: Option[DataFrame] =
      if (fs.exists(tombDir) && fs.listStatus(tombDir)
          .exists(_.getPath.getName.endsWith(".parquet")))
        Some(s.read.parquet(s"$g1/tombstones"))
      else None
    def fold(df: DataFrame): DataFrame = tombs match {
      case Some(t) => df.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None => df
    }
    // r20: four independent rewrites — overlap them (guide §2.6)
    inParallel(Seq(
      () => Layout.writeBucketed(fold(s.read.parquet(s"$g1/vectors")),
        s"$scratch.vectors", "cell", pr.coarseK),
      () => Layout.writeBucketed(fold(s.read.parquet(s"$g1/codes")),
        s"$scratch.codes", "cell", pr.coarseK),
      () => s.read.parquet(s"$g1/ivf_codebook").coalesce(1).write
        .format("parquet").saveAsTable(s"$scratch.ivf_codebook"),
      () => s.read.parquet(s"$g1/pq_codebook").coalesce(1).write
        .format("parquet").saveAsTable(s"$scratch.pq_codebook")))
    s.sql(s"CREATE TABLE $scratch.tombstones (vec_id BIGINT) USING parquet")
    writeParamsTable(s, scratch, pr)
    // marker once the generation's files are complete, compare-and-swap
    // against the read above (fail loudly on a concurrent build BEFORE
    // swapping this session's serving tables); same data, new layout:
    // the fingerprint is unchanged by design
    writeMarker(fs, marker, gen2, fp, expect = prior)
    register(s, db, loc, gen2)
    dropOldGenerations(s, db, loc, fs, keepFrom = gen2 - 1)
  }

  /** Maintenance POLICY — the decision face the lifecycle was missing:
    * [[buildIndex]]/[[append]]/[[delete]]/[[compact]] are mechanisms,
    * this decides WHEN. It reads two cheap stats off the catalog — the
    * tombstone fraction (deletion debt: every tombstone is a broadcast
    * anti-join row EVERY probe pays until a fold removes it) and parquet
    * files per bucket (append debt: each [[append]] batch adds one file
    * per touched bucket) — and compacts only when a threshold is
    * crossed. Both stats are metadata-cheap at any scale: one count on
    * the bounded tombstone table, one count over the cell-bucketed
    * vectors (a parquet row-group-stats scan, no data read), and a file
    * listing the catalog already holds.
    *
    * For SELF-MANAGED scratch indexes ([[buildIndex]]): the fold writes
    * both tables to a fresh fold-generation directory and REPOINTS the
    * serving names (external-table DROP + RENAME — no old file is
    * deleted in the swap), truncating the tombstone table last. The
    * previous serving directory survives until the fold after next, so
    * a probe whose snapshot resolved just before the fold keeps reading
    * complete files — the same keep-one-generation rule as [[compact]].
    * A crash mid-fold leaves a serving view that is still correct
    * (snapshot() anti-joins tombstones; [[healInterruptedFold]] finishes
    * or discards the half-swap on the next call). For `ensure`-managed
    * dataset catalogs this entry point detects the generation layout
    * (marker file at the db location) and routes the fold through
    * [[compact]]'s generation swap — [[maintainDataset]] does the same
    * when the caller holds the dataset dir.
    */
  def maintain(
      s: SparkSession, db: String,
      maxTombstoneFrac: Double = 0.2,
      maxFilesPerBucket: Double = Double.PositiveInfinity): AnnMaintenance =
    synchronized {
      val p = paramsOf(s, db)
      val dbLoc = s.catalog.getDatabase(db).locationUri
      val hp = new org.apache.hadoop.fs.Path(dbLoc)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      // an `ensure`-managed catalog (generation layout — its marker file
      // lives at the db location) must fold through compact's generation
      // swap: the flat fold below would write outside generation tracking
      // and TRUNCATE an external tombstone table (which Spark refuses).
      // Detecting the layout here makes the threshold parameters of
      // Streams.annIngest valid for BOTH catalog kinds (r11 ADVICE).
      if (fs.exists(markerPath(dbLoc))) {
        val (nIndex, nTomb, frac, fpb) = statsOf(s, db, p)
        val due = frac > maxTombstoneFrac || fpb > maxFilesPerBucket
        if (due) compactAt(s, db, dbLoc)
        return AnnMaintenance(nIndex, nTomb, frac, fpb, compacted = due)
      }
      healInterruptedFold(s, db)
      val (nIndex, nTomb, frac, fpb) = statsOf(s, db, p)
      val due = frac > maxTombstoneFrac || fpb > maxFilesPerBucket
      if (due) {
        val tomb = broadcast(s.table(s"$db.tombstones"))
        // Swap discipline (r11 ADVICE — previously DROP on a MANAGED
        // table deleted the old files immediately, racing any probe
        // whose snapshot resolved just before the fold): each folded
        // table is written to a fresh fold_g<N> directory as an
        // EXTERNAL table, the serving name is repointed via DROP (no
        // file deletion — buildIndex writes the index tables external)
        // + RENAME, and the PREVIOUS serving directory survives this
        // fold so pinned plans finish against complete files; only
        // directories two folds old are deleted (compact's
        // keep-one-generation rule, applied to the scratch layout).
        //
        // The source is read as RAW parquet paths, not through the
        // catalog: a catalog scan carries the bucket spec, the optimizer
        // elides writeBucketed's repartition, and the "fold" degenerates
        // to one output file per input file — the small-file state it
        // exists to fix.
        //
        // Failure ordering: the tombstone TRUNCATE runs LAST, and the
        // serving view stays correct at every crash point — snapshot()
        // anti-joins the tombstones against both tables, re-dropping
        // already-folded rows is a no-op, and a crash between DROP and
        // RENAME is healed by healInterruptedFold() on the next
        // maintain() (the folded files are already complete on disk).
        val oldLocs = Seq("vectors", "codes")
          .map(t => t -> servingLocation(s, db, t)).toMap
        val foldDir = s"$dbLoc/fold_g${nextFoldGen(fs, hp)}"
        val newLocs = Seq("vectors", "codes")
          .map(t => t -> s"$foldDir/$t").toMap
        // r20: the two fold rewrites run concurrently (guide §2.6); the
        // DROP→RENAME swaps stay serial and AFTER both writes, so the
        // crash-window healing contract (healInterruptedFold) is
        // unchanged — a _folding table only ever swaps once its files
        // are complete.
        inParallel(Seq("vectors", "codes").map(t => () => {
          val folded = s.read.parquet(oldLocs(t))
            .join(tomb, Seq("vec_id"), "left_anti")
          Layout.writeBucketedAt(
            folded, s"$db.${t}_folding", "cell", p.coarseK, newLocs(t))
        }))
        Seq("vectors", "codes").foreach { t =>
          s.sql(s"DROP TABLE $db.$t")
          s.sql(s"ALTER TABLE $db.${t}_folding RENAME TO $db.$t")
        }
        s.sql(s"TRUNCATE TABLE $db.tombstones")
        gcRetiredFoldDirs(s, fs, hp,
          keep = (oldLocs.values ++ newLocs.values).toSet)
      }
      AnnMaintenance(nIndex, nTomb, frac, fpb, compacted = due)
    }

  /** Current file location of `db.t` (qualified string). */
  private def servingLocation(
      s: SparkSession, db: String, t: String): String = {
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
    new org.apache.hadoop.fs.Path(meta.location).toString
  }

  /** Complete (or discard) the artifacts of a fold that crashed between
    * its catalog operations: a missing serving table with a complete
    * `_folding` table present is the DROP→RENAME window — finish the
    * rename; a `_folding` table beside an intact serving table never
    * swapped — drop it (external: its files are GC'd by the next fold).
    */
  private def healInterruptedFold(s: SparkSession, db: String): Unit =
    Seq("vectors", "codes").foreach { t =>
      val serving = s.catalog.tableExists(s"$db.$t")
      val folding = s.catalog.tableExists(s"$db.${t}_folding")
      if (!serving && folding)
        s.sql(s"ALTER TABLE $db.${t}_folding RENAME TO $db.$t")
      else if (folding)
        s.sql(s"DROP TABLE $db.${t}_folding")
    }

  /** Next fold-generation number under the scratch db root. */
  private def nextFoldGen(
      fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path): Int = {
    val exist =
      if (fs.exists(hp)) fs.listStatus(hp).map(_.getPath.getName)
        .collect { case n if n.matches("fold_g\\d+") => n.drop(6).toInt }
      else Array.empty[Int]
    if (exist.isEmpty) 1 else exist.max + 1
  }

  /** Delete retired index-table directories (the flat g0 dirs and old
    * fold_g<K> dirs) EXCEPT the `keep` set — the previous and the new
    * serving locations — so deletion always lags the swap by one fold.
    */
  private def gcRetiredFoldDirs(
      s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path, keep: Set[String]): Unit = {
    val keepQ = keep.map(l =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(l)).toString)
    def dropUnlessKept(p: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(p) && !keepQ.contains(fs.makeQualified(p).toString)) {
        fs.delete(p, true); ()
      }
    Seq("vectors", "codes").foreach(t =>
      dropUnlessKept(new org.apache.hadoop.fs.Path(hp, t)))
    if (fs.exists(hp)) fs.listStatus(hp).foreach { st =>
      if (st.getPath.getName.matches("fold_g\\d+")) {
        Seq("vectors", "codes").foreach(t =>
          dropUnlessKept(new org.apache.hadoop.fs.Path(st.getPath, t)))
        if (fs.listStatus(st.getPath).isEmpty) { fs.delete(st.getPath, true); () }
      }
    }
  }

  /** [[maintain]] for an `ensure`-managed dataset catalog: same policy
    * stats, but a due compaction runs through [[compact]]'s generation
    * swap (marker CAS, snapshot-isolated serving, old-generation GC).
    */
  def maintainDataset(
      s: SparkSession, dir: String,
      maxTombstoneFrac: Double = 0.2,
      maxFilesPerBucket: Double = Double.PositiveInfinity): AnnMaintenance =
    synchronized {
      val db = dbFor(dir)
      val loc = locFor(db)
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val prior = readMarker(fs, markerPath(loc))
      val (gen, _) = prior.getOrElse(throw new IllegalStateException(
        s"no persisted ANN catalog for $dir at $loc — build with ensure() " +
          "before maintaining"))
      if (!(s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.vectors")))
        register(s, db, loc, gen)
      val (nIndex, nTomb, frac, fpb) = statsOf(s, db, paramsOf(s, db))
      val due = frac > maxTombstoneFrac || fpb > maxFilesPerBucket
      if (due) compact(s, dir)
      AnnMaintenance(nIndex, nTomb, frac, fpb, compacted = due)
    }

  private def statsOf(
      s: SparkSession, db: String,
      p: AnnParams): (Long, Long, Double, Double) = {
    val nTomb = s.table(s"$db.tombstones").count()
    val vectors = s.table(s"$db.vectors")
    val nIndex = vectors.count()
    val frac = if (nIndex == 0L) 0.0 else nTomb.toDouble / nIndex
    // append debt = the MAX over both index tables' file counts (r11
    // ADVICE): a fold that crashed after rewriting vectors but before
    // codes must still read as due on retry, not let the codes table's
    // small-file debt hide behind a freshly-folded vectors count
    val files = math.max(vectors.inputFiles.length,
      s.table(s"$db.codes").inputFiles.length)
    (nIndex, nTomb, frac, files.toDouble / p.coarseK)
  }

  /** Probe-time-consistent resolution of the full catalog (see
    * [[AnnSnapshot]]) — use this instead of raw `s.table` calls when a
    * rebuild may run concurrently with serving.
    */
  /** Ceiling on the tombstone rows a snapshot materializes to the driver.
    * Tombstones are bounded BETWEEN COMPACTIONS by contract (they ride a
    * broadcast anti-join on every probe); an index whose deletion debt
    * grew past this is mis-operated — fail loudly pointing at the fix
    * (maintain/compact) instead of OOMing the driver.
    */
  val MaxSnapshotTombstones = 5000000

  def snapshot(s: SparkSession, db: String): AnnSnapshot = synchronized {
    // the serving view: deleted ids drop out via ONE broadcast anti-join
    // per table — the tombstone relation is bounded between compactions,
    // so this never shuffles the index side, and the cell-isin probe
    // filters still push through the anti-join into the bucketed scan
    // (PlanAuditSpec pins both). The tombstone SET is materialized here,
    // at snapshot time: the index tables pin their files via deferred
    // deletion, but a concurrent fold TRUNCATEs the tombstone table in
    // place — a lazy reference would dissolve the snapshot's deletions
    // the moment a fold lands (tombstoned rows, still present in the
    // pinned pre-fold files, would leak back into the serving view).
    val tombTable = s.table(s"$db.tombstones")
    val rows = tombTable.take(MaxSnapshotTombstones + 1)
    require(rows.length <= MaxSnapshotTombstones,
      s"$db.tombstones exceeds $MaxSnapshotTombstones rows — deletion " +
        "debt this size must be folded (AnnIndex.maintain/compact) " +
        "before serving")
    val tomb = broadcast(s.createDataFrame(
      java.util.Arrays.asList(rows: _*), tombTable.schema))
    AnnSnapshot(
      s.table(s"$db.vectors").join(tomb, Seq("vec_id"), "left_anti"),
      s.table(s"$db.codes").join(tomb, Seq("vec_id"), "left_anti"),
      ivfCodebook(s, db), pqCodebook(s, db))
  }

  private def scratchDb(db: String, gen: Int): String = s"${db}_g$gen"

  /** Drop generation directories (and their scratch databases) older than
    * `keepFrom` — the generation before the current one is deliberately
    * kept so probe plans resolved before the swap finish consistently.
    */
  private def dropOldGenerations(
      s: SparkSession, db: String, loc: String,
      fs: org.apache.hadoop.fs.FileSystem, keepFrom: Int): Unit = {
    val hp = new org.apache.hadoop.fs.Path(loc)
    if (!fs.exists(hp)) return
    fs.listStatus(hp).foreach { st =>
      val n = st.getPath.getName
      if (n.matches("g\\d+") && n.drop(1).toInt < keepFrom) {
        s.sql(s"DROP DATABASE IF EXISTS ${scratchDb(db, n.drop(1).toInt)} CASCADE")
        fs.delete(st.getPath, true)
      }
    }
  }

  /** (Re-)point the serving database's EXTERNAL tables at generation
    * `gen`'s files — used both to recover a persisted catalog in a fresh
    * session and to swap the serving tables after a rebuild. External
    * tables with an explicit bucket spec: Spark recovers each file's
    * bucket id from its name, so probe-side bucket pruning survives the
    * session boundary and the swap. Dropping the previous external tables
    * deletes no data.
    */
  private def register(s: SparkSession, db: String, loc: String, gen: Int): Unit = {
    val g = genLoc(loc, gen)
    // the persisted params decide the bucket DDL: a catalog built with
    // coarseK=4096 must re-register with 4096 buckets regardless of what
    // this binary's defaults are
    val p = readParamsRaw(s, g)
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    tableNames.foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
    s.sql(
      s"""CREATE TABLE $db.vectors
         |  (vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT)
         |USING parquet CLUSTERED BY (cell) INTO ${p.coarseK} BUCKETS
         |LOCATION '$g/vectors'""".stripMargin)
    s.sql(
      s"""CREATE TABLE $db.codes
         |  (vec_id BIGINT, cell INT, codes ARRAY<INT>)
         |USING parquet CLUSTERED BY (cell) INTO ${p.coarseK} BUCKETS
         |LOCATION '$g/codes'""".stripMargin)
    s.sql(
      s"""CREATE TABLE $db.ivf_codebook
         |  (cid INT, cv ARRAY<DOUBLE>)
         |USING parquet LOCATION '$g/ivf_codebook'""".stripMargin)
    s.sql(
      s"""CREATE TABLE $db.pq_codebook
         |  (b INT, cid INT, cv8 ARRAY<DOUBLE>)
         |USING parquet LOCATION '$g/pq_codebook'""".stripMargin)
    // pre-tombstone generations on disk simply have no files under this
    // location — the external table reads as empty, which is the correct
    // "nothing deleted" serving view
    s.sql(
      s"""CREATE TABLE $db.tombstones (vec_id BIGINT)
         |USING parquet LOCATION '$g/tombstones'""".stripMargin)
    s.sql(
      s"""CREATE TABLE $db.params
         |  (coarse_k INT, coarse_iters INT, sample_buckets INT,
         |   pq_subspaces INT, pq_k INT, pq_iters INT)
         |USING parquet LOCATION '$g/params'""".stripMargin)
    // memo invalidation AFTER the swap and under the same lock: a probe
    // loading codebooks can never observe a mid-swap catalog
    ivfMemo.remove(db)
    pqMemo.remove(db)
    paramsMemo(db) = p
  }

  // ------------------------------------------------------------------
  // Persisted IMI catalog (r14) — the O(√K) coarse-quantizer face of the
  // index lifecycle. The flat `ensure` catalog assigns against a K-cell
  // codebook at K·dim work per row, which is the measured scale wall
  // when K grows with the corpus (VERDICT r13 #1); this face persists
  // TWO k-cell half-vector codebooks spanning K = k² product cells at
  // k·dim assignment work, with the vectors bucketed by product cell so
  // probes prune buckets exactly like the flat catalog. Same durability
  // discipline as `ensure`: content-addressed db, fingerprint with the
  // training geometry, marker-certified generations, fresh-session
  // recovery via external bucketed tables, session memo fast path.

  /** kHalf = 0 means "derive from the corpus count" — the production
    * default (r15, VERDICT r14 #1): kHalf = VectorSearch.scaledKHalf(n),
    * so the persisted layout's k² buckets grow ∝ corpus and average
    * bucket occupancy stays ~64 at any scale. The count is memoized per
    * (dir, len, mtime) so the session probe fast path pays it once.
    */
  val ImiKHalf = 0
  val ImiIters = 3
  val ImiSampleBuckets = 3

  private val countMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def corpusCount(
      s: SparkSession, dir: String, len: Long, mtime: Long): Long =
    countMemo.getOrElseUpdate(s"$dir $len $mtime",
      Tables.load(s, dir, "embeddings").count())

  /** Catalog database name for the IMI face over a dataset dir. */
  def imiDbFor(dir: String): String = s"graft_ann_imi_${md5hex(dir).take(8)}"

  private val imiMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])], Int)]

  /** Idempotent build-or-recover of the IMI catalog; returns the catalog
    * database name. Corpus vectors store under their single top-1×top-1
    * product cell (probe-time `aProbe` is the recall dial — widening it
    * is free, nothing about the stored layout changes).
    */
  def ensureImi(
      s: SparkSession, dir: String, kHalf: Int = ImiKHalf,
      iters: Int = ImiIters,
      sampleBuckets: Int = ImiSampleBuckets): String = synchronized {
    val db = imiDbFor(dir)
    val loc = locFor(db)
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = markerPath(loc)
    val registered = s.catalog.databaseExists(db) &&
      s.catalog.tableExists(s"$db.vectors") &&
      s.catalog.tableExists(s"$db.imi_codebook")
    val (kEff, want) = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
      val dfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = dfs.getFileStatus(p)
      // resolve the corpus-scaled k BEFORE fingerprinting: corpus growth
      // that moves the derived k must re-fingerprint and rebuild
      val k = if (kHalf > 0) kHalf
        else VectorSearch.scaledKHalf(
          corpusCount(s, dir, st.getLen, st.getModificationTime))
      (k, s"graft-ann-imi-v1 ${st.getLen} ${st.getModificationTime} " +
        s"k$k i$iters sb$sampleBuckets")
    }
    if (registered && fpMemo.get(db).contains(want)) return db
    readMarker(fs, marker) match {
      case Some((gen, fp)) if fp == want =>
        registerImi(s, db, loc, gen, kEff)
      case prior =>
        val gen = prior.map(_._1 + 1).getOrElse(0)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val scratch = scratchDb(db, gen)
        val g = genLoc(loc, gen)
        val (cb1, cb2, half) =
          VectorSearch.trainImiCodebooks(e, kEff, iters, sampleBuckets)
        s.sql(s"DROP DATABASE IF EXISTS $scratch CASCADE")
        val gp = new org.apache.hadoop.fs.Path(g)
        if (fs.exists(gp)) fs.delete(gp, true)
        s.sql(s"CREATE DATABASE $scratch LOCATION '$g'")
        Layout.writeBucketedAt(
          VectorSearch.imiAssignCells(e, cb1, cb2, half, aProbe = 1)
            .select(col("vec_id"), col("embedding"), col("cell")),
          s"$scratch.vectors", "cell", kEff * kEff, s"$g/vectors")
        import scala.jdk.CollectionConverters._
        val cbRows =
          cb1.map { case (cid, cv) => Row(1, cid, cv) } ++
            cb2.map { case (cid, cv) => Row(2, cid, cv) }
        s.createDataFrame(
          cbRows.asJava,
          StructType(Seq(
            StructField("half", IntegerType, nullable = false),
            StructField("cid", IntegerType, nullable = false),
            StructField("cv", ArrayType(DoubleType, containsNull = false)))))
          .coalesce(1).write.mode("overwrite").format("parquet")
          .option("path", s"$g/imi_codebook")
          .saveAsTable(s"$scratch.imi_codebook")
        writeMarker(fs, marker, gen, want, expect = prior)
        registerImi(s, db, loc, gen, kEff)
        dropOldGenerations(s, db, loc, fs, keepFrom = gen - 1)
    }
    fpMemo(db) = want
    db
  }

  /** (Re-)point the IMI serving database's external tables at generation
    * `gen` — the [[register]] discipline for the two-table IMI layout.
    */
  private def registerImi(
      s: SparkSession, db: String, loc: String, gen: Int,
      kHalf: Int): Unit = {
    val g = genLoc(loc, gen)
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("vectors", "imi_codebook").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $db.$t"))
    s.sql(
      s"""CREATE TABLE $db.vectors
         |  (vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT)
         |USING parquet CLUSTERED BY (cell) INTO ${kHalf * kHalf} BUCKETS
         |LOCATION '$g/vectors'""".stripMargin)
    s.sql(
      s"""CREATE TABLE $db.imi_codebook
         |  (half INT, cid INT, cv ARRAY<DOUBLE>)
         |USING parquet LOCATION '$g/imi_codebook'""".stripMargin)
    imiMemo.remove(db)
  }

  /** The persisted half-codebooks `(cb1, cb2, halfDim)` — the 2k-row read
    * a probe pays once per session (memoized under the build lock).
    */
  def imiCodebooks(s: SparkSession, db: String)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])], Int) =
    synchronized {
      imiMemo.getOrElseUpdate(db, {
        val rows = s.table(s"$db.imi_codebook").collect()
        def side(h: Int): Seq[(Int, Seq[Double])] = rows.toSeq
          .filter(_.getInt(0) == h)
          .map(r => r.getInt(1) -> r.getSeq[Double](2))
          .sortBy(_._1)
        val cb1 = side(1)
        val cb2 = side(2)
        require(cb1.nonEmpty && cb2.nonEmpty,
          s"IMI catalog $db has an empty codebook half")
        (cb1, cb2, cb1.head._2.length)
      })
    }

  /** Train and persist a full index catalog for an ARBITRARY embedding
    * relation (columns vec_id LONG, embedding ARRAY<FLOAT>) at an
    * explicit database/location — the library entry point for corpora
    * that are not a driver testdata dir. Destructive: drops whatever is
    * at `db`/`loc`. Lifecycle (markers, fingerprints, generations,
    * recovery) stays with `ensure`; callers of this raw builder manage
    * their own.
    */
  def buildIndex(
      s: SparkSession, db: String, emb: org.apache.spark.sql.DataFrame,
      loc: String, params: AnnParams = AnnParams.Default): Unit = synchronized {
    val e = emb.select(col("vec_id"), col("embedding"))
    // r19: one cached sample, one init collect, shared Lloyd jobs —
    // codebooks identical to the solo trainers (VectorSearchSpec pin)
    val (cents, cb) = VectorSearch.trainIvfAndPq(
      e, params.coarseK, params.coarseIters,
      params.pqSubspaces, params.pqK, params.pqIters, params.sampleBuckets)
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val hp = new org.apache.hadoop.fs.Path(loc)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    s.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    val cell = VectorSearch.ivfCellD(VectorFunctions.toDoubles(col("embedding")), cents)
    // r19: assign the corpus once — the vectors and codes writes each
    // re-ran the full scan + coarse argmax otherwise (two corpus-sized
    // assignment passes per build)
    val assigned = e.select(col("vec_id"), col("embedding"),
      cell.as("cell")).localCheckpoint()
    // the two big index tables are EXTERNAL at their flat locations (same
    // physical layout as before — ensure's register() and compact's raw
    // reads depend on `$loc/vectors`): maintain's fold can then retire a
    // serving table with DROP TABLE without deleting the files a
    // concurrently-resolved snapshot already pinned
    import scala.jdk.CollectionConverters._
    // r20: the six artifact writes are independent jobs — issue them
    // from a pool (inParallel) so the small codebook/params writes and
    // the second bucketed write overlap the first's commit tail instead
    // of queueing behind it (guide §2.6). Each job still writes its own
    // table; nothing about the persisted layout changes.
    val pqRows = for {
      (centers, b) <- cb.zipWithIndex
      (cv8, j) <- centers.zipWithIndex
    } yield Row(b, j, cv8)
    inParallel(Seq(
      () => Layout.writeBucketedAt(
        assigned.select(col("vec_id"), col("embedding"), col("cell")),
        s"$db.vectors", "cell", params.coarseK, s"$loc/vectors"),
      () => Layout.writeBucketedAt(
        assigned.select(col("vec_id"), col("cell"),
          NativeExpressions.pqEncode(col("embedding"), cb).as("codes")),
        s"$db.codes", "cell", params.coarseK, s"$loc/codes"),
      () => s.createDataFrame(
          cents.map { case (cid, cv) => Row(cid, cv) }.asJava,
          StructType(Seq(
            StructField("cid", IntegerType, nullable = false),
            StructField("cv", ArrayType(DoubleType, containsNull = false)))))
        .coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(s"$db.ivf_codebook"),
      () => s.createDataFrame(
          pqRows.asJava,
          StructType(Seq(
            StructField("b", IntegerType, nullable = false),
            StructField("cid", IntegerType, nullable = false),
            StructField("cv8", ArrayType(DoubleType, containsNull = false)))))
        .coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(s"$db.pq_codebook"),
      () => writeParamsTable(s, db, params)))
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(assigned)
    // an empty tombstone table completes the catalog: snapshot() can
    // always anti-join without probing for the table's existence
    s.sql(s"CREATE TABLE $db.tombstones (vec_id BIGINT) USING parquet")
    // memo invalidation LAST (and the loaders below share this lock):
    // dropping the memo at build START would let a concurrent probe
    // re-cache the pre-rebuild codebooks mid-build and serve them
    // against the post-rebuild index
    ivfMemo.remove(db)
    pqMemo.remove(db)
    paramsMemo(db) = params
  }

  private def writeParamsTable(
      s: SparkSession, db: String, p: AnnParams): Unit = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      Seq(Row(p.coarseK, p.coarseIters, p.sampleBuckets,
        p.pqSubspaces, p.pqK, p.pqIters)).asJava,
      paramsSchema)
      .coalesce(1).write.mode("overwrite").format("parquet")
      .saveAsTable(s"$db.params")
  }

  private val paramsSchema = StructType(Seq(
    StructField("coarse_k", IntegerType, nullable = false),
    StructField("coarse_iters", IntegerType, nullable = false),
    StructField("sample_buckets", IntegerType, nullable = false),
    StructField("pq_subspaces", IntegerType, nullable = false),
    StructField("pq_k", IntegerType, nullable = false),
    StructField("pq_iters", IntegerType, nullable = false)))

  private def rowToParams(r: Row): AnnParams = AnnParams(
    coarseK = r.getInt(0), coarseIters = r.getInt(1),
    sampleBuckets = r.getInt(2), pqSubspaces = r.getInt(3),
    pqK = r.getInt(4), pqIters = r.getInt(5))

  /** Params of a generation dir, read from its raw `params` files — what
    * `register` must consult BEFORE the catalog tables exist. A
    * pre-params generation (built by an older binary) reads as the
    * defaults, which is exactly what built it.
    */
  private def readParamsRaw(s: SparkSession, g: String): AnnParams = {
    val p = new org.apache.hadoop.fs.Path(s"$g/params")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.listStatus(p)
        .exists(_.getPath.getName.endsWith(".parquet")))
      return AnnParams.Default
    val rows = s.read.schema(paramsSchema).parquet(s"$g/params").collect()
    require(rows.length == 1, s"params table at $g has ${rows.length} rows")
    rowToParams(rows(0))
  }

  private val paramsMemo =
    scala.collection.concurrent.TrieMap.empty[String, AnnParams]

  /** The params a catalog was BUILT with (memoized; falls back to the
    * catalog's `params` table, then to the defaults for pre-params
    * catalogs).
    */
  def paramsOf(s: SparkSession, db: String): AnnParams = synchronized {
    paramsMemo.getOrElseUpdate(db, {
      if (s.catalog.databaseExists(db) && s.catalog.tableExists(s"$db.params")) {
        val rows = s.table(s"$db.params").collect()
        if (rows.length == 1) rowToParams(rows(0)) else AnnParams.Default
      } else AnnParams.Default
    })
  }

  // Driver-side codebook memo: a serving process loads each codebook ONCE
  // per index, not once per probe query — the entries are k×dim doubles
  // (a few KB), keyed by catalog db, and dropped whenever that db is
  // rebuilt or re-pointed (`buildIndex`/`register` invalidate). This
  // removes two small collect jobs from every probe-only query and
  // micro-batch.
  private val ivfMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]
  private val pqMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  /** Load the persisted coarse codebook (k rows to the driver, memoized).
    * Synchronized on the same lock as ensure/build, so a loader can never
    * observe (and cache) a catalog mid-rebuild.
    */
  def ivfCodebook(s: SparkSession, db: String): Seq[(Int, Seq[Double])] =
    synchronized {
      ivfMemo.getOrElseUpdate(db,
        s.table(s"$db.ivf_codebook").orderBy(col("cid").asc).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq)
    }

  /** Load the persisted PQ codebook (subspaces×k rows, memoized). The
    * expected geometry comes from the catalog's PERSISTED params, so a
    * probe session never validates (or slices) a k=256 index against
    * the defaults it happens to be compiled with.
    */
  def pqCodebook(s: SparkSession, db: String): Seq[Seq[Seq[Double]]] =
    synchronized {
      pqMemo.getOrElseUpdate(db, {
        val p = paramsOf(s, db)
        val rows = s.table(s"$db.pq_codebook").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        (0 until p.pqSubspaces).map { b =>
          val centers = rows.filter(_._1 == b).sortBy(_._2)
          require(centers.length == p.pqK,
            s"pq_codebook subspace $b has ${centers.length} centers, want ${p.pqK}")
          centers.map(_._3).toSeq
        }
      })
    }
}
