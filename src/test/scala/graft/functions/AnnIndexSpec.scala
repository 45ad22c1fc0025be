package graft.functions

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lifecycle contract of the persisted ANN index catalog: idempotent
  * ensure, marker-gated recovery, fingerprint-forced rebuild, and
  * memoized codebook loads. Runs against a COPY of the sf0.001
  * embeddings in a temp dir so the shared catalog other suites probe
  * (PlanAuditSpec, StreamingSpec) is never mutated.
  */
class AnnIndexSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("annidx").toString
    Files.copy(
      Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      Paths.get(s"$d/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d
  }

  private def markerOf(db: String): java.nio.file.Path =
    Paths.get(s"${System.getProperty("java.io.tmpdir")}/${db}_db/_GRAFT_INDEX_READY")

  test("ensure builds once, is a no-op while registered, and probes work") {
    val db = AnnIndex.ensure(spark, dir)
    assert(spark.catalog.tableExists(s"$db.vectors"))
    assert(spark.catalog.tableExists(s"$db.codes"))
    assert(spark.catalog.tableExists(s"$db.ivf_codebook"))
    assert(spark.catalog.tableExists(s"$db.pq_codebook"))
    val stamp = Files.getLastModifiedTime(markerOf(db))
    assert(AnnIndex.ensure(spark, dir) == db)
    assert(Files.getLastModifiedTime(markerOf(db)) == stamp,
      "second ensure must not rebuild")
    // the persisted assignment agrees with re-deriving cells from the
    // persisted codebook — index and codebook were written consistently
    val cents = AnnIndex.ivfCodebook(spark, db)
    val mismatch = spark.table(s"$db.vectors")
      .withColumn("re", VectorSearch.ivfCellD(
        VectorFunctions.toDoubles(col("embedding")), cents))
      .filter(col("cell") =!= col("re")).count()
    assert(mismatch == 0, s"$mismatch vectors disagree with the codebook")
    // codes table rows match vectors rows
    assert(spark.table(s"$db.codes").count()
      == spark.table(s"$db.vectors").count())
  }

  /** Copy the built catalog's on-disk layout to the location a different
    * dataset dir would use — simulates a fresh session finding index
    * files on disk (the session catalog has never heard of db2).
    */
  private def cloneCatalogTo(srcDb: String, dstDb: String): Unit = {
    val tmp = System.getProperty("java.io.tmpdir")
    val src = Paths.get(s"$tmp/${srcDb}_db")
    val dst = Paths.get(s"$tmp/${dstDb}_db")
    if (Files.exists(dst)) {
      Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  test("a matching fingerprint recovers the on-disk catalog without rebuild") {
    val db = AnnIndex.ensure(spark, dir)
    // dataset copy that PRESERVES length+mtime → identical fingerprint
    // (the fingerprint is content-derived, not path-derived)
    val dir2 = Files.createTempDirectory("annidx-recover").toString
    Files.copy(Paths.get(s"$dir/embeddings.parquet"),
      Paths.get(s"$dir2/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    val db2 = AnnIndex.dbFor(dir2)
    assert(db2 != db)
    cloneCatalogTo(db, db2)
    val stamp = Files.getLastModifiedTime(markerOf(db2))
    assert(AnnIndex.ensure(spark, dir2) == db2)
    // recovery registered external tables over the copied files — marker
    // untouched, index readable with pruning-capable bucket metadata
    assert(Files.getLastModifiedTime(markerOf(db2)) == stamp,
      "matching fingerprint must recover, not rebuild")
    assert(spark.table(s"$db2.vectors").count()
      == spark.table(s"$db.vectors").count())
    assert(AnnIndex.ivfCodebook(spark, db2) == AnnIndex.ivfCodebook(spark, db))
  }

  test("a stale fingerprint on a recovered catalog forces a rebuild") {
    val db = AnnIndex.ensure(spark, dir)
    // dataset copy WITHOUT preserved attributes → different mtime →
    // different fingerprint than the marker cloned from `dir`'s catalog:
    // ensure must take the rebuild branch even though a marker exists
    val dir3 = Files.createTempDirectory("annidx-stale").toString
    Files.copy(Paths.get(s"$dir/embeddings.parquet"),
      Paths.get(s"$dir3/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(Paths.get(s"$dir3/embeddings.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(12345000L))
    val db3 = AnnIndex.dbFor(dir3)
    cloneCatalogTo(db, db3)
    val staleMarker = Files.readString(markerOf(db3))
    assert(AnnIndex.ensure(spark, dir3) == db3)
    val fresh = Files.readString(markerOf(db3))
    assert(fresh != staleMarker,
      "rebuild must restamp the marker with the new dataset's fingerprint")
    assert(spark.table(s"$db3.vectors").count() > 0)
  }

  test("codebook loads are memoized per catalog db") {
    val db = AnnIndex.ensure(spark, dir)
    assert(AnnIndex.ivfCodebook(spark, db) eq AnnIndex.ivfCodebook(spark, db))
    assert(AnnIndex.pqCodebook(spark, db) eq AnnIndex.pqCodebook(spark, db))
  }

  test("ensureImi builds once, is a no-op while registered, and the " +
      "persisted product cells agree with the persisted half-codebooks (r14)") {
    val db = AnnIndex.ensureImi(spark, dir)
    assert(spark.catalog.tableExists(s"$db.vectors"))
    assert(spark.catalog.tableExists(s"$db.imi_codebook"))
    val stamp = Files.getLastModifiedTime(markerOf(db))
    assert(AnnIndex.ensureImi(spark, dir) == db)
    assert(Files.getLastModifiedTime(markerOf(db)) == stamp,
      "second ensureImi must not rebuild")
    val (cb1, cb2, half) = AnnIndex.imiCodebooks(spark, db)
    // the default is the corpus-scaled k (r15): kHalf = scaledKHalf(n)
    val kWant = VectorSearch.scaledKHalf(
      spark.read.parquet(s"$dir/embeddings.parquet").count())
    assert(cb1.size == kWant && cb2.size == kWant,
      s"default ensureImi must train the corpus-scaled kHalf=$kWant, " +
        s"got ${cb1.size}/${cb2.size}")
    assert(half == 32)
    val re = VectorSearch.imiAssignCells(
        spark.table(s"$db.vectors").select(col("vec_id"), col("embedding")),
        cb1, cb2, half, aProbe = 1)
      .select(col("vec_id"), col("cell").as("re"))
    val mismatch = spark.table(s"$db.vectors")
      .join(re, "vec_id").filter(col("cell") =!= col("re")).count()
    assert(mismatch == 0,
      s"$mismatch vectors disagree with the persisted half-codebooks")
    assert(AnnIndex.imiCodebooks(spark, db)._1
      eq AnnIndex.imiCodebooks(spark, db)._1, "codebooks must be memoized")
  }

  test("a matching fingerprint recovers the IMI catalog without rebuild; " +
      "probes serve off the recovered bucketed tables (r14)") {
    val db = AnnIndex.ensureImi(spark, dir)
    val dir2 = Files.createTempDirectory("annimi-recover").toString
    Files.copy(Paths.get(s"$dir/embeddings.parquet"),
      Paths.get(s"$dir2/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    val db2 = AnnIndex.imiDbFor(dir2)
    assert(db2 != db)
    cloneCatalogTo(db, db2)
    val stamp = Files.getLastModifiedTime(markerOf(db2))
    assert(AnnIndex.ensureImi(spark, dir2) == db2)
    assert(Files.getLastModifiedTime(markerOf(db2)) == stamp,
      "matching fingerprint must recover, not rebuild")
    assert(spark.table(s"$db2.vectors").count()
      == spark.table(s"$db.vectors").count())
    val (cb1, cb2, half) = AnnIndex.imiCodebooks(spark, db2)
    assert((cb1, cb2) == (AnnIndex.imiCodebooks(spark, db)._1,
      AnnIndex.imiCodebooks(spark, db)._2))
    val probes = spark.table(s"$db2.vectors")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 3)
    val got = VectorSearch.imiTopKIndexed(
      spark.table(s"$db2.vectors"), probes, k = 3, cb1, cb2, half)
    assert(got.count() > 0, "probe over the recovered catalog must serve")
    assert(got.groupBy(col("pid")).count()
      .filter(col("count") > 3).count() == 0, "top-k bound violated")
  }

  private def tmp = System.getProperty("java.io.tmpdir")

  /** Write `df` as a single parquet FILE at `dest` (the dataset-dir
    * layout the fingerprint reads).
    */
  private def writeSingleParquet(
      df: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path): Unit = {
    val scratch = Files.createTempDirectory("annidx-w").toString
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Files.list(Paths.get(scratch)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  test("append assigns against frozen codebooks: no retrain, no rewrite, " +
      "probe-equivalent to bulk assignment") {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(col("vec_id") % 10 < 8)
    val delta = all.filter(col("vec_id") % 10 >= 8)
    val db = "graft_ann_append_spec"
    AnnIndex.buildIndex(spark, db, base, s"$tmp/${db}_db")
    val baseCount = spark.table(s"$db.vectors").count()
    val cents = AnnIndex.ivfCodebook(spark, db)
    val cb = AnnIndex.pqCodebook(spark, db)
    def files(t: String): Set[String] =
      Files.list(Paths.get(s"$tmp/${db}_db/$t")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val vBefore = files("vectors")
    val cBefore = files("codes")
    spark.sparkContext.setJobGroup("ann-append-audit", "append audit")
    try AnnIndex.append(spark, db, delta)
    finally spark.sparkContext.clearJobGroup()
    // append ≠ rebuild, three ways: (1) the memoized codebooks were never
    // invalidated — training or re-registration would have dropped them
    assert(AnnIndex.ivfCodebook(spark, db) eq cents,
      "append must not retrain or reload the coarse codebook")
    assert(AnnIndex.pqCodebook(spark, db) eq cb,
      "append must not retrain or reload the PQ codebook")
    // (2) append-only on disk: every pre-append file survives untouched
    assert(vBefore.subsetOf(files("vectors")) && cBefore.subsetOf(files("codes")),
      "append rewrote existing index files")
    // (3) a bounded job count: two bucketed appends, nothing
    // training-shaped (a retrain alone schedules ~19 jobs)
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("ann-append-audit").length
    assert(jobs <= 8, s"append scheduled $jobs jobs — rebuild-sized work leaked in")
    assert(spark.table(s"$db.vectors").count() == all.count())
    assert(spark.table(s"$db.codes").count() == all.count())
    // probe-after-append == probe over a bulk-built table that assigns
    // base+delta with the SAME frozen codebooks in one pass
    val probes = all.filter(col("vec_id") % 10 >= 8 && col("vec_id") < 50)
    val appended = canon(VectorSearch.ivfPqTopK(
      spark.table(s"$db.codes"), probes, 5, cents, cb, nProbe = 2))
    val db2 = "graft_ann_bulk_spec"
    spark.sql(s"DROP DATABASE IF EXISTS $db2 CASCADE")
    val loc2 = Paths.get(s"$tmp/${db2}_db")
    if (Files.exists(loc2)) {
      Files.walk(loc2).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    spark.sql(s"CREATE DATABASE $db2 LOCATION '$tmp/${db2}_db'")
    val cell = VectorSearch.ivfCellD(VectorFunctions.toDoubles(col("embedding")), cents)
    graft.operators.Layout.writeBucketed(
      all.select(col("vec_id"), cell.as("cell"),
        NativeExpressions.pqEncode(col("embedding"), cb).as("codes")),
      s"$db2.codes", "cell", AnnIndex.CoarseK)
    val bulk = canon(VectorSearch.ivfPqTopK(
      spark.table(s"$db2.codes"), probes, 5, cents, cb, nProbe = 2))
    assert(appended == bulk,
      "probing the appended index disagrees with bulk frozen-codebook assignment")
    assert(baseCount < all.count(), "delta slice must be non-empty")
  }

  test("appendToDataset restamps the marker so ensure recovers the appended " +
      "index instead of retraining") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-append-ds")
    // ingest epoch 1: base slice only
    writeSingleParquet(full.filter(col("vec_id") % 10 < 8),
      d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    val baseCount = spark.table(s"$db.vectors").count()
    // ingest epoch 2: the full dataset lands (base + delta), then the
    // index is maintained incrementally instead of re-ensured
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    AnnIndex.appendToDataset(spark, d.toString,
      full.filter(col("vec_id") % 10 >= 8))
    assert(spark.table(s"$db.vectors").count() == full.count())
    // ensure now sees the appended catalog as CURRENT: no rebuild (the
    // marker is untouched), same tables
    val stamp = Files.getLastModifiedTime(markerOf(db))
    assert(AnnIndex.ensure(spark, d.toString) == db)
    assert(Files.getLastModifiedTime(markerOf(db)) == stamp,
      "ensure after appendToDataset must recover, not rebuild")
    assert(spark.table(s"$db.vectors").count() == full.count())
    assert(baseCount < full.count())
  }

  test("compact folds append deltas to one file per bucket, probe-equivalent") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-compact")
    writeSingleParquet(full.filter(col("vec_id") % 10 < 6),
      d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    // two append batches → extra files per touched bucket
    AnnIndex.append(spark, db, full.filter(col("vec_id") % 10 === 6))
    AnnIndex.append(spark, db, full.filter(col("vec_id") % 10 >= 7))
    def markerParts: Array[String] =
      Files.readString(markerOf(db)).split("\n", 2)
    def genDir(g: String): java.nio.file.Path =
      Paths.get(s"$tmp/${db}_db/$g")
    def parquetFiles(g: String, t: String): Int =
      Files.list(genDir(g).resolve(t)).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
    val Array(g0, fp0) = markerParts
    assert(parquetFiles(g0, "codes") > AnnIndex.CoarseK,
      "appends should have left more than one file per bucket")
    val cents = AnnIndex.ivfCodebook(spark, db)
    val cb = AnnIndex.pqCodebook(spark, db)
    val probes = full.filter(col("vec_id") < 3)
    val before = canon(VectorSearch.ivfPqTopK(
      spark.table(s"$db.codes"), probes, 5, cents, cb, nProbe = 2))
    val rows = spark.table(s"$db.vectors").count()
    AnnIndex.compact(spark, d.toString)
    val Array(g1, fp1) = markerParts
    assert(g1 != g0, "compact must land in a new generation")
    assert(fp1 == fp0, "compact must not change the dataset fingerprint")
    assert(parquetFiles(g1, "codes") <= AnnIndex.CoarseK,
      "compacted codes table should have at most one file per bucket")
    assert(parquetFiles(g1, "vectors") <= AnnIndex.CoarseK)
    assert(spark.table(s"$db.vectors").count() == rows)
    val after = canon(VectorSearch.ivfPqTopK(
      spark.table(s"$db.codes"), probes, 5,
      AnnIndex.ivfCodebook(spark, db), AnnIndex.pqCodebook(spark, db),
      nProbe = 2))
    assert(after == before, "compaction changed probe results")
    // pruning survives the rewrite: the real probe plan over the
    // compacted table still selects a strict subset of buckets
    val plan = VectorSearch.ivfPqTopK(
        spark.table(s"$db.codes"), probes, 5,
        AnnIndex.ivfCodebook(spark, db), AnnIndex.pqCodebook(spark, db),
        nProbe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"compacted table lost its bucket spec:\n$plan"))
    assert(sel.group(1).toInt < sel.group(2).toInt)
    // and a later ensure recovers the compacted generation, no rebuild
    val stamp = Files.getLastModifiedTime(markerOf(db))
    assert(AnnIndex.ensure(spark, d.toString) == db)
    assert(Files.getLastModifiedTime(markerOf(db)) == stamp)
  }

  test("delete tombstones ids out of every probe path; compact folds them " +
      "physically and empties the tombstone table") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-delete")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    val probes = full.filter(col("vec_id") < 3)
    def probe(): Seq[(Long, Int, Long, Double)] = {
      val sn = AnnIndex.snapshot(spark, db)
      canon(VectorSearch.ivfPqTopK(sn.codes, probes, 5, sn.ivf, sn.pq, nProbe = 2))
    }
    val before = probe()
    // delete three CURRENT top hits — the exclusion must be observable
    val victims = before.map(_._3).distinct.take(3)
    def indexFiles(t: String): Set[String] = {
      val Array(g, _) = Files.readString(markerOf(db)).split("\n", 2)
      Files.list(Paths.get(s"$tmp/${db}_db/$g/$t")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    }
    val vFiles = indexFiles("vectors")
    val cFiles = indexFiles("codes")
    AnnIndex.delete(spark, db,
      full.filter(col("vec_id").isin(victims: _*)).select(col("vec_id")))
    // deletion is metadata-only: no index file was rewritten or removed
    assert(indexFiles("vectors") == vFiles && indexFiles("codes") == cFiles,
      "delete must not touch index files — that's compact's job")
    val after = probe()
    assert(after.nonEmpty && after != before)
    assert(victims.forall(v => !after.exists(_._3 == v)),
      "deleted ids still served by the IVF-PQ probe")
    // the raw-vector probe path excludes them too (snapshot-wide view)
    val sn = AnnIndex.snapshot(spark, db)
    val vres = canon(VectorSearch.ivfTopKIndexed(sn.vectors, probes, 3, sn.ivf,
      nProbe = 2))
    assert(victims.forall(v => !vres.exists(_._3 == v)),
      "deleted ids still served by the IVF probe")
    // a deleted id that never existed is a harmless no-op
    AnnIndex.delete(spark, db,
      spark.range(900000, 900002).select(col("id").as("vec_id")))
    assert(probe() == after)
    // compact folds the tombstones out: probe equality, EMPTY tombstone
    // table in the new generation, and the victims physically gone from
    // the generation's raw files
    AnnIndex.compact(spark, d.toString)
    assert(spark.table(s"$db.tombstones").count() == 0,
      "compaction must start the new generation with no tombstones")
    assert(probe() == after, "compaction changed deletion-aware probe results")
    val Array(g2, _) = Files.readString(markerOf(db)).split("\n", 2)
    val raw = spark.read.parquet(s"$tmp/${db}_db/$g2/vectors")
    assert(raw.filter(col("vec_id").isin(victims: _*)).count() == 0,
      "compaction left tombstoned rows in the index files")
  }

  test("deleteFromDataset restamps the marker so ensure recovers the " +
      "tombstoned index instead of retraining") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-delete-ds")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    // dedup removed vec_id % 7 == 0 from the corpus: the source shrinks,
    // then the index is maintained incrementally instead of re-ensured —
    // exactly the shrink that used to force a full retrain
    writeSingleParquet(full.filter(col("vec_id") % 7 =!= 0),
      d.resolve("embeddings.parquet"))
    AnnIndex.deleteFromDataset(spark, d.toString,
      full.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
    val stamp = Files.getLastModifiedTime(markerOf(db))
    assert(AnnIndex.ensure(spark, d.toString) == db)
    assert(Files.getLastModifiedTime(markerOf(db)) == stamp,
      "ensure after deleteFromDataset must recover, not rebuild")
    val sn = AnnIndex.snapshot(spark, db)
    assert(sn.vectors.filter(col("vec_id") % 7 === 0).count() == 0,
      "tombstoned ids leaked back into the serving view")
    assert(sn.vectors.count() == full.filter(col("vec_id") % 7 =!= 0).count())
  }

  test("a built catalog keeps serving after the source dataset is archived") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-archived")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    val rows = spark.table(s"$db.vectors").count()
    // the dataset is archived after indexing — the catalog is
    // self-contained, so ensure must keep serving it, not die statting
    // the missing source
    Files.delete(d.resolve("embeddings.parquet"))
    assert(AnnIndex.ensure(spark, d.toString) == db)
    assert(spark.table(s"$db.vectors").count() == rows)
    // a dataset that never existed still fails with a curated message
    val ghost = Files.createTempDirectory("annidx-ghost")
    val ex = intercept[IllegalStateException] {
      AnnIndex.ensure(spark, s"$ghost/nope")
    }
    assert(ex.getMessage.contains("no persisted ANN catalog"))
  }

  test("non-default params persist in the catalog and survive a fresh-" +
      "session recovery; a different-params ensure rebuilds") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-params")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val p = AnnParams(coarseK = 4, pqSubspaces = 4, pqK = 8)
    val db = AnnIndex.ensure(spark, d.toString, p)
    assert(AnnIndex.paramsOf(spark, db) == p)
    assert(AnnIndex.ivfCodebook(spark, db).size == 4)
    val cb = AnnIndex.pqCodebook(spark, db)
    assert(cb.size == 4 && cb.forall(_.size == 8),
      "PQ codebook must follow the built params, not the compiled defaults")
    val probes = full.filter(col("vec_id") < 3)
    def probe(dbn: String): Seq[(Long, Int, Long, Double)] = {
      val sn = AnnIndex.snapshot(spark, dbn)
      canon(VectorSearch.ivfPqTopK(sn.codes, probes, 5, sn.ivf, sn.pq, nProbe = 2))
    }
    val res = probe(db)
    assert(res.nonEmpty)
    // fresh-session recovery: a second dataset dir with an identical
    // fingerprint and a cloned catalog the session has never registered —
    // the recovered bucket DDL and codebook geometry must come from the
    // PERSISTED params table, not this binary's defaults
    val dir2 = Files.createTempDirectory("annidx-params-rec").toString
    Files.copy(Paths.get(s"$d/embeddings.parquet"),
      Paths.get(s"$dir2/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    val db2 = AnnIndex.dbFor(dir2)
    cloneCatalogTo(db, db2)
    val stamp = Files.getLastModifiedTime(markerOf(db2))
    assert(AnnIndex.ensure(spark, dir2, p) == db2)
    assert(Files.getLastModifiedTime(markerOf(db2)) == stamp,
      "same params + same content must recover, not rebuild")
    assert(AnnIndex.paramsOf(spark, db2) == p)
    assert(AnnIndex.pqCodebook(spark, db2) == cb)
    assert(probe(db2) == res,
      "recovered non-default catalog must probe identically")
    // bucket pruning still works on the recovered 4-bucket layout
    val sn2 = AnnIndex.snapshot(spark, db2)
    val plan = VectorSearch.ivfPqTopK(sn2.codes, probes, 5, sn2.ivf, sn2.pq,
        nProbe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"recovered table lost its bucket spec:\n$plan"))
    assert(sel.group(2).toInt == 4 && sel.group(1).toInt < 4,
      s"expected a pruned 4-bucket scan, got ${sel.group(1)}/${sel.group(2)}")
    // an ensure with DIFFERENT params (the defaults) must rebuild
    AnnIndex.ensure(spark, dir2)
    assert(Files.getLastModifiedTime(markerOf(db2)) != stamp,
      "different-params ensure must rebuild, not serve the k=4 index")
    assert(AnnIndex.paramsOf(spark, db2) == AnnParams.Default)
    assert(AnnIndex.pqCodebook(spark, db2).size == AnnIndex.PqSubspaces)
  }

  test("a concurrent marker move fails maintenance loudly instead of " +
      "last-write-wins") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-race")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    val rows = spark.table(s"$db.vectors").count()
    val marker = markerOf(db)
    // another driver process lands a build between this session's marker
    // read and its stamp — simulated at exactly that window via the seam
    AnnIndex.markerRaceHook = () => {
      Files.writeString(marker, "g99\nother-driver-fingerprint")
      // raw write invalidates Hadoop LocalFileSystem's checksum sidecar —
      // drop it so the re-read sees the new content, as a real external
      // driver (writing through the Hadoop fs) would present it
      Files.deleteIfExists(marker.resolveSibling(s".${marker.getFileName}.crc"))
      ()
    }
    try {
      val ex = intercept[java.util.ConcurrentModificationException] {
        AnnIndex.compact(spark, d.toString)
      }
      assert(ex.getMessage.contains("concurrent build"))
    } finally AnnIndex.markerRaceHook = () => ()
    assert(Files.readString(marker).startsWith("g99"),
      "the losing maintenance op must not clobber the winner's marker")
    // the loser's serving tables were never swapped — still consistent
    assert(spark.table(s"$db.vectors").count() == rows)
    // and the compare-and-swap left no torn temp files behind
    val leftovers = Files.list(Paths.get(s"$tmp/${db}_db")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, s"temp marker files leaked: ${leftovers.toSeq}")
  }

  test("snapshots are generation-consistent under a concurrent rebuild") {
    import org.apache.spark.sql.functions.col
    val v1 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-gen")
    writeSingleParquet(v1, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    val probes = v1.filter(col("vec_id") < 3)
    def run(sn: AnnSnapshot): Seq[(Long, Int, Long, Double)] =
      canon(VectorSearch.ivfTopKIndexed(sn.vectors, probes, 3, sn.ivf, nProbe = 2))
    val snapA = AnnIndex.snapshot(spark, db)
    val resA = run(snapA)
    // the dataset shrinks to a strict subset → new fingerprint; an
    // independent catalog over the same new content gives the expected
    // post-rebuild answer (training is content-deterministic)
    val v2 = v1.filter(col("vec_id") < 250)
    writeSingleParquet(v2, d.resolve("embeddings.parquet"))
    val d2 = Files.createTempDirectory("annidx-gen-ref")
    Files.copy(d.resolve("embeddings.parquet"), d2.resolve("embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val resB = run(AnnIndex.snapshot(spark, AnnIndex.ensure(spark, d2.toString)))
    // mid-session overwrite + concurrent rebuild: every probe snapshot
    // taken while the rebuild runs must be ENTIRELY old-generation or
    // ENTIRELY new-generation — a mixed pairing (new codebook over the
    // old index, or vice versa) would match neither expected result
    val t = new Thread(() => { AnnIndex.ensure(spark, d.toString); () })
    t.start()
    var looped = 0
    while (t.isAlive && looped < 50) {
      val r = run(AnnIndex.snapshot(spark, db))
      assert(r == resA || r == resB,
        s"mixed-generation probe result during rebuild (iteration $looped)")
      looped += 1
    }
    t.join()
    // the PRE-rebuild snapshot still reads its own (retained) generation
    assert(run(snapA) == resA,
      "an outstanding snapshot must keep serving its generation after a rebuild")
    // a fresh snapshot serves the new generation
    assert(run(AnnIndex.snapshot(spark, db)) == resB,
      "post-rebuild snapshot must serve the new generation")
  }

  test("maintain is a measured no-op under thresholds and a physical " +
      "fold over them, probe-equivalent throughout") {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val db = "graft_ann_maintain_spec"
    AnnIndex.buildIndex(spark, db,
      all.filter(col("vec_id") % 10 < 8), s"$tmp/${db}_db")
    AnnIndex.append(spark, db, all.filter(col("vec_id") % 10 >= 8))
    AnnIndex.delete(spark, db,
      all.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    val n = all.count()
    val nd = all.filter(col("vec_id") % 9 === 0).count()
    def files(t: String): Set[String] =
      Files.list(Paths.get(s"$tmp/${db}_db/$t")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val vBefore = files("vectors")
    val probes = all.filter(col("vec_id") < 3)
    def probe(): Seq[(Long, Int, Long, Double)] = {
      val snap = AnnIndex.snapshot(spark, db)
      canon(VectorSearch.ivfPqTopK(snap.codes, probes, 5,
        snap.ivf, snap.pq, nProbe = 2))
    }
    val before = probe()
    // UNDER both thresholds: stats are read, nothing moves
    val m0 = AnnIndex.maintain(spark, db,
      maxTombstoneFrac = 0.5, maxFilesPerBucket = 1e9)
    assert(!m0.compacted)
    assert(m0.nIndex == n && m0.nTombstones == nd)
    assert(math.abs(m0.tombstoneFrac - nd.toDouble / n) < 1e-12)
    assert(m0.filesPerBucket > 1.0,
      "append should have left more than one file per bucket")
    assert(files("vectors") == vBefore, "a no-op maintain moved files")
    assert(spark.table(s"$db.vectors").count() == n)
    // a snapshot resolved BEFORE the fold pins the pre-fold files; the
    // fold must not delete them out from under it (r11 ADVICE — the old
    // managed DROP did exactly that)
    val snapBefore = AnnIndex.snapshot(spark, db)
    // OVER the tombstone threshold: the fold physically removes the
    // tombstoned rows from BOTH tables and empties the tombstone table
    val m1 = AnnIndex.maintain(spark, db, maxTombstoneFrac = 0.05)
    assert(m1.compacted && m1.nTombstones == nd)
    assert(spark.table(s"$db.vectors").count() == n - nd)
    assert(spark.table(s"$db.codes").count() == n - nd)
    assert(spark.table(s"$db.tombstones").count() == 0)
    assert(spark.table(s"$db.vectors")
      .filter(col("vec_id") % 9 === 0).count() == 0)
    // the serving view never changed: deletions were already logical
    assert(probe() == before, "fold changed probe results")
    // the pre-fold snapshot still executes against its pinned files
    assert(canon(VectorSearch.ivfPqTopK(snapBefore.codes, probes, 5,
        snapBefore.ivf, snapBefore.pq, nProbe = 2)) == before,
      "a pre-fold snapshot must keep serving its pinned files after the fold")
    // the folded SERVING tables kept the bucket layout: one file per
    // bucket (the retired pre-fold directory still holds its old files
    // until the next fold — deferred deletion — so count the serving
    // table's files, not the directory tree)
    assert(spark.table(s"$db.codes").inputFiles.length <= AnnIndex.CoarseK)
    val snap = AnnIndex.snapshot(spark, db)
    val plan = VectorSearch.ivfPqTopK(snap.codes, probes, 5,
        snap.ivf, snap.pq, nProbe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"folded table lost its bucket spec:\n$plan"))
    assert(sel.group(1).toInt < sel.group(2).toInt)
    // idempotent: debt is gone, a re-run with the same policy is a no-op
    val m2 = AnnIndex.maintain(spark, db,
      maxTombstoneFrac = 0.05, maxFilesPerBucket = 1.5)
    assert(!m2.compacted && m2.nTombstones == 0)
  }

  test("maintain compacts on append debt alone (files-per-bucket trigger)") {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val db = "graft_ann_maintain_fpb_spec"
    AnnIndex.buildIndex(spark, db,
      all.filter(col("vec_id") % 10 < 8), s"$tmp/${db}_db")
    AnnIndex.append(spark, db, all.filter(col("vec_id") % 10 >= 8))
    val m = AnnIndex.maintain(spark, db,
      maxTombstoneFrac = 1.0, maxFilesPerBucket = 1.0)
    assert(m.compacted && m.nTombstones == 0,
      "two write batches per bucket must trip a files-per-bucket=1 policy")
    assert(spark.table(s"$db.vectors").inputFiles.length <= AnnIndex.CoarseK)
    assert(spark.table(s"$db.vectors").count() == all.count(),
      "an append-debt fold with no tombstones must keep every row")
  }

  test("maintainDataset routes a due fold through the generation swap") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val d = Files.createTempDirectory("annidx-maintain")
    writeSingleParquet(full, d.resolve("embeddings.parquet"))
    val db = AnnIndex.ensure(spark, d.toString)
    AnnIndex.delete(spark, db,
      full.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    def gen: String = Files.readString(markerOf(db)).split("\n", 2)(0)
    val g0 = gen
    // under threshold: no generation change
    val m0 = AnnIndex.maintainDataset(spark, d.toString,
      maxTombstoneFrac = 0.5)
    assert(!m0.compacted && gen == g0)
    // over: compact() runs, landing a NEW generation with tombstones folded
    val m1 = AnnIndex.maintainDataset(spark, d.toString,
      maxTombstoneFrac = 0.05)
    assert(m1.compacted && gen != g0)
    assert(spark.table(s"$db.tombstones").count() == 0)
    assert(spark.table(s"$db.vectors").count()
      == full.count() - m1.nTombstones)
  }

  test("inParallel lets every sibling finish before rethrowing the first " +
    "failure") {
    // interrupting the pool on the first failure (shutdownNow) would cut
    // the sleeper short before it sets its flag
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val late = new IllegalStateException("late")
    val e = intercept[IllegalStateException](AnnIndex.inParallel(Seq(
      () => throw boom,
      () => { Thread.sleep(300); done.set(true) },
      () => { Thread.sleep(100); throw late })))
    assert(e eq boom)
    assert(done.get, "a sibling was cut short")
    assert(e.getSuppressed.toSeq == Seq(late))
  }
}
