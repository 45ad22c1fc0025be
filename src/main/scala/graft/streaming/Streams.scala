package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators (SURVEY §2.3 streaming rows + §7 Phase 6):
  * the same event-time windowed aggregations as the batch queries
  * (q70-q72), watermarked stateful dedup, and a custom
  * mapGroupsWithState accumulator. All transforms are defined once on
  * unbounded DataFrames; batch/stream equivalence is asserted by
  * graft.streaming.StreamingSpec.
  *
  * Scale notes: streaming state (window aggs, dedup keys, per-group state)
  * is partitioned by key across executors and bounded by the watermark —
  * at 100 TB/day the state size is windows-per-key, not events. The N5
  * slab ingest commits whole blocks per micro-batch (idempotent overwrite),
  * so replays are safe — at-least-once + idempotent block writes, the
  * declared non-goal trade (SURVEY §2.3 non-goals).
  */
object Streams {

  /** Tumbling 1-hour aggregate with a 10-minute watermark. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .select(col("window.start").as("w"), col("n"), col("sv"))

  /** Sliding 1-hour/30-minute aggregate with watermark. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .select(col("window.start").as("w"), col("n"), col("sv"))

  /** Session windows (30-minute gap) per user with watermark. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n"), col("sv"))

  /** Watermarked stream-stream INNER self-join (the §2.3 streaming-join
    * row): click→purchase attribution — each click pairs with every
    * purchase by the same user within [click_ts, click_ts + 60 min].
    * Both sides carry a watermark and the join condition carries the
    * time bound, which is what makes unbounded-stream joins feasible:
    * Spark derives a state eviction policy from them (a buffered click
    * can stop waiting once the purchase-side watermark passes
    * click_ts + 60 min; a purchase can be dropped once the click-side
    * watermark passes it), so join state is bounded by rate × window,
    * not by stream length. In batch mode the watermarks are no-ops and
    * this is a plain equi-join on user_id with a range filter — the
    * q110 oracle form; StreamingSpec asserts the streamed run equals it.
    *
    * Scale notes: the equi-key (user_id) shuffles both sides once into
    * co-partitioned join state; the time bound is evaluated within the
    * key partition. A single hot user is the only skew risk (same shape
    * as the session window and as-of rows).
    */
  def clickAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** LEFT OUTER variant (q112): every click emits — matched rows as in
    * [[clickAttribution]], unmatched clicks null-extended. In streaming
    * mode the null-extended row for a click can only be emitted once the
    * watermark proves no purchase can still arrive inside its 60-minute
    * window (both-side watermark past click_ts + 60 min + delay), so
    * outer results trail the watermark — the StreamingSpec assertion is
    * therefore prefix-complete (everything older than the final
    * watermark's cutoff has flushed), not whole-stream equality: the
    * last ~70 minutes of unmatched clicks are still buffered when an
    * AvailableNow run drains. Batch mode is a plain left outer join —
    * the q112 oracle form.
    */
  def clickAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
        col("user_id") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 60 MINUTES"),
        joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"),
        round(col("purchase_value"), 4).as("purchase_value"))
  }

  /** Stateful dedup on event_id within the watermark (late duplicates
    * beyond it are dropped by definition).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  final case class UserStat(user_id: Long, n: Long, lastTs: Timestamp)

  /** Custom stateful accumulator via mapGroupsWithState: running event
    * count + latest timestamp per user (the §2.3 "custom state" row).
    *
    * Pass `idleTimeout = Some("1 hour")` on long-running queries to evict
    * state for idle users (emitting their final stat) — per-user state is
    * otherwise kept forever and grows with user cardinality. The default
    * is no timeout because pending processing-time timers keep a
    * Trigger.AvailableNow run scheduling batches instead of terminating —
    * drain-and-stop runs (and the batch-equivalence tests) need the
    * timer-free form.
    */
  def userStats(
      events: DataFrame,
      idleTimeout: Option[String] = None): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserStat, UserStat](timeoutConf) {
        case (uid, rows, state: GroupState[UserStat]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserStat(uid, 0L, new Timestamp(0)))
            var n = prev.n
            var last = prev.lastTs
            rows.foreach { case (_, t) =>
              n += 1
              if (t.after(last)) last = t
            }
            val next = UserStat(uid, n, last)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** `userStats` restated on Spark 4's transformWithState — the
    * StatefulProcessor API that replaces mapGroupsWithState for new code
    * (typed per-key state handles, composable state variables, TTL).
    * Same output contract as userStats; equivalence is asserted in
    * StreamingSpec. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which is also the
    * provider a 100 TB deployment runs: state spills to local disk +
    * changelog instead of living on the executor heap.
    */
  def userStatsTws(events: DataFrame): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{
      StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    // Resolve the state encoder OUTSIDE the processor: resolving it inside
    // (via spark.implicits) makes the anon class capture the SparkSession,
    // which stops being java-serializable the moment anything touches the
    // session's lazy ObservationManager (e.g. q157's Observation) — an
    // order-dependent Task-not-serializable at executor ship time.
    val statEnc: org.apache.spark.sql.Encoder[UserStat] =
      org.apache.spark.sql.Encoders.product[UserStat]
    val processor = new StatefulProcessor[Long, (Long, Timestamp), UserStat] {
      @transient private var state: ValueState[UserStat] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[UserStat]("userStat", statEnc,
          TTLConfig.NONE)
      override def handleInputRows(
          uid: Long, rows: Iterator[(Long, Timestamp)],
          timerValues: TimerValues): Iterator[UserStat] = {
        val prev = Option(state.get())
          .getOrElse(UserStat(uid, 0L, new Timestamp(0)))
        var n = prev.n
        var last = prev.lastTs
        rows.foreach { case (_, t) =>
          n += 1
          if (t.after(last)) last = t
        }
        val next = UserStat(uid, n, last)
        state.update(next)
        Iterator.single(next)
      }
    }
    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming ANN serving over the persisted AnnIndex catalog — the way
    * a serving pipeline actually exercises the index: probe vectors
    * arrive as a stream, each micro-batch runs the PROBE-ONLY IVF-PQ +
    * exact-rerank plan (bucket-pruned codes scan, ADC ranking, raw-vector
    * rerank for the top-c) against the STATIC index tables, and the
    * results go to `sink`. foreachBatch is the right vehicle because the
    * probe path collects each micro-batch's probe cells to drive the
    * literal-IN bucket pruning — a static-stream join could not prune.
    * Per-probe results are independent, so the union of micro-batch
    * outputs is exactly the batch answer (pinned in StreamingSpec). The
    * codebooks load ONCE at query start (k rows), never per batch.
    */
  def annServe(
      spark: SparkSession, probes: DataFrame, db: String,
      k: Int, c: Int, nProbe: Int,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{AnnIndex, VectorSearch}
    probes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // collect the micro-batch's probes ONCE (bounded per batch by
        // contract; the probe path must collect them anyway for bucket
        // pruning) — handing `batch` straight down would re-read the
        // streaming source three times per trigger (emptiness check,
        // probe-cells collect, rerank broadcast)
        val sel = batch.select(col("vec_id"), col("embedding"))
        val rows = sel.collect()
        if (rows.nonEmpty) {
          val local = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), sel.schema)
          // one atomic snapshot PER MICRO-BATCH: tables + codebooks
          // resolved together under the build lock, so no batch can pair
          // a new codebook with an old index; and because a long-lived
          // stream outlives index maintenance, re-resolving each batch
          // (cheap: codebooks are memoized, tables are k-file listings)
          // picks up appends and survives rebuilds/compactions — a
          // stream-lifetime snapshot would pin a generation that two
          // maintenance cycles later no longer exists on disk
          val snap = AnnIndex.snapshot(spark, db)
          sink(VectorSearch.ivfPqTopKRerank(
            snap.codes, snap.vectors,
            local, k, c, snap.ivf, snap.pq, nProbe), id)
        }
      }
      .start()
  }

  /** [[annServe]] over the persisted IMI catalog (r14; r15 margin
    * probe) — the O(√K) serving face: each micro-batch assigns its
    * probes margin-gated product cells on BOTH halves (top-1 always,
    * rank-2 within `margin` of the best, up to `cap` per half — the
    * boundary-recall schedule the dedup composites use) against the
    * memoized 2k-row half-codebooks and runs the
    * bucket-pruned exact scan of `AnnIndex.ensureImi`'s product-cell-
    * bucketed vectors (the q206 plan). Same per-batch discipline as
    * [[annServe]]: probes collected once (bounded by contract — the
    * probe path collects them anyway for the literal-IN pruning), table
    * re-resolved per batch so the stream survives rebuilds.
    */
  def imiServe(
      spark: SparkSession, probes: DataFrame, db: String,
      k: Int, cap: Int = 2, margin: Double = 0.1,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{AnnIndex, VectorSearch}
    probes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sel = batch.select(col("vec_id"), col("embedding"))
        val rows = sel.collect()
        if (rows.nonEmpty) {
          val local = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), sel.schema)
          val (cb1, cb2, half) = AnnIndex.imiCodebooks(spark, db)
          sink(VectorSearch.imiTopKIndexed(
            spark.table(s"$db.vectors"), local, k,
            cb1, cb2, half, cap, margin), id)
        }
      }
      .start()
  }

  /** Streaming incremental index maintenance — the ingest-side
    * counterpart of [[annServe]]: micro-batches of newly arrived
    * embeddings (vec_id, embedding) are APPENDED to the persisted
    * catalog against its FROZEN codebooks (`AnnIndex.append` per batch:
    * narrow cell assignment + PQ encode + two bucketed appends; no
    * training jobs ever). Combined with `AnnIndex.compact` on whatever
    * maintenance cadence suits, this is the full 100 TB index lifecycle:
    * train once, probe always, absorb deltas as they land. The batch is
    * persisted for the duration of the two appends so the source is read
    * once per trigger, not once per table.
    */
  def annIngest(
      spark: SparkSession, deltas: DataFrame, db: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxTombstoneFrac: Double = Double.PositiveInfinity,
      maxFilesPerBucket: Double = Double.PositiveInfinity): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.AnnIndex
    // With thresholds set, the stream is SELF-MAINTAINING: after each
    // micro-batch append the maintenance policy (AnnIndex.maintain, q124)
    // reads its metadata-cheap debt stats and folds only when a threshold
    // is crossed — an unbounded ingest stream never accumulates unbounded
    // per-bucket small files, and the fold runs between batches where the
    // single-driver scratch-index contract already holds. maintain()
    // detects the catalog layout itself: a buildIndex scratch catalog
    // folds in place (deferred-deletion swap, so a concurrent annServe
    // batch keeps its pinned files), an ensure-managed generation
    // catalog routes through compact's generation swap. Defaults keep
    // the policy disabled (append-only, exactly the pre-r11 behavior).
    deltas.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.select(col("vec_id"), col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!b.isEmpty) {
            AnnIndex.append(spark, db, b)
            if (maxTombstoneFrac != Double.PositiveInfinity
                || maxFilesPerBucket != Double.PositiveInfinity) {
              AnnIndex.maintain(spark, db, maxTombstoneFrac, maxFilesPerBucket)
              ()
            }
          }
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** Digest-store bucket count — both the history table and every
    * incremental join against it use the same spec (q99 discipline).
    */
  val DedupBuckets = 16

  /** Create the persisted dedup digest store if absent: a database at
    * `location` holding `history_digests`, bucketed by digest so every
    * future anti-join and append is keyed to the same layout.
    */
  def ensureDedupStore(
      spark: SparkSession, db: String, location: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$location'")
    if (!spark.catalog.tableExists(s"$db.history_digests"))
      graft.operators.Layout.writeBucketed(
        Seq.empty[String].toDF("digest"),
        s"$db.history_digests", "digest", DedupBuckets, Seq("digest"))
  }

  /** Streaming incremental corpus dedup against the persisted digest
    * store — the streaming face of q99's economics: each micro-batch of
    * documents is digested (normalized-text sha256), anti-joined against
    * the bucketed history table, the NOVEL docs (first-arrival-wins
    * within the batch) go to `sink`, and their digests are appended back
    * — bucketed, delta-sized — so later batches and later duplicates in
    * the stream are dropped. This is how a continuously-fed training
    * corpus actually deduplicates: the history table only ever pays for
    * its delta (Layout.appendBucketed never rewrites existing files),
    * and the per-batch anti-join exchanges only the batch side — the
    * history scan carries its bucket partitioning, so the 100 TB side
    * never shuffles.
    *
    * Delivery is at-least-once (foreachBatch replays on failure): a
    * replayed append can duplicate digest ROWS in history, which the
    * anti-join tolerates by construction (anti-join semantics ignore
    * right-side multiplicity), so novel-doc emission stays correct.
    */
  def dedupIngest(
      spark: SparkSession, docs: DataFrame, db: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch
          .withColumn("digest",
            sha2(graft.functions.TextFunctions.normalizeText(col("text")), 256))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!b.isEmpty) {
            val novel = b
              .join(spark.table(s"$db.history_digests"),
                Seq("digest"), "left_anti")
              // first-arrival-wins within the micro-batch: one survivor
              // per digest (matches q40/q99 exact-dedup semantics)
              .withColumn("rn", row_number().over(
                Window.partitionBy(col("digest")).orderBy(col("doc_id"))))
              .filter(col("rn") === 1).drop("rn")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              sink(novel, id)
              graft.operators.Layout.appendBucketed(
                novel.select(col("digest")),
                s"$db.history_digests", "digest", DedupBuckets, Seq("digest"))
              // same stale-relation hazard as nearDupIngest: the append
              // refreshes the micro-batch clone's cache, not this
              // session's — refresh explicitly so the next batch's
              // anti-join sees this batch's digests
              spark.catalog.refreshTable(s"$db.history_digests")
            } finally { novel.unpersist(); () }
          }
        } finally { b.unpersist(); () }
      }
      .start()
  }

  def ensureNearDupStore(
      spark: SparkSession, db: String, location: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$location'")
    if (!spark.catalog.tableExists(s"$db.history_bands"))
      graft.operators.Layout.writeBucketed(
        Seq.empty[(String, Long)].toDF("bk", "hist_id"),
        s"$db.history_bands", "bk", DedupBuckets, Seq("bk"))
  }

  /** Streaming incremental NEAR-dup detection against the persisted
    * minhash band store — the streaming face of q189, and the near-dup
    * sibling of [[dedupIngest]]: each micro-batch computes its LSH band
    * keys row-locally (the shared `LlmPipeline.minhashBandKeys`
    * definition, so stream ≡ batch band identity is definitional),
    * LEFT-joins the co-bucketed history store (history never
    * reshuffles), and every doc leaves with (n_hist, first_match) — a
    * verdict, emitted not silently applied, because near-dup decisions
    * (unlike exact ones) are threshold policy downstream. With `absorb`
    * on (default), the batch's own band keys append back delta-sized,
    * so later batches see earlier stream docs as history.
    *
    * At-least-once: a replayed append duplicates band ROWS, which the
    * countDistinct(hist_id) rollup tolerates by construction.
    */
  def nearDupIngest(
      spark: SparkSession, docs: DataFrame, db: String,
      absorb: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val keys = batch
          .select(col("doc_id"),
            explode(graft.queries.LlmPipeline.minhashBandKeys(col("text")))
              .as("bk"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!keys.isEmpty) {
            val verdicts = keys
              .join(spark.table(s"$db.history_bands"), Seq("bk"), "left")
              .groupBy(col("doc_id"))
              .agg(countDistinct(col("hist_id")).as("n_hist"),
                coalesce(min(col("hist_id")), lit(-1L)).cast("long")
                  .as("first_match"))
            sink(verdicts, id)
            if (absorb) {
              graft.operators.Layout.appendBucketed(
                keys.select(col("bk"), col("doc_id").as("hist_id")),
                s"$db.history_bands", "bk", DedupBuckets, Seq("bk"))
              // the append runs on the MICRO-BATCH session clone (keys
              // derives from `batch`), which refreshes the clone's
              // relation cache — not this outer session's. Without the
              // explicit refresh, the next batch (and any later query on
              // this session) joins against a stale file listing and
              // silently misses everything absorbed here.
              spark.catalog.refreshTable(s"$db.history_bands")
            }
          }
        } finally { keys.unpersist(); () }
      }
      .start()
  }

  /** Streaming TIFF-slab ingest (reference `tif_to_n5.py:53-58` semantics):
    * slice files arriving in a directory are decoded per micro-batch on
    * the executors and written as complete N5 blocks (blockSize z = slab
    * depth 1 keeps every batch block-aligned → idempotent commits).
    *
    * The default Trigger.AvailableNow drains what is present and
    * TERMINATES — correct for catch-up/backfill runs; a live acquisition
    * that keeps producing files needs a processing-time trigger, e.g.
    * `trigger = Trigger.ProcessingTime("10 seconds")`. With a
    * `checkpoint` location a restarted ingest skips the slices it has
    * already written; without one Spark uses a temporary checkpoint and
    * every run re-ingests the whole directory.
    */
  def tiffSlabIngest(
      spark: SparkSession, inDir: String, dstRoot: String, dstDataset: String,
      width: Int, height: Int, depth: Int,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val attrs = graft.n5.DatasetAttributes(
      Array(width.toLong, height.toLong, depth.toLong),
      Array(width, height, 1),
      graft.n5.Dtype.UInt8, graft.n5.Compression("gzip"))
    val stream = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.tif")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(inDir)
    val writer = stream.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // The filename digits are the ABSOLUTE 0-based z coordinate (this
        // streaming path has no global view for dense ranking, unlike
        // TiffVolume.ingestSlices). Validate instead of letting a bad
        // name surface as a null-encoder NPE or zero-extent arraycopy.
        val digits = regexp_extract(col("path"), "(\\d+)\\.tif$", 1)
        val slices = batch
          // no-match yields '' which an ANSI cast would reject opaquely
          .withColumn("z",
            when(length(digits) === 0, lit(null)).otherwise(digits.cast("long")))
          .select(col("z"), col("content"), col("path"))
          .as[(java.lang.Long, Array[Byte], String)]
          .mapPartitions(_.map { case (z, bytes, path) =>
            require(z != null,
              s"slice file name must end in <digits>.tif (0-based z): $path")
            require(z >= 0 && z < depth,
              s"slice z=$z out of range [0, $depth) for $path")
            val s = graft.sources.tiff.TiffIO.decode(bytes)
            // a wrong-sized slice would otherwise scatter with the wrong
            // stride (silent corruption when wider, opaque AIOOBE when
            // narrower); the uint8 range check is the plane writer's
            require(s.width == width && s.height == height,
              s"slice $path is ${s.width}x${s.height}, expected ${width}x$height")
            (z.toLong, s.pixels)
          })
        graft.n5.Regroup.writeSlices(slices, attrs, dstRoot, dstDataset)
      }
      .start()
  }

  /** Streaming quality gate — the train-offline/serve-online shape: a
    * logistic model trained in batch (q142's weights, passed as plain
    * doubles) scores and filters a document stream with a PURE NARROW
    * expression — features, dot product and sigmoid are codegen'd per
    * row, no state, no shuffle, no model join. This is how a trained
    * filter actually deploys: the model rides the plan as literals, so
    * serving cost is exactly the scan. Feature extraction is q142's,
    * verbatim (6-decimal rounding included), so a batch-scored doc and a
    * stream-scored doc get bit-identical scores (StreamingSpec pins it).
    *
    * @param w weights (bias, lenSat, alphaRatio, distinctRatio)
    */
  def qualityGate(docs: DataFrame, w: Array[Double],
      threshold: Double = 0.5): DataFrame = {
    require(w.length == 4, s"expected 4 weights, got ${w.length}")
    val toks = graft.functions.TextFunctions.tokens(
      graft.functions.TextFunctions.normalizeText(col("text")))
    val f1 = round(least(length(col("text")) / lit(1000.0), lit(1.0)), 6)
    val f2 = round(when(length(col("text")) === 0, 0.0)
      .otherwise(length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        .cast("double") / length(col("text"))), 6)
    val f3 = round(when(size(toks) === 0, 0.0)
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks)), 6)
    val z = lit(w(0)) + f1 * w(1) + f2 * w(2) + f3 * w(3)
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    docs.withColumn("score", score).filter(col("score") >= threshold)
  }

  /** Streaming HTML-extraction gate (r16) — q223's extraction pointed at
    * the ingest direction, which is where a real crawl runs it: raw
    * pages arrive as a stream, each is extracted (boilerplate removal,
    * entity decode, whitespace collapse — functions.HtmlText) and
    * navigation-heavy pages are dropped on their link density, all
    * BEFORE anything downstream (dedup stores, quality gates, shard
    * writers) sees a byte. The kernel is one narrow mapPartitions —
    * no state, no join, no shuffle — so serving cost is the scan and
    * the gate composes with every other ingest stream in this file.
    */
  def extractGate(pages: DataFrame, maxLinkDensity: Double): DataFrame = {
    import pages.sparkSession.implicits._
    val extracted = graft.functions.HtmlText.extractAll(
      pages.select(col("doc_id"), col("html"))
        .as[graft.functions.HtmlText.HtmlRow])
    extracted.toDF()
      .withColumn("link_density",
        round(col("link_chars").cast("double") / col("visible_chars"), 4))
      .filter(col("link_density") <= maxLinkDensity)
      .select(col("doc_id"), col("clean_text"), col("link_density"))
  }

  /** Streaming PDF-extraction face (r17) — q230's extraction pointed at
    * the ingest direction: PDF documents arrive as a (doc_id, bytes)
    * stream and each is extracted (xref walk, FlateDecode, operator-
    * level text assembly — functions.PdfText) per micro-batch. One
    * narrow stateless mapPartitions — document bytes never shuffle —
    * so the face composes with [[extractGate]]'s link-density shape
    * and every downstream dedup/quality consumer.
    */
  def pdfExtract(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        // ONE parse per document: extractPages yields both the page
        // count and the text (extract+pageCount would re-walk the xref
        // and re-inflate every stream — r17 ADVICE)
        val pages = graft.functions.PdfText.extractPages(b)
        (id, pages.size, pages.mkString("\n"))
      })
      .toDF("doc_id", "n_pages", "text")
  }

  /** Streaming MP4 scene-cut face (r17) — q229's container walk pointed
    * at a live video ingest: MP4 clips arrive as an (id, bytes) stream
    * and each is box-walked, sample-resolved, MJPEG-decoded, and
    * scene-cut-scored (functions.Multimodal.mp4SceneCuts) per
    * micro-batch. Stateless and narrow; clip bytes never shuffle.
    */
  def mp4CutGate(stream: DataFrame, sumDeltaThreshold: Long): DataFrame = {
    import stream.sparkSession.implicits._
    graft.functions.Multimodal.mp4SceneCuts(
      stream.select(col("id"), col("media_type"), col("bytes"))
        .as[graft.functions.Multimodal.MediaRow],
      sumDeltaThreshold).toDF()
  }

  /** Streaming SEMANTIC gate (r13) — q166's embedding-level
    * decontamination pointed at the ingest direction: incoming TRAINING
    * candidates are flagged when their embedding sits too close to any
    * eval-set vector (a paraphrased leak the n-gram [[decontaminate]]
    * gate cannot see). The eval set is tiny by construction, so its
    * vectors ride the plan as an ARRAY LITERAL and the per-row verdict
    * is max-over-evals cosine via higher-order functions — pure narrow
    * codegen, no state, no join, no shuffle; serving cost is the scan
    * (the [[qualityGate]]/[[mixtureGate]] solve-offline/serve-online
    * pattern, third instance). Emits `max_cos` and a `keep` verdict
    * (audit-don't-drop, as everywhere). Cosines round to 4 decimals —
    * the q41 ranking lattice — so stream and batch agree bit-for-bit.
    */
  def semanticGate(
      stream: DataFrame, evalVecs: Seq[Seq[Double]],
      threshold: Double = 0.4): DataFrame = {
    require(evalVecs.nonEmpty, "eval vector set must not be empty")
    import org.apache.spark.sql.functions.{typedlit, transform => hTransform}
    val VF = graft.functions.VectorFunctions
    val evs = typedlit(evalVecs.map(_.toArray).toArray)
    val cosines = hTransform(evs,
      ev => round(VF.cosine(VF.toDoubles(col("embedding")), ev), 4))
    stream
      .withColumn("max_cos", array_max(cosines))
      .withColumn("keep", col("max_cos") < threshold)
  }

  /** Streaming mixture gate (r13) — q159's token-budget mixture in the
    * shape a live ingest runs it, the [[qualityGate]]
    * solve-offline/serve-online pattern applied to data mixing: the
    * waterfilling solver (`TrainingPipeline.mixtureRates`) runs ONCE
    * over the reference corpus snapshot; the resulting per-domain epoch
    * rates ride the streaming plan as a LITERAL map (no join, no state,
    * pure codegen — serving cost is the scan). Each micro-batch doc
    * emits floor(rate) full epochs plus one extra iff its salted
    * content-stable md5 fraction falls under the fractional part —
    * byte-identical arithmetic to the batch materialization, so the
    * emitted multiset equals q159's on the same slice (pinned in
    * StreamingSpec). Docs from domains absent in the rate table emit
    * ZERO rows by policy (an unsolved domain has no budget); route such
    * docs to a dead-letter with a rates-keyset filter upstream if they
    * must be audited.
    */
  def mixtureGate(stream: DataFrame, rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty, "rate table must not be empty")
    val rateMap = map(rates.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val rate = element_at(rateMap, col("source"))
    val frac = (conv(substring(
        md5(concat(lit("mixb"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long") % 1000000) / lit(1000000.0)
    val copies = floor(rate) +
      when(frac < rate - floor(rate), 1L).otherwise(0L)
    stream
      .withColumn("rate", rate)
      .withColumn("epoch",
        explode(when(copies > 0, sequence(lit(1L), copies))
          .otherwise(array().cast("array<long>"))))
  }

  /** Streaming decontamination (r13) — q135's bloom-pre-filtered benchmark
    * decontamination in the shape a live ingest runs it, mirroring
    * [[qualityGate]]'s train-offline/serve-online pattern: the probe
    * set's distinct n-grams and their fpp-bounded bloom sketch are built
    * ONCE from `probeDocs` (static — benchmark sets don't change
    * mid-ingest), then every micro-batch is gated exactly as the batch
    * query gates the corpus: the codegen'd `bloom_might_contain` drops
    * non-matching grams BEFORE the batch's only exchange, the broadcast
    * confirm join against the true probe grams restores exactness (false
    * negatives are impossible, so the sketch can only drop rows the join
    * would drop), and each doc leaves with `n_shared` and a `keep`
    * verdict (< `minShared` shared distinct grams). The verdict is
    * emitted, not silently applied — the same auditable dead-letter
    * philosophy as [[jsonlIngest]]. Per-batch cost: the exchange carries
    * only the batch's bloom-positive gram slice; the probe grams stay
    * cached and broadcast. Batch-equivalence vs q135 is pinned in
    * StreamingSpec.
    */
  def decontaminate(
      stream: DataFrame, probeDocs: DataFrame,
      n: Int = 3, minShared: Int = 2, fpp: Double = 0.01,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())
      (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{BloomRef, NativeExpressions => NE, TextFunctions => TF}
    val grams = (c: org.apache.spark.sql.Column) =>
      NE.wordNgrams(TF.tokens(TF.normalizeText(c)), n)
    val probeGrams = probeDocs
      .select(explode(grams(col("text"))).as("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = BloomRef.build(probeGrams, "gram",
      expectedItems = math.max(probeGrams.count(), 1L), fpp = fpp)
    val writer = stream.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: DataFrame, id: Long) =>
      val shared = batch
        .select(col("doc_id"), explode(grams(col("text"))).as("gram"))
        .filter(NE.bloomMightContain(col("gram"), bloom))
        .join(broadcast(probeGrams), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared"))
      val gated = batch.join(shared, Seq("doc_id"), "left")
        .withColumn("n_shared",
          coalesce(col("n_shared"), lit(0L)).cast("long"))
        .withColumn("keep", col("n_shared") < minShared)
      onBatch(gated, id)
    }
      .start()
  }

  /** Streaming RELEASE GATE (r13) — the live-ingest face of q152's
    * per-doc gating stages, fused into ONE micro-batch pass: the
    * batch-trained quality weights score each doc (narrow codegen'd
    * expression, [[qualityGate]]'s math), the static probe-gram bloom
    * sketch + exact confirm join decide contamination
    * ([[decontaminate]]'s math), and the deterministic md5 bucket
    * assigns the split — every doc leaves with (score, n_shared, split)
    * and ONE composed `keep` verdict (quality AND clean), emitted not
    * silently applied. What a streaming face cannot do is the CORPUS-
    * level stages (exact/semantic dedup need cross-batch state — that
    * is [[dedupIngest]]'s job, composable downstream); this gate is
    * everything per-doc, which is exactly the part that can run at
    * ingest time before data ever lands. Per-batch cost: one scan +
    * the fpp-bounded bloom-positive gram exchange.
    */
  def releaseGate(
      stream: DataFrame, w: Array[Double], probeDocs: DataFrame,
      n: Int = 3, minShared: Int = 2, threshold: Double = 0.5,
      splitBuckets: Int = 10, trainBuckets: Int = 8, fpp: Double = 0.01,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())
      (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{BloomRef, NativeExpressions => NE, TextFunctions => TF}
    require(w.length == 4, s"expected 4 weights, got ${w.length}")
    val grams = (c: org.apache.spark.sql.Column) =>
      NE.wordNgrams(TF.tokens(TF.normalizeText(c)), n)
    val probeGrams = probeDocs
      .select(explode(grams(col("text"))).as("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = BloomRef.build(probeGrams, "gram",
      expectedItems = math.max(probeGrams.count(), 1L), fpp = fpp)
    val writer = stream.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: DataFrame, id: Long) =>
      // quality score: qualityGate's expression verbatim, weights as
      // literals — zero state, zero shuffle
      val toks = TF.tokens(TF.normalizeText(col("text")))
      val f1 = round(least(length(col("text")) / lit(1000.0), lit(1.0)), 6)
      val f2 = round(when(length(col("text")) === 0, 0.0)
        .otherwise(length(regexp_replace(col("text"), "[^A-Za-z]", ""))
          .cast("double") / length(col("text"))), 6)
      val f3 = round(when(size(toks) === 0, 0.0)
        .otherwise(size(array_distinct(toks)).cast("double") / size(toks)), 6)
      val z = lit(w(0)) + f1 * w(1) + f2 * w(2) + f3 * w(3)
      val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
      // contamination: bloom pre-filter + exact confirm (decontaminate's
      // batch body)
      val shared = batch
        .select(col("doc_id"), explode(grams(col("text"))).as("gram"))
        .filter(NE.bloomMightContain(col("gram"), bloom))
        .join(broadcast(probeGrams), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") % splitBuckets
      val gated = batch
        .withColumn("score", score)
        .join(shared, Seq("doc_id"), "left")
        .withColumn("n_shared",
          coalesce(col("n_shared"), lit(0L)).cast("long"))
        .withColumn("split",
          when(bucket < trainBuckets, "train").otherwise("val"))
        .withColumn("keep",
          col("score") >= threshold && col("n_shared") < minShared)
      onBatch(gated, id)
    }
      .start()
  }

  /** Streaming JSONL ingest with dead-lettering — the corpus-arrival face
    * of q138: a directory of JSON-lines files consumed with an EXPLICIT
    * schema (no inference pass), malformed lines routed to a dead-letter
    * sink instead of poisoning the batch or silently disappearing. A
    * 100 TB crawl drop ALWAYS contains broken lines; dropping them
    * silently (DROPMALFORMED) loses the audit trail and failing the
    * stream (FAILFAST) loses the batch — PERMISSIVE + corrupt-record
    * routing keeps both. The persist is load-bearing, not an
    * optimization: Spark's JSON reader only materializes the corrupt
    * column on a cached plan (filtering the raw stream on it is
    * documented to be unreliable), and it also keeps the two sink
    * branches to one parse of the batch.
    */
  def jsonlIngest(
      spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit)(
      deadLetter: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val corrupt = "_corrupt_record"
    require(!schema.fieldNames.contains(corrupt),
      s"schema must not already declare $corrupt")
    val withCorrupt = schema
      .add(corrupt, org.apache.spark.sql.types.StringType)
    spark.readStream
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(inDir)
      .writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          deadLetter(
            b.filter(col(corrupt).isNotNull).select(col(corrupt)), id)
          sink(b.filter(col(corrupt).isNull).drop(corrupt), id)
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** Streaming CDC apply — maintain a CURRENT-STATE table from a
    * changelog stream (the streaming face of q141 / operators/CdcApply):
    * each micro-batch reduces to its per-key latest rows FIRST
    * (delta-sized work), then merges into the persisted state with
    * delta-proportional IO. The state is hash-bucket-partitioned on the
    * key (`__kb` partition column), so a batch
    *   - READS only the bucket partitions its keys touch (partition
    *     pruning on the `isin` filter), and
    *   - REWRITES only those partitions (dynamic partition overwrite) —
    * untouched buckets of a 100 TB state are neither scanned nor
    * written. Inside a touched bucket, CdcApply.merge keeps untouched
    * keys via the broadcast anti-join and applies the delta's latest
    * rows, dropping tombstones.
    *
    * Delivery: with a checkpoint the file source is exactly-once; on a
    * crash-replay of the last uncommitted batch the merge is IDEMPOTENT
    * (re-anti-joining keys the failed write may have partially applied
    * and re-applying the same latest rows converges to the same state —
    * Structured Streaming never replays a batch older than the last
    * committed one, so no regression to stale values is possible).
    * Contract: changelog rows arrive in batches that respect key
    * recency (the snapshot is the state as of the batch's start), the
    * invariant any log-ordered CDC source (Debezium/binlog) provides.
    */
  def cdcApply(
      spark: SparkSession, changelog: DataFrame, statePath: String,
      keys: Seq[String], orderCols: Seq[String], opCol: String,
      buckets: Int = 32, checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.CdcApply
    val writer = changelog.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val deltaLast = CdcApply
          .currentState(batch, keys, orderCols, opCol = None)
          .withColumn("__kb",
            pmod(hash(keys.map(col): _*), lit(buckets)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // bounded by construction: at most `buckets` distinct values
          val touched = deltaLast.select(col("__kb")).distinct()
            .collect().map(_.getInt(0)).toIndexedSeq
          val fs = new org.apache.hadoop.fs.Path(statePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val slice =
            if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
              spark.read.parquet(statePath)
                .filter(col("__kb").isin(touched: _*)) // partition-pruned
            else
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                deltaLast.schema)
          val merged = CdcApply
            .merge(slice, deltaLast, keys, orderCols, Some(opCol))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // collect the live bucket set BEFORE the overwrite: computing
            // it afterwards would recompute `merged` against a state path
            // whose old files the dynamic-overwrite commit already
            // deleted if the cached blocks were evicted (r12 ADVICE)
            val live = merged.select(col("__kb")).distinct()
              .collect().map(_.getInt(0)).toSet
            merged.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__kb")
              .parquet(statePath)
            // dynamic overwrite only replaces partitions PRESENT in the
            // output: a touched bucket whose every key was tombstoned
            // produces no rows and would silently keep its stale files —
            // drop those partition dirs explicitly (idempotent under
            // replay: the merge recomputes empty and re-deletes)
            (touched.toSet -- live).foreach { kb =>
              fs.delete(
                new org.apache.hadoop.fs.Path(s"$statePath/__kb=$kb"), true)
              ()
            }
          } finally { merged.unpersist(); () }
        } finally { deltaLast.unpersist(); () }
      }
    }
      .start()
  }

  /** Streaming INTEGRITY LEDGER (r13) — the live-ingest face of q185's
    * release shard checksums: every micro-batch emits one ledger row per
    * touched shard — (shard, n_docs, total_chars, checksum_partial) —
    * and the release-time rollup per shard is Σn_docs, Σtotal_chars, and
    * (Σ checksum_partial) mod p. The rollup EQUALS the batch checksum
    * because modular addition is associative and commutative — the same
    * property that makes the q185 checksum row-order-independent makes
    * it batch-boundary-independent, so the ledger can be folded at any
    * granularity (batch → hour → release) without ever re-reading rows.
    * Per-batch cost: one narrow pass + a map-side-combined agg into at
    * most `shards` cells; the ledger itself is shards×batches rows of
    * metadata.
    */
  def integrityLedger(
      stream: DataFrame, shards: Int = 8,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())
      (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val P = 1000000007L
    val writer = stream.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch { (batch: DataFrame, id: Long) =>
      val ledger = batch.select(
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % shards).as("shard"),
          (conv(substring(md5(col("text")), 1, 13), 16, 10)
            .cast("long") % P).as("dint"),
          col("n_chars"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          (sum(col("dint")) % P).cast("long").as("checksum_partial"))
      onBatch(ledger, id)
    }
      .start()
  }
}
