package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Structured Streaming ingest — the additive streaming capability
  * (SURVEY §2.10): the reference's continuous-ingest role is played by
  * external tables / gpfdist micro-batch loads
  * (`/root/reference/src/backend/access/external/url_execute.c`,
  * `src/bin/gpfdist/`); here the same `events` feed runs through
  * `readStream` with watermarked tumbling windows and arbitrary stateful
  * processing, giving exactly-once micro-batch semantics the reference
  * approximates transactionally.
  *
  * Each helper runs the streaming query to completion against the static
  * test parquet (file-source + memory sink, `processAllAvailable`) and
  * returns the result — which the specs compare 1:1 against the equivalent
  * batch query (stream/batch parity is the correctness contract).
  *
  * Production deployment note (r18 throughput diagnosis): a long-running
  * driver executing many short micro-batch jobs accumulates shuffle and
  * broadcast state that Spark's ContextCleaner frees only on driver GC —
  * on a large heap that seldom collects, per-batch cost drifts upward
  * (measured: +48% over 64 waves, eliminated by a forced GC A/B —
  * SCALING.md r18). Set `spark.cleaner.periodicGC.interval` well below
  * its 30min default (e.g. 1min) on any driver hosting these admission
  * lanes; `tools/StreamThroughput` does so and carries the measurement.
  */
object Streaming {

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // file source needs an explicit schema; probe the fixture's actual
    // timestamp unit via the batch reader's shared detector so batch and
    // stream can never disagree (no session-global legacy flag either way)
    val path = s"$dir/events.parquet"
    if (Tables.eventsNeedsNanosFallback(spark, path)) {
      spark.readStream.schema(Tables.eventsRawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    } else {
      val tsType = Tables.probeEventsTsType(spark, path).get
      val df = spark.readStream.schema(Tables.eventsMicrosSchema(tsType))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      // same NTZ -> session-zoned normalization as the batch reader
      if (tsType == org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn("ts", col("ts").cast("timestamp"))
      else df
    }
  }

  /** Watermarked tumbling-window counts; complete-mode memory sink. */
  def tumblingAgg(spark: SparkSession, dir: String, name: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
              col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Append-mode watermarked tumbling counts over a caller-fed directory —
    * the late-data harness. Unlike [[tumblingAgg]] (complete mode, state
    * never evicted), append mode emits a window only once its end falls
    * behind the watermark and then EVICTS the window's state; any row
    * arriving later than `1 hour` behind the observed max event time is
    * dropped, never resurrecting the finalized window. The caller writes
    * parquet batches into `srcDir` and calls `processAllAvailable()`
    * between arrivals to control micro-batch order (the spec uses this to
    * deliver a too-late row in a second batch). */
  def tumblingAppendQuery(spark: SparkSession, srcDir: String,
                          name: String): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema("id LONG, ts TIMESTAMP")
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("n"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
  }

  /** Watermarked SESSION windows in streaming mode — Spark's native
    * sessionization aggregation (`session_window`, 30-minute gap) running
    * incrementally: state per OPEN session, merged as events arrive,
    * evicted once the watermark passes the session end. Complete-mode
    * memory sink so the finite file source drains to the full session
    * set; the spec asserts exact equality with the identical batch
    * session_window aggregation (stream/batch parity). */
  def sessionWindowAgg(spark: SparkSession, dir: String, name: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("sw.start").as("session_start"),
              col("sw.end").as("session_end"), col("user_id"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming exact dedup — the pipeline dedup operator in streaming
    * form: dropDuplicates on the content key inside the stream. State is
    * one entry per distinct key (bound it with a watermark on ts in
    * production — [[streamingDedupBounded]] is that variant; here the
    * finite file source drains completely). */
  def streamingDedup(spark: SparkSession, dir: String, name: String): DataFrame = {
    val dedup = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .dropDuplicates("user_id", "event_type")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    * keeps a key's state only until the watermark passes its event time
    * plus the delay — the production form of [[streamingDedup]], whose
    * per-distinct-key state would otherwise grow for the stream's
    * lifetime. Duplicates arriving within the watermark horizon are
    * dropped exactly like the unbounded variant; a duplicate arriving
    * after its key's state was evicted is the documented trade
    * (watermark-late data is dropped by the source anyway). */
  def streamingDedupBounded(spark: SparkSession, dir: String,
                            name: String): DataFrame = {
    val dedup = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming NEAR-duplicate suppression — the dedup pipeline family
    * run at ingest time (the shape a 100 TB crawl pipeline actually
    * wants: drop near-dups before they ever land): each arriving
    * document gets its one-pass codegen simhash48 signature (the SAME
    * kernel the batch pipeline uses, so stream and batch agree on what
    * a near-dup class is) and `dropDuplicates` on the signature keeps
    * only the first arrival of each class. State is signature-keyed —
    * 8 bytes per CLASS, not per document; with an event-time column the
    * bounded `dropDuplicatesWithinWatermark` variant applies unchanged
    * (streamingDedupBounded shows it). */
  def streamingNearDedup(spark: SparkSession, dir: String,
                         name: String): DataFrame = {
    graft.functions.SigFns.register(spark)
    val docsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val kept = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), call_function("simhash48", col("text")).as("sig"))
      .dropDuplicates("sig")
    val q = kept.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-static join: the streaming fact joins a static dimension
    * (broadcast per micro-batch — the reference's replicated-table join
    * against a continuously-loading external table). */
  def streamStaticJoin(spark: SparkSession, dir: String, name: String): DataFrame = {
    val userDim = Tables.t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_total"))
    val joined = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(userDim, "user_id")
      .groupBy(col("user_id"), col("n_total"))
      .agg(count(lit(1)).as("n_purchases"))
    val q = joined.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-STREAM join (both sides unbounded — the reference has no
    * analogue; two continuously-loading external tables would need a
    * periodic batch join): each purchase joins the same user's clicks
    * from the preceding hour. Both sides carry a watermark and the join
    * has a time-range predicate, so Spark provably bounds the buffered
    * state: a click older than (watermark - 1h) can never match a future
    * purchase and its state is evicted. Inner joins emit eagerly on
    * match, so the finite file source drains to exactly the batch
    * result. */
  /** Shared fixture for the stream-stream interval joins: watermarked
    * purchase/click streams and the one-hour look-back condition — one
    * definition for the inner/left-outer/full-outer variants (and the
    * spec re-derives its batch truth from the same shape). */
  private def purchaseClickStreams(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val cond = col("user_id") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("c_ts") <= col("p_ts")
    (purchases, clicks, cond)
  }

  def streamStreamJoin(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (purchases, clicks, cond) = purchaseClickStreams(spark, dir)
    val joined = purchases.join(clicks, cond)
      .select(col("user_id"), col("p_id"), col("c_id"),
              col("p_ts"), col("c_ts"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-stream LEFT OUTER interval join: purchases with the clicks
    * that preceded them within an hour, null-extended for purchases with
    * no qualifying click. Outer emission is WATERMARK-DRIVEN state
    * eviction — a purchase can only be declared match-less once the
    * click-side watermark has passed its whole candidate interval, so the
    * null row arrives late but exactly once. Both watermarks and the
    * time-range condition are mandatory for the state bound (same
    * discipline the inner variant documents). */
  def streamStreamLeftOuter(spark: SparkSession, dir: String,
                            name: String): DataFrame = {
    val (purchases, clicks, cond) = purchaseClickStreams(spark, dir)
    val joined = purchases.join(clicks, cond, "leftOuter")
      .select(col("user_id"), col("p_id"), col("c_id"),
              col("p_ts"), col("c_ts"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-stream FULL OUTER interval join — completes the outer-join
    * matrix beside the inner and left-outer variants: BOTH sides emit a
    * null-extended row once the watermark proves no partner can still
    * arrive. Same interval condition and state-eviction discipline as
    * [[streamStreamLeftOuter]]. */
  def streamStreamFullOuter(spark: SparkSession, dir: String,
                            name: String): DataFrame = {
    val (purchases, clicks, cond) = purchaseClickStreams(spark, dir)
    val joined = purchases.join(clicks, cond, "fullOuter")
      .select(col("user_id"), col("c_user"), col("p_id"), col("c_id"),
              col("p_ts"), col("c_ts"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming-to-TABLE ingestion with exactly-once semantics across
    * restarts WITH THE SAME CHECKPOINT (the reference's transactional
    * external-table load: gpfdist batches commit or roll back atomically).
    * Spark's file sink is already exactly-once, but only for its own log
    * format; this is the general pattern for ANY idempotent sink:
    * `foreachBatch` writes each micro-batch under a `batch=<id>` directory
    * via stage+rename, and SKIPS ids that already exist — the checkpoint
    * pins each batch id to a source offset range, so a redelivered id
    * carries identical rows and the skip deduplicates it. If the
    * CHECKPOINT is lost, ids restart at 0 over whatever the source now
    * holds: a replanned batch 0 may contain newly-arrived rows yet still
    * be skipped — id-keyed idempotency needs an unchanged source in that
    * scenario; [[streamToTableContent]] is the content-keyed variant that
    * survives it. */
  def streamToTable(spark: SparkSession, dir: String, tableDir: String,
                    checkpointDir: String): Unit = {
    val q = eventsStream(spark, dir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch.sparkSession.sparkContext.hadoopConfiguration,
          batch, tableDir, s"batch=$batchId", Seq.empty)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Content-keyed streaming table sink — the opt-in for the scenario
    * [[streamToTable]]'s docstring flags: after CHECKPOINT LOSS, batch ids
    * replay from 0 over whatever the source now holds, so id-keyed
    * idempotency would skip a replanned batch 0 that carries NEW rows.
    * Here idempotency keys on row CONTENT instead: each micro-batch row
    * gets a digest (md5 over the canonical JSON of all columns in sorted
    * name order), the batch dedups on that digest, anti-joins the digests
    * already committed to the table, and appends only the remainder under
    * a fresh uniquely-named directory via the same stage+rename commit.
    * Losing the checkpoint then costs reprocessing, never correctness: a
    * replayed row matches its committed digest and is filtered; a
    * newly-arrived row cannot match and is appended.
    *
    * The digest is persisted with the data, so the anti-join's committed
    * side scans ONE 32-char column (parquet column pruning), not the
    * payload — at scale this is exact-dedup's shape: one shuffle of
    * (digest) keys per micro-batch. Caveat, documented not hidden: rows
    * that are EXACT duplicates across the whole stream's lifetime are
    * collapsed by design (content identity IS the key), so feeds whose
    * rows legitimately repeat need a distinguishing column (event id,
    * arrival file) in the schema. */
  def streamToTableContent(spark: SparkSession, srcDir: String, schemaDdl: String,
                           tableDir: String, checkpointDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val q = spark.readStream.schema(schemaDdl).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val dataCols = batch.columns.sorted.map(col).toSeq
        val withDigest = batch
          .withColumn("row_digest", md5(to_json(struct(dataCols: _*))))
          .dropDuplicates("row_digest")
        val fs = new Path(tableDir)
          .getFileSystem(sess.sparkContext.hadoopConfiguration)
        val committedDirs = Option(
          fs.globStatus(new Path(tableDir, "ingest=*"))).getOrElse(Array.empty)
        val fresh =
          if (committedDirs.isEmpty) withDigest
          else withDigest.join(
            sess.read.parquet(tableDir).select(col("row_digest")),
            Seq("row_digest"), "left_anti")
        val rows = fresh.persist()
        try {
          if (rows.count() > 0)
            commitBatch(sess.sparkContext.hadoopConfiguration, rows, tableDir,
              s"ingest=${java.util.UUID.randomUUID()}", Seq.empty)
        } finally { rows.unpersist(); () }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming INCREMENTAL materialized-view maintenance. The
    * reference's REFRESH MATERIALIZED VIEW re-executes the full stored
    * definition (`matview.c` ExecRefreshMatView); with an append-only
    * base and DECOMPOSABLE aggregates the refresh can instead fold only
    * the new micro-batch into the current snapshot — delta maintenance,
    * the IVM counting algorithm for distributive aggregates. Per
    * micro-batch: partial-aggregate the batch (per event_type: row
    * count + micros-exact value sum), union-merge with the current
    * snapshot re-aggregating the partials, and commit through
    * [[graft.sources.Matviews.writeSnapshot]]'s versioned protocol
    * (crash mid-refresh leaves the old version current; readers of the
    * pre-refresh snapshot are undisturbed). Refresh cost is
    * O(|batch| + |view|) shuffled on the group key — never O(|base|).
    *
    * Exactly-once: every snapshot row carries the id of the last
    * applied batch (`_applied_batch`) — recorded ATOMICALLY with the
    * data by the snapshot commit itself, so a crash anywhere leaves
    * either the old snapshot (batch unapplied, replay applies it once)
    * or the new one (replay sees its own id and skips). Restarts of the
    * same checkpoint are therefore idempotent. After checkpoint LOSS
    * the batch lineage restarts at 0 over ALL files — a case delta
    * maintenance cannot distinguish from new data — so recovery is the
    * reference's full re-execution: [[rebuildMatviewCounts]] into a
    * FRESH view dir (equivalently: replay the stream into one). */
  def streamingMatviewCounts(spark: SparkSession, srcDir: String,
                             mvPath: String, checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val existing =
          if (graft.sources.Matviews.exists(sess, mvPath))
            Some(graft.sources.Matviews.read(sess, mvPath))
          else None
        val applied = existing.exists(
          _.agg(coalesce(max(col("_applied_batch")), lit(-1L)))
            .collect()(0).getLong(0) >= batchId)
        if (!applied) {
          val delta = batch.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 1000000.0, 0).cast("long")).as("sum_u"))
          val merged = existing match {
            case None => delta
            case Some(cur) => cur.select(col("event_type"), col("n"), col("sum_u"))
              .unionByName(delta)
              .groupBy(col("event_type"))
              .agg(sum(col("n")).as("n"), sum(col("sum_u")).as("sum_u"))
          }
          graft.sources.Matviews.writeSnapshot(sess, mvPath,
            merged.withColumn("_applied_batch", lit(batchId)))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming count-min sketch maintenance — the streaming face of
    * d_countmin_heavy (`queries/Sketches.scala`, same depth-3 x
    * width-256 md5 hash family): each micro-batch of documents explodes
    * to per-(row, bucket) token counts and folds ADDITIVELY into the
    * stored counter table under the snapshot protocol (applied-batch id
    * atomic with the counters, so restarts are exactly-once — the
    * streamingMatviewCounts discipline). Count-min is a LINEAR sketch:
    * merge is cell-wise addition, so the streamed-and-merged counters
    * are BIT-EQUAL to a batch build over the union of all batches —
    * CdcSpec-style parity asserted in StreamingSketchSpec, not just
    * approximated. State is 768 cells regardless of stream volume; the
    * per-batch shuffle carries (j, b) cell partials, never tokens. */
  def streamingCountMin(spark: SparkSession, srcDir: String,
                        sketchPath: String, checkpointDir: String): Unit = {
    import graft.queries.Sketches
    val q = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val existing =
          if (graft.sources.Matviews.exists(sess, sketchPath))
            Some(graft.sources.Matviews.read(sess, sketchPath))
          else None
        val applied = existing.exists(
          _.agg(coalesce(max(col("_applied_batch")), lit(-1L)))
            .collect()(0).getLong(0) >= batchId)
        if (!applied) {
          val delta = batch
            .select(explode(split(col("text"), " ")).as("w"))
            .select(explode(array((1 to Sketches.CmDepth).map(j =>
              struct(lit(j).as("j"),
                Sketches.bucket(j, col("w"), Sketches.CmWidth).as("b"))): _*))
              .as("jb"))
            .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
            .agg(count(lit(1)).as("c"))
          val merged = existing match {
            case None => delta
            case Some(cur) => cur.select(col("j"), col("b"), col("c"))
              .unionByName(delta)
              .groupBy(col("j"), col("b"))
              .agg(sum(col("c")).as("c"))
          }
          graft.sources.Matviews.writeSnapshot(sess, sketchPath,
            merged.withColumn("_applied_batch", lit(batchId)))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming CDC apply — the logical-replication APPLY WORKER
    * (`/root/reference/src/backend/replication/logical/worker.c` apply
    * loop; `contrib/test_decoding` emits what this consumes): a stream
    * of [[graft.sources.Cdc]] diff-shaped change rows (op I/U/D + old/new
    * images) applied per micro-batch onto a versioned snapshot table via
    * `Cdc.replay`, under the matview snapshot protocol — the applied
    * batch id rides IN the snapshot, atomic with the data, so a restart
    * that redelivers a batch sees its id already applied and skips:
    * exactly-once apply per checkpoint lineage. Each micro-batch is one
    * consistent change SET (one decoded-transaction batch), matching the
    * diff contract of at most one row per key.
    *
    * Bootstrap: with no snapshot present the base is the empty relation
    * (batch 0's I rows build the table). After checkpoint LOSS batch ids
    * restart over all files, and change sets are only replayable against
    * the snapshot they were diffed from — recovery is re-seeding from a
    * fresh base snapshot (the same full-re-execution answer as
    * [[streamingMatviewCounts]]'s docstring). Scale shape: each apply is
    * Cdc.replay's one anti-join + union keyed on the table key —
    * O(batch + table) per micro-batch with the 2-version MVCC bound of
    * the snapshot protocol. */
  def streamingCdcApply(spark: SparkSession, srcDir: String,
                        changeSchemaDdl: String, keys: Seq[String],
                        tablePath: String, checkpointDir: String): Unit = {
    val q = spark.readStream.schema(changeSchemaDdl).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val existing =
          if (graft.sources.Matviews.exists(sess, tablePath))
            Some(graft.sources.Matviews.read(sess, tablePath))
          else None
        val applied = existing.exists(
          _.agg(coalesce(max(col("_applied_batch")), lit(-1L)))
            .collect()(0).getLong(0) >= batchId)
        if (!applied) {
          val vals = batch.columns
            .filter(_.startsWith("new_")).map(_.stripPrefix("new_")).toSeq
          val base = existing.map(_.drop("_applied_batch")).getOrElse(
            batch.filter(lit(false)).select(
              keys.map(col) ++ vals.map(c => col(s"new_$c").as(c)): _*))
          val next = graft.sources.Cdc.replay(base, batch, keys)
          graft.sources.Matviews.writeSnapshot(sess, tablePath,
            next.withColumn("_applied_batch", lit(batchId)))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Full refresh of the counts view — bootstrap and checkpoint-loss
    * recovery (the reference's full re-execution path). Pairs with a
    * FRESH checkpoint: the snapshot is stamped `_applied_batch = 0`
    * because that fresh checkpoint's batch 0 re-delivers exactly the
    * files this rebuild just aggregated — the stream must SKIP it, not
    * re-fold the whole corpus onto the full snapshot. Files that arrive
    * between the rebuild and the stream start would also land in batch 0
    * and be skipped, so re-run the rebuild if ingestion continued during
    * the handoff (the same snapshot-handoff window any recovery has). */
  def rebuildMatviewCounts(spark: SparkSession, srcDir: String,
                           mvPath: String): Unit = {
    val full = spark.read
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .parquet(srcDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000000.0, 0).cast("long")).as("sum_u"))
    graft.sources.Matviews.writeSnapshot(spark, mvPath,
      full.withColumn("_applied_batch", lit(0L)))
  }

  /** Arbitrary stateful streaming: running per-user event counter via
    * mapGroupsWithState (reference analogue: none — additive). */
  def statefulUserCounts(spark: SparkSession, dir: String, name: String): DataFrame = {
    val sp = spark; import sp.implicits._
    val counts: Dataset[(Long, Long)] = eventsStream(spark, dir)
      .select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          (user, total)
      }
    val q = counts.toDF("user_id", "n_events").writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming incremental ANN index maintenance — FAISS's add() on an
    * already-trained IVF index, as a stream (the index-maintenance face
    * of [[graft.queries.Similarity.ivfEnsurePersisted]]'s fit-once
    * store). Newly arriving (vec_id, embedding) rows are assigned to
    * the PERSISTED centroids — the fit never reruns, so cell ids of
    * already-indexed vectors never move — and appended to an
    * `ivf_cells_stream` code table under the same idempotent
    * batch=<id> stage+rename protocol as [[streamToTable]]. Assignment
    * uses the broadcast-relation lane ([[graft.queries.Similarity
    * .ivfAssignBroadcast]]): the K x dim centroid state rides as one
    * broadcast row however large K grows, cells are bit-equal to the
    * batch kernel (IvfBroadcastSpec), and each micro-batch costs one
    * map-side pass over its own rows — no corpus rescan, no shuffle.
    * At 100 TB this is how the ANN store absorbs a continuous ingest
    * feed: codes accumulate append-only, queries read base + stream
    * cells unioned, and a periodic refit is a REBUILD decision (like
    * the reference's REINDEX), not a streaming concern. */
  def streamingIvfAdd(spark: SparkSession, srcDir: String, storeDir: String,
                      checkpointDir: String): Unit = {
    graft.functions.VectorFns.register(spark)
    val cs = graft.queries.Similarity.ivfLoadCentroids(spark, storeDir)
    val cdf = graft.queries.Similarity.centroidsDf(spark, cs)
    val q = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
      .parquet(srcDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val assigned = graft.queries.Similarity
          .ivfAssignBroadcast(batch, cdf)
          .select(col("vec_id"), col("cell"))
        commitBatch(batch.sparkSession.sparkContext.hadoopConfiguration,
          assigned, s"$storeDir/ivf_cells_stream", s"batch=$batchId", Seq.empty)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Stamp/verify a durable store's on-disk format version.
    *
    * New store (no committed data): writes `_format` = `version`.
    * Existing store with a matching `_format`: no-op. Existing store with
    * data but a missing or older `_format` (written by a previous code
    * version with an incompatible schema): fail fast with an explicit
    * regenerate message rather than letting the explicit-schema parquet
    * probe die on a type mismatch mid-stream. `formatDetail`, when
    * non-empty, is appended parenthetically to that message so each
    * store kind (minhash bands, semdedup vectors, ...) explains its own
    * versioning history accurately. */
  private[graft] def ensureStoreFormat(
      hconf: org.apache.hadoop.conf.Configuration, storeDir: String,
      dataRoot: String, version: Int, formatDetail: String = ""): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir).getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(storeDir, "_format")
    val dataPath = new org.apache.hadoop.fs.Path(dataRoot)
    val hasData = fs.exists(dataPath) &&
      fs.listStatus(dataPath).exists(n =>
        n.getPath.getName.startsWith("batch=") ||
          n.getPath.getName.startsWith("base_"))
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      require(found == version.toString,
        s"dedup store at $storeDir is format v$found but this build writes " +
          s"v$version; regenerate the store (delete $storeDir and the " +
          "checkpoint, then replay the source)")
    } else if (hasData) {
      val detail = if (formatDetail.isEmpty) "" else s" ($formatDetail)"
      throw new IllegalStateException(
        s"dedup store at $storeDir predates format versioning but this " +
          s"build writes v$version$detail; regenerate the " +
          s"store (delete $storeDir and the checkpoint, then replay the " +
          "source)")
    } else {
      val out = fs.create(marker, true)
      try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** Batch directories already committed under a durable-store root. */
  private def committedBatches(
      hconf: org.apache.hadoop.conf.Configuration, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** The store root's base GENERATION: every `batch=M` with M <= G has
    * been folded by [[compactStore]] into `<root>/base_G` (with `batch`
    * kept as a DATA column there) and is ignored by readers. -1 = no
    * compaction has run. */
  private def baseGenOf(
      hconf: org.apache.hadoop.conf.Configuration, root: String): Long = {
    val marker = new org.apache.hadoop.fs.Path(root, "_base")
    val fs = marker.getFileSystem(hconf)
    if (!fs.exists(marker)) -1L
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Read a durable-store root as of `belowBatch` (exclusive): the base
    * generation (if any) unioned with the live `batch=M` directories in
    * (G, belowBatch). `schemaDdl` is the full row schema INCLUDING the
    * partition-path columns and `batch` — in live dirs `batch` (and
    * pfx/vpfx) resolve from the path, in the base generation `batch` is
    * a data column; both reads use the same explicit schema and union by
    * name. None = nothing to read in that range (the probe's
    * store-is-empty fast path). */
  private[graft] def readStore(
      sess: SparkSession, hconf: org.apache.hadoop.conf.Configuration,
      root: String, schemaDdl: String,
      belowBatch: Long = Long.MaxValue): Option[DataFrame] = {
    val g = baseGenOf(hconf, root)
    val basePath = new org.apache.hadoop.fs.Path(root, s"base_$g")
    val fs = basePath.getFileSystem(hconf)
    val baseDf =
      if (g >= 0 && fs.exists(basePath))
        // belt-and-braces batch filter: compaction only ever folds
        // fully-committed batches (all < any live/replayed id), but the
        // strictly-below contract is cheap to restate as a column filter
        Some(sess.read.option("basePath", basePath.toString)
          .schema(schemaDdl).parquet(basePath.toString)
          .filter(col("batch") < belowBatch))
      else None
    val live = committedBatches(hconf, root)
      .filter(m => m > g && m < belowBatch)
    val liveDf =
      if (live.isEmpty) None
      else Some(sess.read.option("basePath", root).schema(schemaDdl)
        .parquet(live.map(m => s"$root/batch=$m"): _*))
    (baseDf, liveDf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
  }

  /** Parquet data files anywhere under `p` (recursively). */
  private def hasDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Compact a streaming admission store — the AO-segment merge of the
    * reference's `VACUUM` for append-optimized tables
    * (`/root/reference/src/backend/commands/vacuum.c`), applied to the
    * one-directory-per-committed-batch layout every streaming lane
    * accumulates: without it, `committedBatches` listings and the
    * decisions read-back are O(batches) (the r16 throughput row's
    * measured late-wave drift).
    *
    * Protocol (idempotent; safe BETWEEN micro-batches, including after a
    * crash that left a dangling partial commit):
    *   1. fold set = batch ids present in EVERY root of the store
    *      (bands [+ vectors] + decisions). Decisions are the LAST commit
    *      of the admission protocol, so a dangling bands/vectors-only
    *      batch (crash between commits) is NOT folded and replays
    *      exactly as before;
    *   2. per root: stage `base_G'` (G' = max folded id) holding the old
    *      base generation plus the folded batch dirs — `batch` becomes a
    *      data column, pfx/vpfx partitioning is PRESERVED so the probe's
    *      partition pruning survives compaction;
    *   3. atomically rename the stage to `base_G'`, then overwrite the
    *      `_base` marker. A crash before the marker leaves readers on
    *      the old generation (old base + batch dirs are still intact);
    *      a crash after it leaves superseded dirs that readers already
    *      ignore — both re-converge on the next call;
    *   4. lazily delete superseded dirs (folded batches, the old base,
    *      stray stages) — pure cleanup, idempotent.
    *
    * Returns the number of batch directories folded across all roots. */
  def compactStore(spark: SparkSession, storeDir: String): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(storeDir).getFileSystem(hconf)
    val roots = Seq("bands", "vectors", "decisions")
      .map(r => s"$storeDir/$r")
      .filter(r => fs.exists(new org.apache.hadoop.fs.Path(r)))
    if (roots.isEmpty) return 0
    val complete = roots.map(r => committedBatches(hconf, r).toSet)
      .reduce(_ intersect _)
    var folded = 0
    roots.foreach { root =>
      val rootPath = new org.apache.hadoop.fs.Path(root)
      // clear stray stages from a previous crashed attempt
      fs.listStatus(rootPath).map(_.getPath)
        .filter(_.getName.startsWith(".stage_base_"))
        .foreach(fs.delete(_, true))
      val oldG = baseGenOf(hconf, root)
      val fold = complete.filter(_ > oldG).toSeq.sorted
      if (fold.nonEmpty) {
        val newG = fold.max
        val oldBase = new org.apache.hadoop.fs.Path(root, s"base_$oldG")
        val newBase = new org.apache.hadoop.fs.Path(root, s"base_$newG")
        // partition layout of this root, discovered from the data
        // (bands partition on pfx, vectors on vpfx, decisions on none)
        val pcols = (fold.map(m => s"$root/batch=$m") :+ oldBase.toString)
          .map(new org.apache.hadoop.fs.Path(_)).filter(fs.exists)
          .flatMap(d => fs.listStatus(d).map(_.getPath.getName)
            .filter(n => n.contains("=") && !n.startsWith("batch=")))
          .map(_.split("=")(0)).distinct
        val sources =
          (if (oldG >= 0 && fs.exists(oldBase)) Seq(oldBase) else Seq.empty) ++
            fold.map(m => new org.apache.hadoop.fs.Path(s"$root/batch=$m"))
        val withData = sources.filter(hasDataFiles(fs, _))
        if (withData.nonEmpty) {
          // schema comes from the files themselves; per-source reads
          // union by name because `batch` is a data column in the base
          // but a path column in live dirs
          val merged = withData.map { src =>
            spark.read.option("basePath", src.toString)
              .parquet(src.toString)
              .withColumn("batch",
                if (src.getName.startsWith("batch="))
                  lit(src.getName.stripPrefix("batch=").toLong)
                else col("batch"))
          }.reduce(_ unionByName _)
          val stage = new org.apache.hadoop.fs.Path(root, s".stage_base_$newG")
          val w = merged.write.mode("overwrite")
          (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w)
            .parquet(stage.toString)
          require(fs.rename(stage, newBase),
            s"compaction rename failed: $stage -> $newBase")
        }
        // publish the new generation (readers switch atomically), then
        // lazily drop the superseded dirs
        val marker = new org.apache.hadoop.fs.Path(root, "_base")
        val out = fs.create(marker, true)
        try out.write(s"$newG\n".getBytes("UTF-8")) finally out.close()
        fold.foreach(m =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=$m"), true))
        if (oldG >= 0 && oldG != newG) fs.delete(oldBase, true)
        folded += fold.size
      }
    }
    folded
  }

  /** Idempotent stage+rename commit of one batch's rows as `root/name`:
    * skipped when that directory exists; otherwise written to a
    * dot-prefixed stage, invisible to readers, then renamed into place. */
  private def commitBatch(
      hconf: org.apache.hadoop.conf.Configuration, df: DataFrame,
      root: String, name: String, partitionCols: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    val dst = new org.apache.hadoop.fs.Path(root, name)
    if (!fs.exists(dst)) {
      val staged = new org.apache.hadoop.fs.Path(root, s".stage_$name")
      fs.delete(staged, true)
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(staged.toString)
      require(fs.rename(staged, dst), s"rename failed: $staged -> $dst")
    }
  }

  /** Streaming near-duplicate ADMISSION — the ingestion-time face of
    * the MinHash-LSH batch dedup (`Dedup.minhashCandidates`): every
    * arriving document is checked against the persisted band store of
    * previously ADMITTED documents and either admitted (its 8 band
    * signatures join the store) or rejected as a near-duplicate. This
    * is how a 100 TB training-data pipeline runs continuous dedup: the
    * corpus is never rescanned; each micro-batch costs one map-side
    * signature pass over its own rows plus one partition-PRUNED store
    * probe.
    *
    * Admission contract (deterministic, replayed literally by the
    * spec's independent oracle):
    *   1. a doc matching ANY (band, sig) already in the store is
    *      rejected (greedy first-wins across batches — matching a
    *      previously REJECTED doc does not reject, exactly like the
    *      batch lanes' id-minimal survivor policy);
    *   2. among the remaining docs of one batch, ties collapse to the
    *      minimum doc_id per bucket (one pass, the same id-minimal
    *      policy);
    *   3. admitted docs' bands are appended. Since a doc is admitted
    *      only when NO band matched, and within-batch sig sharers
    *      collapsed, the store's (band, sig) keys stay UNIQUE — the
    *      store probe is a key-join with no fan-out, and store growth
    *      is <= 8 rows per admitted doc regardless of duplicate
    *      pressure.
    *
    * Store layout `<storeDir>/bands/batch=M/pfx=P/` (parquet): batch is
    * the idempotent-commit unit (stage+rename exactly like
    * [[streamingIvfAdd]]; a restarted batch skips its committed work),
    * pfx = hash(band, sig) mod 16 is the PRUNING key — the probe
    * filters to the batch's own prefixes, so at scale the store scan
    * touches only matching partitions (PlanSpec-style pruning is
    * asserted by the spec). Recovery: the probe reads only batches
    * STRICTLY BELOW the current id, so a crash between the bands
    * commit and the decisions commit replays the batch against exactly
    * the pre-batch store — decisions are reproduced bit-identically,
    * never self-matched. Decisions land in
    * `<storeDir>/decisions/batch=M` under the same protocol and the
    * final table (doc_id, is_dup, batch) is returned. */
  def streamingMinhashDedup(spark: SparkSession, srcDir: String,
                            storeDir: String,
                            checkpointDir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bandsRoot = s"$storeDir/bands"
    val decRoot = s"$storeDir/decisions"
    // v2: band signatures are xxhash64 BIGINTs (v1 stored decimal-joined
    // STRINGs). A restart over a v1 store would fail the explicit-schema
    // probe with an opaque parquet type mismatch; refuse up front instead.
    ensureStoreFormat(hconf, storeDir, bandsRoot, version = 2,
      formatDetail = "minhash band store: v1 stored STRING signatures, " +
        "v2 stores BIGINT xxhash64")

    def commit(df: DataFrame, root: String, batchId: Long,
               partitionCols: Seq[String]): Unit =
      commitBatch(hconf, df, root, s"batch=$batchId", partitionCols)

    val q = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // pin the frames multiple actions reuse: without this the whole
        // shingle->minhash DAG re-executes for every downstream action
        // (pfx collect + 2 commits = 3x), and every re-execution leaves
        // fresh shuffle/broadcast state for the GC-driven ContextCleaner
        // to lag behind (the r18 drift mechanism). Explicit unpersist
        // frees the blocks at batch end — not at the next driver GC.
        val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def pin(df: DataFrame): DataFrame = { pinned += df; df.persist() }
        try {
        val b = pin(graft.queries.Dedup.minhashBands(batch)
          .withColumn("pfx", pmod(hash(col("band"), col("sig")), lit(16))))
        // the batch's own prefixes: <= 16 values of bounded driver state
        val pfxs = b.select("pfx").distinct().collect().map(_.getInt(0)).toSeq
        // explicit schema: an all-tiny-docs batch commits an EMPTY
        // bands dir, which must not break inference on later probes;
        // readStore folds in the compacted base generation (if any)
        val store = readStore(sess, hconf, bandsRoot,
          "band INT, sig BIGINT, owner_doc BIGINT, pfx INT, batch BIGINT",
          belowBatch = batchId)
        val storeHit = pin(store match {
          case Some(st) if pfxs.nonEmpty =>
            b.join(st.filter(col("pfx").isin(pfxs: _*)), // partition-pruned
                Seq("band", "sig"))
              .select(col("doc_id")).distinct()
          case _ => batch.select(col("doc_id")).limit(0)
        })
        val remaining = b.join(storeHit, Seq("doc_id"), "left_anti")
        // rule 2: a doc above its (band, sig) bucket's minimum collapses
        // into that minimum (one shuffle on the bucket, no self-join)
        val withinDup = pin(remaining
          .withColumn("bmin",
            min(col("doc_id")).over(Window.partitionBy("band", "sig")))
          .filter(col("doc_id") > col("bmin"))
          .select(col("doc_id")).distinct())
        val dupIds = storeHit.union(withinDup).distinct()
          .withColumn("is_dup", lit(true))
        val decisions = batch.select(col("doc_id"))
          .join(dupIds, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
        val admittedBands = remaining
          .join(withinDup, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("sig"), col("pfx"))
          .agg(min(col("doc_id")).as("owner_doc"))
        // bands FIRST, decisions second: the probe above ignores the
        // current batch's bands, so a crash between the two commits
        // replays this batch bit-identically on restart
        commit(admittedBands, bandsRoot, batchId, Seq("pfx"))
        commit(decisions, decRoot, batchId, Seq.empty)
        } finally pinned.foreach(_.unpersist(false))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    readStore(spark, spark.sparkContext.hadoopConfiguration, decRoot,
      "doc_id BIGINT, is_dup BOOLEAN, batch BIGINT")
      .getOrElse(spark.range(0).selectExpr("id AS doc_id",
        "CAST(null AS BOOLEAN) AS is_dup", "id AS batch"))
  }

  /** Streaming SEMANTIC-duplicate admission — the embedding face of
    * [[streamingMinhashDedup]] and the ingestion-time face of the batch
    * `d_semdedup_lsh` lane: every arriving vector is sign-LSH-banded
    * (the SAME fused `SignSig` signature and 5x12 geometry as the batch
    * path), probed against the persisted band store of previously
    * ADMITTED vectors, and rejected iff a band-sharing store owner
    * verifies at cosine >= SemTau. Unlike minhash (where a band
    * collision IS the duplicate signal by contract), the semantic lane
    * adds the exact-cosine verification step — band collisions below
    * the threshold admit normally.
    *
    * Admission contract (deterministic; replayed literally by
    * StreamingSemdedupSpec's independent oracle):
    *   1. a vector sharing ANY (band, key) with a store bucket whose
    *      OWNER verifies at cosine >= SemTau is rejected (greedy
    *      first-wins across batches — SemDeDup's lower-id drop applied
    *      in arrival order);
    *   2. among the remaining vectors of one batch, each (band, key)
    *      bucket's minimum vec_id is the center; a higher-id member is
    *      rejected iff it verifies at >= SemTau against the center
    *      (the batch star kernel's within-bucket policy);
    *   3. admitted vectors append (vec_id, v, nrm) to the vector store
    *      and claim UNOWNED (band, key) buckets, minimum vec_id winning
    *      a contested claim — so store band keys stay UNIQUE and the
    *      probe is a key join with no fan-out (an admitted non-duplicate
    *      sharing an owned bucket leaves it unchanged; future arrivals
    *      verify against the bucket owner, exactly the bounded-star
    *      witness contract of the batch lane).
    *
    * Scale shape: each micro-batch costs one map-side signature pass
    * over its own rows, one pfx-PRUNED store-band probe (<= 16 driver
    * values), and a candidate-bounded vector fetch (vpfx-pruned) for
    * verification — the corpus is never rescanned and store growth is
    * <= bands rows + 1 vector row per admitted vector. Commit protocol:
    * vectors and bands (stage+rename, idempotent) BEFORE decisions, so
    * a crash between commits replays the batch bit-identically. */
  def streamingSemdedupAdmission(spark: SparkSession, srcDir: String,
                                 storeDir: String,
                                 checkpointDir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bandsRoot = s"$storeDir/bands"
    val vecsRoot = s"$storeDir/vectors"
    val decRoot = s"$storeDir/decisions"
    ensureStoreFormat(hconf, storeDir, bandsRoot, version = 1,
      formatDetail = "semdedup store: v1 is the first banded " +
        "(SignSig 5x12) layout")
    val tau = graft.queries.Similarity.SemTau

    val q = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
      .parquet(srcDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        graft.functions.VectorFns.register(sess)
        // HALF_UP 6-dp cosine — the keep/drop authority the batch lanes
        // share with the DuckDB oracle (Spark round() is HALF_UP).
        // nanvl: a zero-norm pair divides 0/0 = NaN, and Spark SQL's NaN
        // ordering would make NaN >= tau TRUE while the spec's Scala
        // replay reads it FALSE — pin NaN below every threshold so the
        // stream and the oracle agree on degenerate input.
        def cos6(v: org.apache.spark.sql.Column, nrm: org.apache.spark.sql.Column,
                 ov: org.apache.spark.sql.Column,
                 onrm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          nanvl(round(call_function("vec_dot", v, ov) / sqrt(nrm * onrm), 6),
            lit(-1d))
        // pin multi-action frames (same rationale as the minhash lane):
        // the signature pass, store probe, and verification joins would
        // otherwise re-execute for every downstream action (2 collects +
        // 3 commits), multiplying both CPU and the per-wave shuffle/
        // broadcast garbage the ContextCleaner only frees on driver GC
        val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def pin(df: DataFrame): DataFrame = { pinned += df; df.persist() }
        try {
        val b = pin(graft.queries.Dedup.embeddingBanded(batch)
          .withColumnRenamed("doc_id", "vec_id")
          .withColumn("pfx", pmod(hash(col("band"), col("key")), lit(16))))
        // the batch's own prefixes: <= 16 values of bounded driver state
        val pfxs = b.select("pfx").distinct().collect().map(_.getInt(0)).toSeq
        // band + vector stores as of this batch (compacted base + live)
        val bandStoreOpt = readStore(sess, hconf, bandsRoot,
          "band INT, key BIGINT, owner_vec BIGINT, pfx INT, batch BIGINT",
          belowBatch = batchId)
        val storeRejected: DataFrame = pin(bandStoreOpt match {
          case None => batch.select(col("vec_id")).limit(0)
          case _ if pfxs.isEmpty => batch.select(col("vec_id")).limit(0)
          case Some(bandStore) =>
            val cand = pin(b.join(
                bandStore.filter(col("pfx").isin(pfxs: _*)), // pruned probe
                Seq("band", "key"))
              .select(col("vec_id"), col("v"), col("nrm"), col("owner_vec"))
              .distinct())
            // owners' vectors, vpfx-pruned: candidate owners name <= 16
            // vector-store prefixes — bounded driver state again
            val opfxs = cand
              .select(pmod(hash(col("owner_vec")), lit(16)).as("vpfx"))
              .distinct().collect().map(_.getInt(0)).toSeq
            val vstore = readStore(sess, hconf, vecsRoot,
              "vec_id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, " +
                "vpfx INT, batch BIGINT", belowBatch = batchId)
              .map(_.filter(col("vpfx").isin(opfxs: _*))
                .select(col("vec_id").as("owner_vec"), col("v").as("ov"),
                  col("nrm").as("onrm")))
              .getOrElse(cand.select(col("owner_vec"),
                col("v").as("ov"), col("nrm").as("onrm")).limit(0))
            cand.join(vstore, "owner_vec")
              .filter(cos6(col("v"), col("nrm"), col("ov"), col("onrm")) >= tau)
              .select(col("vec_id")).distinct()
        })
        val remaining = b.join(storeRejected, Seq("vec_id"), "left_anti")
        // within-batch: bucket center = min id among remaining; members
        // verify against the center only (the star witness contract)
        val centers = remaining.groupBy(col("band"), col("key"))
          .agg(min(col("vec_id")).as("center"))
        val centerVecs = remaining
          .select(col("vec_id").as("center"), col("v").as("cv"),
            col("nrm").as("cnrm")).distinct()
        val withinRejected = pin(remaining
          .join(centers, Seq("band", "key"))
          .filter(col("vec_id") > col("center"))
          .join(centerVecs, "center")
          .filter(cos6(col("v"), col("nrm"), col("cv"), col("cnrm")) >= tau)
          .select(col("vec_id")).distinct())
        val rejected = storeRejected.union(withinRejected).distinct()
          .withColumn("is_dup", lit(true))
        val decisions = batch.select(col("vec_id"))
          .join(rejected, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
        val admittedBandRows = pin(remaining
          .join(withinRejected, Seq("vec_id"), "left_anti"))
        val admittedVecs = admittedBandRows
          .select(col("vec_id"), col("v"), col("nrm"))
          .distinct()
          .withColumn("vpfx", pmod(hash(col("vec_id")), lit(16)))
        // claim only UNOWNED buckets (store keys stay unique): a bucket
        // key not colliding with the pruned probe cannot be owned, since
        // pfx is a function of (band, key)
        val ownedKeys = bandStoreOpt match {
          case Some(bandStore) if pfxs.nonEmpty =>
            bandStore.filter(col("pfx").isin(pfxs: _*))
              .select(col("band"), col("key"))
          case _ => admittedBandRows.select(col("band"), col("key")).limit(0)
        }
        val admittedBands = admittedBandRows
          .join(ownedKeys, Seq("band", "key"), "left_anti")
          .groupBy(col("band"), col("key"), col("pfx"))
          .agg(min(col("vec_id")).as("owner_vec"))
        // store state FIRST, decisions second: the probe ignores the
        // current batch, so a crash between commits replays identically
        commitBatch(hconf, admittedVecs, vecsRoot, s"batch=$batchId", Seq("vpfx"))
        commitBatch(hconf, admittedBands, bandsRoot, s"batch=$batchId", Seq("pfx"))
        commitBatch(hconf, decisions, decRoot, s"batch=$batchId", Seq.empty)
        } finally pinned.foreach(_.unpersist(false))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    readStore(spark, spark.sparkContext.hadoopConfiguration, decRoot,
      "vec_id BIGINT, is_dup BOOLEAN, batch BIGINT")
      .getOrElse(spark.range(0).selectExpr("id AS vec_id",
        "CAST(null AS BOOLEAN) AS is_dup", "id AS batch"))
  }
}
