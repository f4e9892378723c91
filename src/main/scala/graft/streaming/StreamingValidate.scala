package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming re-expression of the reference's stateful ingest path
  * (SURVEY §2.8): per-key FIFO + watermark eviction + last-known-normal state.
  *
  * The reference pumps each entity's metrics through an unbounded in-memory
  * queue with per-entity worker goroutines (pkg/iqueue/queue.go:48-75,
  * manager.go:486-515) and keeps a `normVectors[entity]` map of the last
  * non-outlier vector to attach to alerts (manager.go:234,395-407). Here:
  *  - micro-batches replace the queue (ordering within key via event time),
  *  - `withWatermark` replaces the timed eviction sweeps (W3/ST8),
  *  - `flatMapGroupsWithState` holds the last-known-normal per key (ST4) —
  *    Spark's per-key serial state update is *stronger* than the reference's
  *    racy N-workers-per-entity (SURVEY ST2 note).
  *
  * Scale: state is O(#keys), shuffled once by key; watermark bounds state for
  * windowed aggs. Both operators survive a 1000-executor deploy unchanged.
  */
object StreamingValidate {

  /** Default `maxFilesPerTrigger` for [[incrementalValidate]]: at typical
    * crawl-shard sizes (128 MB–1 GB parquet files) one micro-batch is then
    * 8–64 GB spread across the cluster — comfortably inside executor
    * memory with room for the per-batch joins, while a steady-state daily
    * tick (a handful of files) still lands in a single batch.
    */
  val DefaultMaxFilesPerTrigger = 64

  /** Event-time windowed per-lang stats with late-data eviction (ST10/ST11):
    * tumbling windows over warc_ts, watermarked. Works identically on batch
    * frames (watermark is a no-op there) — used by tests for both modes.
    */
  def windowedLangStats(pages: DataFrame, watermarkDelay: String = "1 hour",
      windowLen: String = "1 day"): DataFrame =
    pages
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowLen).as("win"), col("lang"))
      .agg(
        count(lit(1)).as("row_cnt"),
        sum(col("text").isNull.cast("long")).as("null_text"))
      .select(col("win.start").as("win_start"), col("lang"),
        col("row_cnt"), col("null_text"))

  /** Cross-batch uniqueness via PER-BATCH RECONCILIATION against the
    * accumulated pages table (SURVEY J5 at stream scope — the last semantic
    * gap between `ingest` and batch `validate`; the reference's model state
    * is cross-batch, manager.go:232-234): before a micro-batch commits, its
    * rows are left-joined against the DISTINCT urls already in
    * `outDir/pages`, and matches become [[graft.engine.Constraints
    * .SeenPriorBatch]] violations. The accumulated table IS the seen-keys
    * state — no state store, which buys four properties a
    * `flatMapGroupsWithState` stage cannot deliver together on this path:
    *   - `Trigger.AvailableNow` ticks TERMINATE (a ProcessingTimeTimeout
    *     stateful operator requests "one more batch" unconditionally —
    *     `shouldRunAnotherBatch` is hardwired true — so a tick never ends;
    *     observed, not theorized);
    *   - no event-time watermark, so LATE pages are never silently dropped
    *     from the sink (watermark filtering runs before stateful
    *     operators — unacceptable for an ingest path);
    *   - exact answers with no eviction horizon and no extra state to
    *     bound — duplicates are detected as far back as the table itself;
    *   - replay-idempotent for free: detection EXCLUDES the current
    *     (lineage, ingest_batch) partition, so a replayed batch never
    *     flags its own earlier crash-interrupted output, and a RECREATED
    *     checkpoint (new lineage re-reading the same files) correctly
    *     flags its rows — they genuinely duplicate urls already in the
    *     output table.
    * Within-batch duplicates remain the within-batch [[graft.engine
    * .Constraints.Unique]] check's business (`seen prior` is strictly
    * about EARLIER batches), keeping the two checks disjoint.
    *
    * Scale: the cost is one url-column scan of the accumulated table plus
    * a distinct+join shuffle per micro-batch — O(history) per tick, the
    * price of a table-global invariant (same argument as ledger-resume's
    * full-frame uniqueness). Parquet reads ONLY the url/lineage/
    * ingest_batch columns (projection pushdown); for high-frequency
    * triggers over a huge table, set `crossBatchUnique = false` and let
    * the periodic batch validator own the global check instead.
    */
  private[streaming] def withSeenPriorFlag(df: DataFrame, outDir: String,
      lineage: String, batchId: Long): DataFrame = {
    val spark = df.sparkSession
    val seenFlag = graft.engine.Constraints.SeenPriorBatch.flagColumn
    val pagesPath = new org.apache.hadoop.fs.Path(s"$outDir/pages")
    val fs = pagesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pagesPath)) df.withColumn(seenFlag, lit(false))
    else {
      // ignoreMissingFiles: a concurrent `compact-stream` deletes absorbed
      // batch dirs AFTER its roll-up commit; a task that planned against
      // the pre-delete listing must not kill the STREAM over a file whose
      // rows either are also visible in the roll-up (listing saw both) or
      // will be back in scope next tick (listing saw only the sources).
      // Worst case is one tick under-flagging duplicates from the absorbed
      // dirs — bounded, self-healing; prefer scheduling compaction in a
      // maintenance window anyway.
      val priorUrls = spark.read.option("ignoreMissingFiles", "true")
        .parquet(pagesPath.toString)
        .where(!(col("lineage") === lineage && col("ingest_batch") === batchId))
        .select(col("url"))
      // r6 (guide §2.3, the dupGroups idiom): the distinct below previously
      // shuffled EVERY distinct url string in the accumulated table, every
      // tick. The current batch's 64-bit url-hash set is bounded by the
      // trigger size, so the history scan now forwards only
      // hash-colliding CANDIDATES into the distinct exchange — per-tick
      // shuffle drops from O(history urls) to O(batch-matching candidates).
      // Semantics are exact: equal urls hash equal (no false negatives) and
      // a hash collision's false positive is dropped by the exact url
      // equality of the left join. The scan itself remains O(history) —
      // that is the documented table-global-invariant price above; only a
      // seen-url digest sidecar removes it. Cost: one extra bounded
      // evaluation of the batch frame to mine the hashes. The semi join
      // carries no hint (graft.engine.Broadcasts rule 1): the hash set is an
      // aggregate over the batch, so its estimate is an upper bound — it
      // broadcasts under the threshold, and an unbounded first tick plans
      // a shuffle join instead of OOMing the driver.
      val batchHashes =
        df.select(xxhash64(col("url")).as("__sp_h")).distinct()
      val prior = priorUrls
        .withColumn("__sp_ph", xxhash64(col("url")))
        .join(batchHashes, col("__sp_ph") === col("__sp_h"), "left_semi")
        .drop("__sp_ph")
        .distinct() // ≤1 match per url keeps the left join row-preserving
        .withColumn(seenFlag, lit(true))
      df.join(prior, Seq("url"), "left")
        .withColumn(seenFlag, coalesce(col(seenFlag), lit(false)))
    }
  }

  /** Continuous baseline maintenance dial (ST5 — the reference accumulates
    * its model on every ingest under allowAppendOutlier,
    * manager.go:409-418). After each micro-batch COMMITS, the batch's
    * per-partition profiles are folded into the versioned
    * [[graft.engine.BaselineStore]] at `dir` and the in-flight baseline is
    * reloaded, so later batches score against a model that absorbs slow,
    * clean change — while a sudden shift FAILS drift, is excluded under
    * policy "strict", and therefore keeps alerting against the unpolluted
    * model (exactly allowAppendOutlier=false). Policy "all" folds every
    * scored partition, outliers included (allowAppendOutlier=true).
    * `holder` carries the live baseline map across batches of one stream.
    */
  final case class BaselineRefresh(
      dir: String,
      policy: String, // "strict" | "all"
      holder: java.util.concurrent.atomic.AtomicReference[
        Map[String, IndexedSeq[Array[Double]]]])

  private def refreshFor(baselineDir: Option[String], policy: String,
      initial: Map[String, IndexedSeq[Array[Double]]]): Option[BaselineRefresh] =
    policy match {
      case "off" => None
      case p @ ("strict" | "all") =>
        val dir = baselineDir.getOrElse(throw new IllegalArgumentException(
          "baselineRefresh requires a baselineDir to fold into"))
        Some(BaselineRefresh(dir, p,
          new java.util.concurrent.atomic.AtomicReference(initial)))
      case other => throw new IllegalArgumentException(
        s"unknown baselineRefresh policy '$other' (off|strict|all)")
    }

  /** Micro-batched validated sink — the write-behind buffer (ST3,
    * db_tx_executor.go:51-79) re-expressed: each micro-batch runs the FULL
    * configured check suite and appends pages + violations + verdicts to
    * parquet in one commit cycle. Flush size/interval become the stream
    * trigger; the "final flush on shutdown" is the stream's normal stop
    * semantics.
    *
    * CHECK-SUITE PARITY with the batch flagship: the reference scores EVERY
    * ingested batch against the model (manager.go:385 → lof.go:106-118) —
    * its `/collect` path is scoring-on-ingest, not validation-lite. So this
    * sink defaults to [[graft.engine.Validator.DefaultChecks]] (stats +
    * NotNull×3 + within-batch Unique + ByteIdenticalText) and, when
    * `baselineDir` points at a [[graft.engine.Validator.saveBaseline]]
    * snapshot, drift-scores each micro-batch's partitions against that green
    * baseline — the streaming analog of scoring-on-ingest. Uniqueness runs
    * at BOTH scopes by default: within-batch via [[graft.engine.Validator
    * .DefaultChecks]]' Unique, and across batches via the reconciliation
    * stage ([[withSeenPriorFlag]], `crossBatchUnique`); the periodic batch
    * validator remains the table-wide authority (same contract as
    * ledger-resume's globalFrame). Baseline profiles are loaded once at
    * stream construction and, with `baselineRefresh` non-off, refreshed
    * after every committed batch (see [[BaselineRefresh]]).
    */
  def validatedSink(pages: org.apache.spark.sql.DataFrame, outDir: String,
      checkpointDir: String,
      checks: Seq[graft.engine.Constraints.Check] =
        graft.engine.Validator.DefaultChecks,
      baselineDir: Option[String] = None,
      alertEndpoint: Option[String] = None,
      /** Cross-batch duplicate-url reconciliation (see
        * [[withSeenPriorFlag]]). Default ON — batch/streaming semantic
        * parity; turn off to skip the per-batch history scan when the
        * periodic batch validator owns the global check.
        */
      crossBatchUnique: Boolean = true,
      /** "off" (frozen green snapshot, the historical behavior), "strict"
        * or "all" — see [[BaselineRefresh]]. Non-off requires baselineDir.
        */
      baselineRefresh: String = "off"): StreamingQuery = {
    val baseline = baselineDir
      .map(graft.engine.Validator.loadBaseline(pages.sparkSession, _))
      .getOrElse(Map.empty[String, IndexedSeq[Array[Double]]])
    val refresh = refreshFor(baselineDir, baselineRefresh, baseline)
    // drain leftover spooled alerts once at stream start: a long-running
    // stream that goes idle (or sees only empty batches, which skip the
    // per-batch path) must still deliver what spooled while the endpoint
    // was down — at worst delivery waits for the next batch OR restart
    alertEndpoint.foreach(drainLeftoverAlerts(pages.sparkSession, outDir, _))
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeValidatedBatch(batch.toDF(), outDir, lineageOf(batch.sparkSession),
          batchId, checks,
          refresh.map(_.holder.get()).getOrElse(baseline),
          alertEndpoint, crossBatchUnique, refresh)
      }
      .start()
  }

  /** The spool every alert-enabled sink/tick shares, rooted under the
    * output dir so a down endpoint's alerts survive process restarts.
    * private[graft]: `graft.Main drain-alerts` drains the same spool.
    */
  private[graft] def alertSpoolDir(outDir: String): String =
    s"$outDir/_alert_spool"

  /** Best-effort drain of previously spooled alerts — NonFatal-guarded:
    * alerting failure (endpoint OR spool filesystem) never fails the
    * stream; undelivered payloads stay spooled for the next attempt.
    * The result is LOGGED when it carries signal: a recovery that happens
    * through this tick-start drain (no new data → no per-batch line) must
    * not leave the last logged state at "pending=K" forever.
    */
  private def drainLeftoverAlerts(spark: SparkSession, outDir: String,
      endpoint: String): Unit =
    try {
      val res = AlertSink.drainSpool(spark, alertSpoolDir(outDir), endpoint)
      if (res.posted > 0 || res.unfinished)
        System.err.println(
          s"[graft-streaming] alerts tick-start drain: ${res.summary}")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft-streaming] alert spool drain failed " +
          s"(${e.getClass.getSimpleName}) — alerts stay spooled for retry")
    }

  /** The stream's stable query id — persisted in the checkpoint, stable
    * across restarts of the same checkpoint, fresh for a new/recreated one.
    * This is the discriminator that makes `ingest_batch` ids safe: batch ids
    * restart from 0 whenever a checkpoint is recreated, so keying idempotent
    * overwrites on the batch id alone would let a new lineage silently
    * REPLACE an old lineage's partitions. Read from the engine-set local
    * property on the stream-execution thread (the thread foreachBatch runs
    * on) — no parsing of checkpoint internals; FAILS LOUDLY if absent,
    * because a fallback constant would collapse all lineages into one and
    * quietly reinstate the clobbering.
    */
  private def lineageOf(spark: SparkSession): String = {
    val id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    require(id != null && id.nonEmpty,
      "streaming query id not present on this thread — writeValidatedBatch " +
        "must run inside foreachBatch")
    id
  }

  /** One micro-batch of the validated sink: partition, run the FULL
    * validation pass (stats + checks + drift vs the baseline), write pages +
    * violations + verdicts (one commit cycle = one flush, ST3). With no
    * baseline, drift falls back to leave-one-out across the batch's own
    * partitions (single-partition batches get `skipped` drift verdicts —
    * the scorers' small-baseline guards, same as the batch path's warm-up).
    *
    * Exactly-once under foreachBatch's at-least-once replay contract: each
    * batch's rows land in their own `lineage=<qid>/ingest_batch=<id>`
    * partition via DYNAMIC partition overwrite, so a replayed batch (crash
    * between the data write and the checkpoint commit) REPLACES its earlier
    * partial output instead of double-appending, and a fresh checkpoint
    * (new lineage, batch ids restarting at 0) appends beside prior
    * lineages instead of clobbering them. Readers scan the whole tree; the
    * event-time `partition` column rides along as a data column. Layout v2
    * — not readable mixed with the pre-r2 flat-append layout; use a fresh
    * outDir when upgrading.
    */
  private[streaming] def writeValidatedBatch(df: DataFrame, outDir: String,
      lineage: String, batchId: Long,
      checks: Seq[graft.engine.Constraints.Check] =
        graft.engine.Validator.DefaultChecks,
      baselineProfiles: Map[String, IndexedSeq[Array[Double]]] = Map.empty,
      alertEndpoint: Option[String] = None,
      crossBatchUnique: Boolean = false,
      refresh: Option[BaselineRefresh] = None): Unit = {
    import graft.engine.Validator
    {
      // cross-batch reconciliation attaches the marker column; promote it
      // to a first-class check for this pass and strip it before anything
      // is written (it is pass metadata, not page content)
      val seenFlag = graft.engine.Constraints.SeenPriorBatch.flagColumn
      val hasSeenFlag = crossBatchUnique
      val effChecks =
        if (hasSeenFlag) checks :+ graft.engine.Constraints.SeenPriorBatch
        else checks
      // The flagged frame is consumed by several actions (stats agg, three
      // writes): persist it so the history-scan join behind the flag runs
      // ONCE per batch, not once per action. MEMORY_AND_DISK because html
      // payloads can exceed the memory fraction (bounded by the trigger
      // size either way). The stateless path keeps its cache-free
      // two-traversal shape — re-reading the source parquet is cheaper
      // than caching it.
      val src =
        if (hasSeenFlag) {
          // cross-batch mode gates empty batches on the RAW batch frame
          // FIRST: the stats gate below would otherwise execute the
          // reconciliation join — an O(accumulated-history) url scan +
          // distinct shuffle — just to learn the batch holds zero rows.
          // One cheap probe job over the batch's own files buys that out.
          if (df.head(1).isEmpty) return
          withSeenPriorFlag(df, outDir, lineage, batchId)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        } else df
      // null warc_ts (legal input) folds into "<unknown>" — same sentinel
      // as batch `validate`; a null key would NPE the baseline-refresh
      // sort and slip through null-escaping `=!=` verdict filters
      val withPart = src.withColumn("partition",
        coalesce(date_format(col("warc_ts"), "yyyy-MM-dd"),
          lit(graft.engine.Validator.UnknownPartition)))
      def idempotent(out: DataFrame, path: String): Unit = {
        guardLayout(out.sparkSession, path)
        out.withColumn("lineage", lit(lineage))
          .withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("lineage", "ingest_batch").parquet(path)
      }
      // the SAME pass as batch `validate` — one fused stats+profiles agg,
      // one fused row-check scan, within-batch uniqueness, drift scoring
      val res = Validator.validate(withPart, Validator.Config(effChecks),
        baselineProfiles)
      try {
        // Empty-batch gate off the pass's OWN (cached, O(#partitions)) stats
        // frame: zero stats rows ⇔ zero input rows. This replaces a
        // dedicated `df.isEmpty` probe that cost one extra no-op job on
        // EVERY micro-batch — the stats materialization below is work the
        // non-empty path needs anyway, and WITHOUT the cross-batch join in
        // the plan (the hasSeenFlag path pre-gated above) an empty batch's
        // stats probe is a zero-task job over no files.
        if (res.stats.head(1).isEmpty) return
        idempotent(if (hasSeenFlag) withPart.drop(seenFlag) else withPart,
          s"$outDir/pages")
        idempotent(res.violations, s"$outDir/violations")
        idempotent(res.verdicts, s"$outDir/verdicts")
        // scoring-on-ingest ALERTS (the reference's collect→score→alert
        // loop, manager.go:385 → alert/alert.go): push this batch's
        // violations per entity, spooled under the output dir so a down
        // endpoint loses nothing. A CLEAN batch still drains the spool —
        // otherwise alerts spooled while the endpoint was down would sit
        // undelivered until the next violation happens to occur. Runs
        // AFTER the violations write: an alert is only ever sent for a
        // violation that is already durably recorded (replay of the batch
        // re-sends; receivers dedupe on violation_id). The whole block is
        // NonFatal-guarded: the isolation contract is "alerting failure
        // never fails the ingest commit", and that must hold for spool
        // FILESYSTEM errors (disk full mid-spool-write) as much as for
        // endpoint failures — POST errors are already contained inside
        // AlertSink, but the spool write/list paths can throw.
        alertEndpoint.foreach { ep =>
          val spool = alertSpoolDir(outDir)
          try {
            val push =
              if (!res.violations.isEmpty)
                AlertSink.push(res.violations, ep, spoolDir = Some(spool))
              else
                AlertSink.drainSpool(df.sparkSession, spool, ep)
            // one ops line per batch, unconditionally — suppressing the
            // all-zero line would hide the RECOVERY batch (backlog drains
            // to pending=0), leaving the last logged state "pending=K"
            // forever. The labeled formatter is PushResult.summary (one
            // copy for every drain site).
            System.err.println(
              s"[graft-streaming] alerts batch=$batchId: ${push.summary}")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft-streaming] alert push failed " +
                s"(${e.getClass.getSimpleName}: ${e.getMessage}) — ingest " +
                "commit unaffected; undelivered alerts remain spooled " +
                s"under $spool where the next tick retries them")
          }
        }
        // ST5 continuous baseline maintenance — runs AFTER the commit (the
        // model only ever absorbs durably-recorded data) and NonFatal-
        // guarded: a store hiccup leaves the stream on the previous
        // (stale but safe) baseline, never fails the ingest.
        refresh.foreach { r =>
          try {
            val failedParts: Set[String] =
              if (r.policy == "all") Set.empty
              else res.verdicts
                .where(!col("passed") && col("partition") =!= "<global>")
                .select(col("partition")).distinct()
                .collect().map(_.getString(0)).toSet
            // ("<unknown>" null-key rows are excluded inside
            // BaselineStore.merge — the one home of that rule)
            val rows = Validator.mergeRowsOf(res.stats)
              .filterNot(t => failedParts(t._1))
            if (rows.nonEmpty) {
              // dedupKey: a replayed micro-batch (foreachBatch is
              // at-least-once) must not fold its rows into the model twice
              val v = graft.engine.BaselineStore.merge(df.sparkSession,
                r.dir, rows, dedupKey = Some(s"$lineage/$batchId"))
              if (v >= 0)
                r.holder.set(
                  graft.engine.BaselineStore.loadMap(df.sparkSession, r.dir))
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft-streaming] baseline refresh " +
                s"failed (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
                "stream continues on the previous baseline snapshot")
          }
        }
      } finally {
        res.unpersist()
        if (hasSeenFlag) { src.unpersist(false); () }
      }
    }
  }

  /** Refuse to mix layout v2 (lineage=…/ingest_batch=…) into a directory
    * holding any other layout — Spark's partition discovery would make the
    * WHOLE dataset unreadable ("conflicting directory structures"), which is
    * far worse than failing the write with a clear message.
    */
  private def guardLayout(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val foreign = fs.listStatus(p).map(_.getPath.getName)
        .filterNot(n => n.startsWith("lineage=") || n.startsWith(".") || n.startsWith("_"))
      require(foreign.isEmpty,
        s"$path holds a different layout (${foreign.take(3).mkString(", ")}…); " +
          "the v2 sink writes lineage=…/ingest_batch=… partitions — use a " +
          "fresh output directory")
    }
  }

  /** Incremental / new-data ingest (S3): process ONLY files not seen by a
    * previous run — the reference's scrape poller re-expressed
    * (internal/scrape/scrape.go:105-213 polls targets on a ticker and feeds
    * the collect path). A file-source structured stream's checkpoint records
    * which input files were already ingested; `Trigger.AvailableNow` drains
    * everything new then stops, so one call = one poll tick, schedulable
    * exactly like the reference's Interval ticker. Day 2 of a daily crawl
    * costs one day of data, not a full-table re-read.
    *
    * Scale: file listing is driver-side metadata (Iceberg: incremental
    * snapshot scan instead); the per-batch work is the same fused row-check
    * DAG as the batch path.
    */
  def incrementalValidate(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String,
      checks: Seq[graft.engine.Constraints.Check] =
        graft.engine.Validator.DefaultChecks,
      baselineDir: Option[String] = None,
      alertEndpoint: Option[String] = None,
      /** Files per micro-batch: THE dial that bounds per-batch memory
        * (incl. the stateful stage's per-key slice — see
        * [[lastKnownNormalAlerts]]) and drives how much one
        * `Trigger.AvailableNow` tick chews per commit. Defaults to
        * [[DefaultMaxFilesPerTrigger]] so a FIRST-RUN BACKFILL over a
        * month of crawl is batched instead of arriving as one unbounded
        * slice (the memory hazard the stateful-stage scaladoc warns
        * about, previously only avoided if the operator knew to set the
        * flag). None = all available files in one batch — explicit
        * opt-in, not the silent default it used to be.
        */
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger),
      /** Cross-batch duplicate-url reconciliation (see
        * [[withSeenPriorFlag]]). Default ON; turn off to skip the
        * per-batch history scan when the periodic batch validator owns
        * the global check.
        */
      crossBatchUnique: Boolean = true,
      /** "off" (frozen green snapshot, the historical behavior), "strict"
        * or "all" — see [[BaselineRefresh]]. Non-off requires baselineDir.
        */
      baselineRefresh: String = "off"): StreamingQuery = {
    val baseline = baselineDir
      .map(graft.engine.Validator.loadBaseline(spark, _))
      .getOrElse(Map.empty[String, IndexedSeq[Array[Double]]])
    val refresh = refreshFor(baselineDir, baselineRefresh, baseline)
    // a tick with NO new input produces no micro-batch at all, so spooled
    // alerts from a down-endpoint tick would never retry through the
    // per-batch path — drain once per tick up front (no-op when empty)
    alertEndpoint.foreach(drainLeftoverAlerts(spark, outDir, _))
    // The two defaults COMPOSE quadratically on a first-run backfill: the
    // trigger bound splits N files into ~N/bound micro-batches, and each
    // batch's cross-batch reconciliation re-scans the accumulated pages
    // table — O(batches × history) url-column reads. Per-batch that is the
    // documented price of a global invariant; across a huge backfill it is
    // a surprise, so SAY so (the listing probe stops early — O(bound)
    // driver work, a fraction of the full listing the source does anyway).
    // FIRST-RUN only (no offsets committed yet): a steady-state tick's
    // listing is dominated by already-processed history, which would make
    // this warning fire forever and steer operators toward disabling a
    // check that is cheap for them. Purely advisory, so any probe error
    // (listing races with a producer, transient FS faults) is swallowed —
    // it must never add a crash path the streaming source itself tolerates.
    try {
      for (bound <- maxFilesPerTrigger if crossBatchUnique) {
        val conf = spark.sparkContext.hadoopConfiguration
        val offsets = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
        // each path on ITS OWN FileSystem: input and checkpoint routinely
        // live on different stores (s3a input, local/hdfs checkpoint) and
        // a cross-FS exists() throws "Wrong FS"
        val ckptFs = offsets.getFileSystem(conf)
        val inPath = new org.apache.hadoop.fs.Path(inDir)
        val fs = inPath.getFileSystem(conf)
        val firstRun = !ckptFs.exists(offsets) ||
          ckptFs.listStatus(offsets).isEmpty
        if (firstRun && fs.exists(inPath)) {
          val it = fs.listFiles(inPath, true)
          var n = 0
          while (it.hasNext && n <= bound * 4L) { it.next(); n += 1 }
          if (n > bound * 4L)
            System.err.println(s"[graft-streaming] first-run backlog " +
              s"exceeds 4x the $bound-files-per-trigger bound with " +
              "cross-batch uniqueness ON: every micro-batch will re-scan " +
              "all previously ingested urls (O(batches x history)). For a " +
              "large initial backfill consider --cross-batch-unique off " +
              "for this tick plus one batch `validate` afterwards, or " +
              "raise --max-files-per-trigger")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    val reader = spark.readStream
      .schema(graft.engine.WebSchema.expected)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeValidatedBatch(batch.toDF(), outDir, lineageOf(batch.sparkSession),
          batchId, checks,
          refresh.map(_.holder.get()).getOrElse(baseline),
          alertEndpoint, crossBatchUnique, refresh)
      }
      .start()
  }

  /** One scored page event entering the stateful stage. */
  final case class PageEvent(
      key: String, // grouping key (partition / domain / entity)
      url: String,
      warc_ts: Timestamp,
      violation: Boolean)

  /** Rolling per-key state: the last known-normal event (ST4). */
  final case class NormalState(url: String, warc_ts: Timestamp)

  /** Alert record: a violation plus the last-known-normal before it —
    * exactly the reference's alert payload shape {checked, norm}
    * (internal/alert/alert.go:56-61).
    */
  final case class Alert(
      key: String,
      url: String,
      warc_ts: Timestamp,
      norm_url: String, // null when no normal seen yet
      norm_ts: Timestamp)

  /** Per-key last-known-normal alert stream. For each group (micro-batch
    * slice of one key), events are processed in warc_ts order; violations
    * emit an Alert carrying the most recent non-violating event, which may
    * come from an earlier micro-batch (state persists).
    *
    * MEMORY BOUND, batch mode: the time ordering comes from the PLAN, not
    * from buffering — the input is repartitioned by key and sorted within
    * partitions by (key, warc_ts, url) BEFORE the stateful operator, whose
    * own requirements (hash-cluster by key, order by key) are then already
    * satisfied, so Spark inserts no further exchange or sort and the group
    * iterators arrive time-ordered (Tungsten's sort is disk-spilling, so a
    * hot key never holds its whole input on the task heap — the previous
    * `it.toSeq.sortBy` did exactly that and OOM'd on a domain emitting
    * millions of events in one backfill). The fold then streams the
    * iterator; per-key heap is O(alerts emitted), and alerts are rare by
    * the validation contract. A sortedness guard fails LOUDLY if a future
    * planner change ever re-plans the exchange (which would otherwise
    * silently scramble event order).
    *
    * Streaming mode CANNOT use that plan: Spark's analyzer rejects every
    * Sort on a streaming Dataset, local or global ("Sorting is not
    * supported on streaming DataFrames/Datasets" —
    * UnsupportedOperationChecker), so there is no way to combine sorted
    * group iterators with a state store. There the per-key slice is
    * buffered and sorted in the task (ArrayBuffer, sorted in place — no
    * extra copies), and the bound is the TRIGGER: a micro-batch holds at
    * most maxFilesPerTrigger/maxOffsetsPerTrigger worth of events, so
    * per-key heap ≤ micro-batch size by construction — size triggers to
    * executor heap, and route week-scale backfills through batch mode,
    * which has the spilling plan. (The reference's iqueue has the same
    * unbounded-within-flush shape.)
    *
    * State is BOUNDED in event time — the reference's maxStorageTime
    * eviction (internal/dispatcher/db_scheduler.go:35-48, config.go:15)
    * re-expressed: a key idle for longer than `stateHorizonMs` of event time
    * has its NormalState dropped via `EventTimeTimeout` once the watermark
    * passes its horizon. A later violation on that key gets a null norm_url,
    * matching the reference's cold start after eviction. Without this, a
    * long-running ingest over an open-ended key space (domains) accumulates
    * one state row per key forever and eventually OOMs the state store.
    *
    * TRADEOFF the bound buys: `EventTimeTimeout` requires a watermark, and a
    * watermark makes Spark DROP events older than it BEFORE this function
    * runs — an event arriving more than `watermarkDelay` behind the stream's
    * max event time produces NO alert, silently. The default is sized for
    * crawl reality: backfill lag routinely exceeds hours, so it is 7 DAYS —
    * loss only begins for events a week behind the stream's frontier, while
    * state is still bounded (eviction just trails by the same margin).
    * Callers with tighter latency/state budgets consciously dial it down;
    * week-plus backfills belong in the batch validator, which sees
    * everything. This is the same alert-loss-vs-bounded-state dial as
    * the reference's maxStorageTime=0 default (unbounded, never drops).
    * The choice is logged once per stream start so a production run's
    * loss horizon is visible in its logs, not just in code.
    * In batch mode (`events.isStreaming == false`) watermarks/timeouts don't
    * exist; the pass sees all data at once, so eviction is moot (batch
    * retention is [[graft.operators.Retention]]'s business).
    */
  def lastKnownNormalAlerts(
      events: Dataset[PageEvent],
      watermarkDelay: String = "7 days",
      stateHorizonMs: Long = 30L * 24 * 3600 * 1000): Dataset[Alert] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    if (streaming)
      System.err.println(s"[graft-streaming] lastKnownNormalAlerts watermark " +
        s"= $watermarkDelay: events arriving later than this behind the " +
        "stream frontier are dropped before alerting (state-bound tradeoff)")
    val src = if (streaming) events.withWatermark("warc_ts", watermarkDelay)
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // Batch: pre-shuffle + in-partition sort — grouping key FIRST (the
    // operator's required ordering is a prefix of ours → no re-sort), then
    // event time. groupBy(col).as[K,V] (not groupByKey(lambda)) keeps the
    // grouping expression the SAME `key` attribute the repartition hashed
    // on, so the distribution is recognized as satisfied and no second
    // exchange scrambles the order (StreamingSpec pins the plan shape).
    // Streaming: the analyzer forbids any Sort on a stream — group slices
    // are sorted in-task, bounded by the trigger (see scaladoc).
    val grouped =
      if (streaming) src.groupByKey(_.key)
      else src
        .repartition(col("key"))
        .sortWithinPartitions(col("key"), col("warc_ts"), col("url"))
        .groupBy(col("key")).as[String, PageEvent]
    grouped
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (key: String, rawIt: Iterator[PageEvent], state: GroupState[NormalState]) => {
          if (state.hasTimedOut) {
            // watermark passed this key's horizon with no new events: evict
            state.remove()
            Iterator.empty
          } else {
            val it: Iterator[PageEvent] =
              if (streaming) {
                val buf = rawIt.to(scala.collection.mutable.ArrayBuffer)
                buf.sortInPlaceBy(e => (e.warc_ts.getTime, e.url))
                buf.iterator
              } else rawIt // plan-ordered; folded without buffering
            var normal: Option[NormalState] = state.getOption
            val alerts = Seq.newBuilder[Alert]
            var maxTs = Long.MinValue
            it.foreach { e =>
              val t = e.warc_ts.getTime
              // ordering is a PLAN invariant in batch mode (see scaladoc):
              // if it ever breaks, alerts would silently pair with the
              // wrong "normal" — fail the task instead
              require(t >= maxTs || maxTs == Long.MinValue,
                s"group iterator for key '$key' is not time-ordered " +
                  "(planner re-inserted an exchange after the pre-sort?)")
              maxTs = math.max(maxTs, t)
              if (e.violation) {
                alerts += Alert(key, e.url, e.warc_ts,
                  normal.map(_.url).orNull, normal.map(_.warc_ts).orNull)
              } else {
                normal = Some(NormalState(e.url, e.warc_ts))
              }
            }
            normal.foreach(state.update)
            if (streaming && state.exists) {
              // evict when the watermark passes (last event time + horizon);
              // must stay ahead of the current watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(
                maxTs + stateHorizonMs, state.getCurrentWatermarkMs() + 1))
            }
            alerts.result().iterator
          }
        })
  }
}
