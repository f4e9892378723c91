package graft.streaming

import java.io.OutputStream
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Alert HTTP push sink (SURVEY §2.1 S11) — the reference's crash-safe,
  * rate-limited alert pipeline re-expressed:
  *
  *  - **Spool first, delete on success** — the reference persists every
  *    alert batch to bolt BEFORE POSTing and deletes it only after a 2xx
  *    (internal/alert/database/alert.go:44-145, alert/alert.go:171-232).
  *    Here the spool is a parquet "pending alerts" directory: [[push]]
  *    writes the batch there, then drains it; a crash or a down endpoint
  *    loses nothing, and the NEXT push (or an explicit [[drainSpool]])
  *    retries what's pending.
  *  - **Failure isolation** — a down endpoint NEVER fails the Spark job:
  *    each chunk gets a bounded retry with backoff, and whatever still fails
  *    stays in the spool. (The previous revision threw on non-2xx inside
  *    `foreachPartition` → task retry → stage failure — the opposite of the
  *    reference's isolation.)
  *  - **Bounded fan-out** — the reference caps alert/scrape concurrency at
  *    64 via its rworker pool (internal/alert/config.go:13-14,
  *    pkg/rworker/rworker.go:5-18). Here the payload frame is coalesced to
  *    at most `maxConcurrency` partitions before POSTing, so a violation
  *    storm from a 1000-task stage cannot DDoS the receiver.
  *
  * Delivery is at-least-once (a crash between POST and spool-delete replays
  * the batch); receivers dedupe on the deterministic `violation_id`, exactly
  * as the reference relies on its own idempotent alert ids.
  */
object AlertSink {

  /** Name prefix of everything parked for manual redelivery in a spool —
    * the ONE place the quarantine-naming contract lives (payload parquet
    * is `quarantine-payloads-<uuid>`, unreadable batch dirs are
    * `quarantine-batch-<name>`).
    */
  val QuarantinePrefix = "quarantine-"

  /** The ONE definition of "how many quarantine entries does this spool
    * listing hold" — every backlog number (PushResult fields, the locked-out
    * CLI's read-only view) flows through here so a future change to what
    * counts as backlog cannot silently diverge between them.
    */
  private def countQuarantine(
      listing: Array[org.apache.hadoop.fs.FileStatus]): Long =
    listing.count(_.getPath.getName.startsWith(QuarantinePrefix)).toLong

  /** quarantine-* entries currently in `spoolDir` (0 when the dir does not
    * exist) — the read-only view a caller that could not drain (e.g. a
    * locked-out CLI) still needs for "parked alerts exist" visibility.
    */
  def quarantineBacklog(spark: SparkSession, spoolDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(spoolDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else countQuarantine(fs.listStatus(p))
  }

  /** `posted` = successful HTTP POSTs (chunks); `pending` = per-entity
    * payload objects that could not be delivered and remain in the spool
    * (0 when spooling is off and delivery succeeded; undeliverable payloads
    * are COUNTED but dropped when spooling is off); `quarantined` = payloads
    * ABANDONED this call — either maxDeliveryAttempts active receiver
    * rejections, or maxTransientAttempts transient failures past the
    * maxTransientAgeMs age bound. Zero means everything was delivered or
    * is still pending; nonzero means alerts now need manual redelivery
    * from the quarantine parquet (a caller treating pending==0 as "all
    * delivered" must also check this).
    * `quarantinedBatches` = whole spool batch DIRECTORIES parked this call
    * (crashed/torn spool writes renamed `quarantine-*`) — their payload
    * rows are structurally unreadable so they cannot be counted into
    * `quarantined`, but they too need operator attention; a caller
    * following the "must also check quarantined" guidance must check this
    * field as well.
    * `oldestPendingMs` = epoch millis of the oldest still-pending payload's
    * `first_seen` (-1 when nothing is pending) — "how far behind am I"
    * during an endpoint outage, without listing the spool parquet.
    * `posted` is an accumulator total and shares the pipeline's
    * at-least-once semantics: a task retried after its POSTs already fired
    * re-counts its chunks, so treat it as "at least this many successful
    * POSTs", not an exact delivery count (receivers dedupe on violation_id
    * either way).
    */
  final case class PushResult(posted: Long, pending: Long,
      quarantined: Long = 0L, quarantinedBatches: Long = 0L,
      oldestPendingMs: Long = -1L,
      /** True when the drain did NOTHING because another drain holds the
        * spool lease (see [[HttpConf.drainLeaseMs]]) — the counts say
        * nothing about the spool's real state; retry later.
        */
      lockedOut: Boolean = false,
      /** quarantine-* entries PRESENT in the spool after this drain —
        * including ones parked by EARLIER calls. `quarantined`/
        * `quarantinedBatches` count only this call, so without this field
        * a later drain reports the spool clean while parked alerts still
        * sit in it awaiting manual redelivery.
        */
      quarantineBacklog: Long = 0L,
      /** Unmarked batch dirs SKIPPED this drain because their newest
        * content stamp is younger than [[HttpConf.spoolWriteGraceMs]] OR
        * they hold files but no readable age at all (a store that reports
        * no mtimes): likely a concurrent spool() mid-write, possibly a
        * fresh crashed write — indistinguishable until positive age
        * evidence appears, so an age-unknown dir WITH content stays
        * in-flight indefinitely rather than for at most one grace period.
        * Not deliverable yet, so a "green means clean" caller must NOT
        * read an exit-worthy clean state while one exists: counted into
        * [[unfinished]]. Empty dirs with no files anywhere and no time
        * signal are NOT counted (they hold no rows — see the inert-shell
        * branch in drainSpool).
        */
      inFlightBatches: Long = 0L) {

    /** Anything here still needs delivery or operator attention. */
    def unfinished: Boolean =
      pending > 0 || quarantined > 0 || quarantinedBatches > 0 ||
        quarantineBacklog > 0 || inFlightBatches > 0 || lockedOut

    /** THE labeled telemetry line — one formatter for every call site
      * (streaming per-batch log, tick-start drain, the drain-alerts CLI)
      * so the fields cannot drift apart. Units are labeled because they
      * differ: posted counts successful HTTP REQUESTS (an at-least-once
      * accumulator — task retries can re-count), pending/quarantined count
      * per-entity payload OBJECTS.
      */
    def summary: String =
      if (lockedOut) "locked_out=true (another drain holds the spool lease)"
      else s"posted_requests=$posted pending_payloads=$pending" +
        (if (oldestPendingMs >= 0)
          s" oldest=${java.time.Instant.ofEpochMilli(oldestPendingMs)}"
        else "") +
        s" quarantined_payloads=$quarantined" +
        s" quarantined_batch_dirs=$quarantinedBatches" +
        s" quarantine_backlog=$quarantineBacklog" +
        (if (inFlightBatches > 0) s" in_flight_batch_dirs=$inFlightBatches"
        else "")
  }

  /** HTTP/batching knobs shared by push and drain. `batchSize` is a ROW
    * budget at two levels: rows per entity object AND rows per request
    * (objects are packed greedily up to it). `maxDeliveryAttempts` is the
    * poison-payload bound: a payload that has failed this many drain
    * cycles (endpoint rejects it permanently — wrong shape, over a body
    * limit) is quarantined to parquet instead of redelivering forever.
    */
  final case class HttpConf(
      bearerToken: Option[String] = None,
      gzipBody: Boolean = false,
      batchSize: Int = 500,
      timeoutMs: Int = 10000,
      maxRetries: Int = 3,
      retryBackoffMs: Long = 200L,
      maxConcurrency: Int = 64,
      maxDeliveryAttempts: Int = 20,
      /** Secondary bound for payloads that fail TRANSIENTLY forever: a
        * poison payload that makes the receiver 500/hang (instead of a
        * clean 4xx) would otherwise be retried on every drain for the
        * pipeline's lifetime. BOTH conditions must hold to quarantine on
        * this bound — ≥ maxTransientAttempts failed cycles AND the payload
        * older than maxTransientAgeMs — and the AGE bound is the one that
        * protects outages (a streaming job draining every 30 s cannot
        * quarantine a weekend outage's alerts: age < 7 days no matter how
        * many cycles pass), which lets the cycle cap stay SMALL enough to
        * be reachable by slow batch jobs too (100 daily drains ≈ 3 months
        * of a hanging payload, not the years a 2000-cycle cap would take).
        * Quarantined payloads sit in the same redeliverable parquet either
        * way.
        */
      maxTransientAttempts: Int = 100,
      maxTransientAgeMs: Long = 7L * 24 * 3600 * 1000,
      /** Cap on payload OBJECTS packed into one request. The default packs
        * greedily against the row budget (an engine-side throughput
        * optimization); a request carrying a single object is sent as a
        * BARE `{entityId,data:[...]}` body — exactly the reference's wire
        * shape (alert/alert.go do() marshals one object per request) — so
        * `maxObjectsPerRequest = 1` makes every body reference-strict.
        * Multi-object requests use a JSON array of such objects, a
        * documented divergence receivers must opt into.
        */
      maxObjectsPerRequest: Int = Int.MaxValue,
      /** Spool-drain lease: two drains over one spool (a scheduled ingest
        * tick racing a manual `drain-alerts`) would each re-spool the
        * other's pending set (doubling the backlog per collision) and can
        * crash reading files the other deleted. A token-bearing
        * `_drain.lock` file serializes them: acquisition is
        * create-no-overwrite, a lock older than this lease is taken over
        * best-effort (delete-then-create), and release deletes only a
        * lock still carrying the owner's token — a drain that outlived
        * its lease does not release its successor's lock. Size the lease
        * ABOVE the worst-case drain (chunks × retries × timeout): a live
        * drain does not heartbeat the lock. The lock is ADVISORY by
        * design — correctness never depends on it (re-spool happens
        * before delete, so collisions duplicate deliveries, never lose
        * them; receivers dedupe on violation_id), which is also why the
        * takeover stays a simple delete-then-create: "safer" claim
        * protocols measurably wedge on object stores (rename resets
        * mtime on S3-family) while buying nothing the at-least-once
        * contract doesn't already absorb.
        */
      drainLeaseMs: Long = 60L * 60 * 1000,
      /** How old an UNMARKED spool batch dir (no `_SUCCESS`) must be before
        * a drain treats it as a crashed write and quarantines it. The
        * drain lease serializes drain-vs-drain only — a live stream's
        * [[spool]] write takes no lock, so a younger unmarked dir is most
        * likely a write IN PROGRESS (they complete in seconds) and is
        * skipped untouched; quarantining it mid-write would fail the
        * writer's commit and lose the batch's alerts.
        */
      spoolWriteGraceMs: Long = 15L * 60 * 1000)

  /** POST all rows of `violations` to `endpoint`, grouped PER ENTITY in the
    * reference's wire shape (alert/alert.go:56-66,125-134): each payload
    * object is `{"entityId": <partition>, "data": [<violation rows>]}`, and
    * a request body is a JSON array of such objects. An entity's rows are
    * split into objects of at most `conf.batchSize` rows (a violation storm
    * on one partition must not produce one giant payload), and a request
    * carries at most `conf.batchSize` objects. With `spoolDir` set
    * (recommended), payloads are spooled to parquet BEFORE any POST and
    * removed only on success — the reference's crash-safe bolt queue;
    * anything undeliverable stays spooled for the next call. Never throws
    * on endpoint failure.
    */
  def push(
      violations: DataFrame,
      endpoint: String,
      conf: HttpConf = HttpConf(),
      spoolDir: Option[String] = None,
      entityCol: String = "partition"): PushResult = {
    val json = entityPayloads(violations, entityCol, conf.batchSize)
    spoolDir match {
      case Some(dir) =>
        spool(json, dir)
        drainSpool(violations.sparkSession, dir, endpoint, conf)
      case None =>
        val (posted, failed) = postFrame(json, endpoint, conf)
        val lost = failed.count()
        if (lost > 0)
          System.err.println(s"[alert-sink] $lost alert payloads undeliverable " +
            s"and NO spoolDir configured — payloads dropped (set spoolDir " +
            "for the crash-safe queue)")
        PushResult(posted, lost)
    }
  }

  /** Violation rows → per-entity payload objects (the reference's alert
    * shape): rows grouped by `entityCol`, each group split into chunks of at
    * most `batchSize` rows, one JSON object `{"entityId", "data":[...]}` per
    * chunk. The window is partitioned by entity (never global) and ordered
    * by the full row for deterministic chunk assignment across retries;
    * violations are small by the validation contract, so the per-entity
    * shuffle is metadata-scale.
    */
  /** Output schema: `j` (the payload JSON), `n` (its row count — postFrame
    * packs objects into requests against a ROW budget, so a request can
    * never carry more than ~batchSize rows regardless of how many small
    * entity objects fit), `attempts` (active receiver REJECTIONS so far),
    * `t_attempts` (transient delivery failures so far) and `first_seen`
    * (epoch ms the payload entered the pipeline — operational metadata,
    * not validated row content, so wall clock is fine here) — the fields
    * behind the drain's poison quarantine.
    */
  private[streaming] def entityPayloads(
      violations: DataFrame, entityCol: String, batchSize: Int): DataFrame = {
    require(violations.columns.contains(entityCol),
      s"alert frame has no '$entityCol' column to group entities by " +
        s"(columns: ${violations.columns.mkString(", ")}); pass entityCol")
    val dataCols = violations.columns.filterNot(_ == entityCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entityCol))
      .orderBy(violations.columns.map(col): _*)
    violations
      // NB: Column./ is double division — cast back to int for the chunk id
      .withColumn("__chunk",
        ((row_number().over(w) - 1) / math.max(1, batchSize)).cast("int"))
      .groupBy(col(entityCol).cast("string").as("entityId"), col("__chunk"))
      .agg(collect_list(struct(dataCols.map(col): _*)).as("data"))
      .select(to_json(struct(col("entityId"), col("data"))).as("j"),
        size(col("data")).as("n"), lit(0).as("attempts"),
        lit(0).as("t_attempts"),
        lit(System.currentTimeMillis()).as("first_seen"))
  }

  /** Append a payload frame (columns j/n/attempts/t_attempts/first_seen —
    * see [[entityPayloads]]) to the spool as its own batch directory.
    * Directory names are unique per call; row content stays deterministic
    * (ids come from the violation rows).
    */
  private def spool(json: DataFrame, dir: String): Unit =
    json.write.mode("overwrite")
      .parquet(s"$dir/batch-${java.util.UUID.randomUUID()}")

  /** Re-attempt delivery of everything in the spool: read the pending batch
    * dirs, POST (capped concurrency, bounded retry), re-spool what still
    * fails, delete the drained batch dirs. Crash ordering: the re-spool is
    * written BEFORE old dirs are deleted, so a crash can duplicate but never
    * lose alerts (at-least-once; receiver dedupes on violation_id).
    *
    * Crash hygiene: a crash DURING [[spool]] leaves a partial batch dir
    * (e.g. only `_temporary`, no readable footers). Such a dir must never
    * wedge the sink — "endpoint failure never fails the job" extends to
    * spool-corruption failure. Two layers of defense:
    *   1. only dirs carrying the committer's `_SUCCESS` marker are drained
    *      (a completed [[spool]] always writes one);
    *   2. a marked dir that still fails to read (torn file, truncation) is
    *      QUARANTINED — renamed `quarantine-<name>` so the next drain skips
    *      it, the rows stay on disk for the operator, and delivery of every
    *      other batch proceeds.
    * Partial dirs without the marker are quarantined too, but only once
    * they age past [[HttpConf.spoolWriteGraceMs]] — a younger unmarked dir
    * is most likely a CONCURRENT spool() mid-write (the drain lease
    * serializes drains only) and is skipped untouched; an aged one is a
    * crashed write whose push() never returned success, so nothing the
    * caller relies on is lost.
    */
  def drainSpool(
      spark: SparkSession,
      dir: String,
      endpoint: String,
      conf: HttpConf = HttpConf()): PushResult = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return PushResult(0L, 0L)
    // serialize concurrent drains (see HttpConf.drainLeaseMs): losing the
    // race is NOT an error — report lockedOut so callers retry later
    val lock = new org.apache.hadoop.fs.Path(root, "_drain.lock")
    val lockToken = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      (try Some(fs.create(lock, false))
      catch { case _: java.io.IOException => None }) match {
        // create itself failed = lost the race: the file is the WINNER's
        // lock — never delete here
        case None => false
        case Some(out) =>
          try {
            out.write(lockToken.getBytes(StandardCharsets.UTF_8))
            out.close()
            true
          } catch {
            case _: java.io.IOException =>
              // the create SUCCEEDED, so the half-written file is ours: if
              // left behind, its fresh mtime reads as "another process is
              // draining" and wedges every drain for a full lease with no
              // holder alive. Best-effort remove before reporting failure.
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              false
          }
      }
    val acquired = tryCreate() || {
      val mtime =
        try Some(fs.getFileStatus(lock).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None } // just freed
      mtime match {
        case None => tryCreate()
        case Some(t) if t < System.currentTimeMillis() -
            math.max(0L, conf.drainLeaseMs) =>
          // STALE takeover is deliberately best-effort delete-then-create.
          // Smarter schemes were tried and breed worse corner cases: a
          // rename-and-verify-mtime claim permanently WEDGES takeover on
          // S3-family stores (rename is copy+delete, the copy gets a fresh
          // mtime, so every takeover bounces and re-arms the lease), and
          // any put-back opens a no-lock window plus a stranded-token
          // mode. Here the worst case — two contenders that both observed
          // a stale lock proceed concurrently, one having deleted the
          // other's fresh lock — is exactly the pre-lock status quo:
          // duplicated deliveries (receivers dedupe on violation_id), and
          // possibly ONE drain failing on a read-after-the-other's-delete
          // race (the streaming callers NonFatal-absorb it and the next
          // tick retries; the CLI maps it to its retry exit code). Never
          // loss (re-spool happens before delete), and NO state the spool
          // cannot recover from on the next drain.
          fs.delete(lock, false)
          tryCreate()
        case _ => false
      }
    }
    if (!acquired) {
      System.err.println(s"[alert-sink] spool $dir is being drained by " +
        "another process (fresh _drain.lock) — skipping this drain")
      return PushResult(0L, 0L, lockedOut = true)
    }
    // monotonic acquire mark: the release path uses elapsed-vs-lease to
    // decide whether a takeover was even possible (see the finally block)
    val acquiredAtNanos = System.nanoTime()
    try {
    // quarantine-* entries present AFTER the drain (incl. earlier calls'):
    // every return path under the lock reports this backlog so no caller
    // can read a clean result while parked alerts sit in the spool
    def backlog(): Long = countQuarantine(fs.listStatus(root))
    val rootListing = fs.listStatus(root)
    // sweep tomb leftovers from the retired rename-takeover revision once
    // they age past the lease (nothing creates new ones)
    rootListing
      .filter(s => s.getPath.getName.startsWith(".drain-stale-") &&
        s.getModificationTime <
          System.currentTimeMillis() - math.max(0L, conf.drainLeaseMs))
      .foreach(s => fs.delete(s.getPath, false))
    val batchStats = rootListing
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
    val batches = batchStats.map(_.getPath)
    if (batches.isEmpty)
      // the common clean-spool case (every tick-start drain): count off
      // the listing already in hand, no second LIST round-trip
      return PushResult(0L, 0L, quarantineBacklog = countQuarantine(rootListing))
    // dir-level quarantines are COUNTED into the result on every return
    // path below — early returns used to report quarantinedBatches=0 even
    // when dirs were parked in this very call, so a caller following the
    // PushResult docs never learned rows needed manual redelivery.
    var qBatches = 0L
    // `mayDrop`: when the quarantine rename itself fails, an UNMARKED dir
    // (no _SUCCESS — its push() never returned, so the caller holds the
    // rows) may be deleted; a MARKED dir holds rows the caller was told
    // are safely spooled, so on a rename-refusing FS it is LEFT IN PLACE —
    // re-warned on every drain rather than ever lost (the "can duplicate,
    // never lose" contract outranks log noise).
    def quarantine(p: org.apache.hadoop.fs.Path, why: String,
        mayDrop: Boolean): Unit = {
      val q = new org.apache.hadoop.fs.Path(p.getParent,
        s"$QuarantinePrefix${p.getName}")
      System.err.println(s"[alert-sink] spool batch ${p.getName} $why — " +
        s"quarantined as ${q.getName}; inspect/remove manually")
      if (fs.rename(p, q)) qBatches += 1
      else if (mayDrop && fs.delete(p, true)) () // dropped, NOT parked
      else qBatches += 1 // left in place (rename AND delete refused, or
                         // marked dir) — still needs operator attention
    }
    val (markedStats, partialStats) = batchStats.partition(s =>
      fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
    // an unmarked dir younger than the write grace is most likely a LIVE
    // stream's spool() mid-write (the lease serializes drains only, not
    // spool writes) — leave it for a later drain; only an AGED unmarked
    // dir is a crashed write, safe to park/drop (its push() never
    // returned, so the rows were never reported as safely spooled).
    // Age comes from the dir's CONTENTS, not the dir entry: object-store
    // listings report mtime 0 for synthetic dirs (S3A fake-dir markers),
    // and a real dir's mtime freezes once its direct entries stop
    // changing — a long write stays "fresh" through its task files'
    // stamps. The probe recurses to depth 6 because Spark's
    // FileOutputCommitter nests those files as
    // `_temporary/<appAttempt>/_temporary/<taskAttempt>/part-*` — the
    // stamps proving a write is LIVE sit at the bottom, and a shallow scan
    // would misread a slow write's frozen upper dirs as "aged" and destroy
    // it. Returns (newest stamp seen, file count seen); stamp 0 = age
    // UNKNOWN, and unknown is never "aged" — a dir is parked only on
    // positive evidence its write stopped long ago. The walk stops as soon
    // as one fresh stamp is found: the verdict is then in-flight no matter
    // what the rest of the subtree holds (the file count only ever decides
    // the zero-stamp inert-shell case), so finishing the listing would be
    // pure wasted remote I/O on the per-tick hot path.
    val writeGraceCutoff =
      System.currentTimeMillis() - math.max(0L, conf.spoolWriteGraceMs)
    def probe(p: org.apache.hadoop.fs.Path, depth: Int): (Long, Long) = {
      val kids =
        try fs.listStatus(p)
        catch {
          case _: java.io.IOException =>
            Array.empty[org.apache.hadoop.fs.FileStatus]
        }
      var m = kids.map(_.getModificationTime).maxOption.getOrElse(0L)
      var files = kids.count(!_.isDirectory).toLong
      if (depth > 1) {
        val dirs = kids.filter(_.isDirectory).iterator
        while (dirs.hasNext && m < writeGraceCutoff) {
          val (dm, df) = probe(dirs.next().getPath, depth - 1)
          m = math.max(m, dm); files += df
        }
      }
      (m, files)
    }
    var inFlightN = 0L
    partialStats.foreach { s =>
      val (kidStamp, files) =
        if (s.getModificationTime >= writeGraceCutoff) (0L, 1L) // fresh dir
        else probe(s.getPath, 6)
      val m = math.max(s.getModificationTime, kidStamp)
      if (m > 0L && m < writeGraceCutoff)
        quarantine(s.getPath,
          "has no _SUCCESS marker past the write grace (crashed spool write)",
          mayDrop = true)
      else if (files > 0 || m > 0L) {
        // young, or age-unknown WITH content: possibly a live spool()
        // mid-write — skip untouched and surface via in_flight so callers
        // do not read a clean spool while rows may be landing
        System.err.println(s"[alert-sink] spool batch ${s.getPath.getName} " +
          "has no _SUCCESS yet and is not provably past the write grace — " +
          "skipping (likely an in-progress spool write); counted as " +
          "in_flight so callers do not read a clean spool")
        inFlightN += 1
      } else
        // inert shell: zero files anywhere AND no time signal (an
        // object-store fake-dir marker left by a crashed write, or a
        // just-mkdir'd live write on a store without dir mtimes). It holds
        // NO rows, so skipping parks nothing — logged but NOT counted into
        // unfinished, otherwise drain-alerts would exit 1 forever on a
        // harmless marker with no remediation path. Consequence: a clean
        // result means "no rows known to be pending AT LISTING TIME", never
        // "safe to delete the spool dir while a stream is live" — a spool()
        // can mkdirs right after ANY listing, markers or not, so spool
        // removal is only safe once the writing stream is stopped.
        System.err.println(s"[alert-sink] spool batch ${s.getPath.getName} " +
          "is an empty unmarked shell with no age signal — ignoring (holds " +
          "no rows; remove manually if it persists)")
    }
    val readable = markedStats.map(_.getPath).flatMap { p =>
      try Some(p -> spark.read.parquet(p.toString))
      catch {
        case scala.util.control.NonFatal(e) =>
          quarantine(p, s"is unreadable (${e.getClass.getSimpleName})",
            mayDrop = false)
          None
      }
    }
    if (readable.isEmpty)
      return PushResult(0L, 0L, quarantinedBatches = qBatches,
        quarantineBacklog = backlog(), inFlightBatches = inFlightN)
    // legacy spool schemas get conservative defaults: n = batchSize (each
    // legacy payload travels alone, so an old-shape body is never mixed
    // into a shape-valid request's row budget), zero counters, and
    // first_seen = NOW (the age clock starts at upgrade — never
    // quarantine-on-arrival)
    val json = readable.map(_._2).map { df =>
      Seq[(String, Any)]("n" -> conf.batchSize, "attempts" -> 0,
          "t_attempts" -> 0, "first_seen" -> System.currentTimeMillis())
        .foldLeft(df) { case (d, (c, dflt)) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(dflt))
        }
    }.reduce(_.unionByName(_))
      // one disk pass per drain: the poison split + the POST pass would
      // otherwise each re-read every spool batch
      .cache()
    try {
      // POISON payloads — actively rejected maxDeliveryAttempts times, OR
      // transiently failing maxTransientAttempts cycles AND older than
      // maxTransientAgeMs (a payload that 500s/hangs the receiver
      // forever) — are quarantined to parquet for the operator instead of
      // redelivering forever; without this one poisoned payload turns
      // every future drain into its retry.
      val ageCutoff = System.currentTimeMillis() - conf.maxTransientAgeMs
      val isPoisoned = col("attempts") >= conf.maxDeliveryAttempts ||
        (col("t_attempts") >= conf.maxTransientAttempts &&
          col("first_seen") <= ageCutoff)
      val poisoned = json.where(isPoisoned)
      val nPoisoned = poisoned.count()
      if (nPoisoned > 0) {
        val qDir =
          s"$dir/${QuarantinePrefix}payloads-${java.util.UUID.randomUUID()}"
        poisoned.write.mode("overwrite").parquet(qDir)
        System.err.println(s"[alert-sink] $nPoisoned payload(s) exhausted " +
          s"delivery bounds (${conf.maxDeliveryAttempts} active rejections, " +
          s"or ${conf.maxTransientAttempts} transient failures past the " +
          s"age bound) — quarantined to $qDir; inspect/redeliver manually")
      }
      val (posted, failed) = postFrame(json.where(!isPoisoned), endpoint, conf)
      val pending = failed.count()
      if (pending > 0) spool(failed, dir) // re-spool BEFORE deleting the old
      readable.foreach { case (p, _) => fs.delete(p, true) }
      // spool depth/age telemetry: during an outage the operator's first
      // question is "how far behind am I" — answer it in the result AND one
      // log line per drain, instead of requiring a manual parquet listing
      val oldestPending =
        if (pending == 0) -1L
        else failed.agg(min(col("first_seen"))).head.getLong(0)
      if (pending > 0)
        System.err.println(s"[alert-sink] spool after drain: $pending " +
          s"payload(s) pending, oldest first_seen=" +
          java.time.Instant.ofEpochMilli(oldestPending))
      PushResult(posted, pending, nPoisoned, qBatches, oldestPending,
        quarantineBacklog = backlog(), inFlightBatches = inFlightN)
    } finally json.unpersist()
    } finally {
      // release only OUR lock: a drain that outlived its lease may have
      // been taken over — deleting the successor's lock would cascade the
      // lease open (C acquires while B still runs, and so on). The token
      // is read TO EOF (a single read() may legally return a prefix, and a
      // truncated mismatch would leave our own lock blocking every drain
      // for a full lease). Check-then-delete is not atomic: a takeover
      // landing in the microseconds between them can still lose its lock —
      // a window of milliseconds against a lease of an hour, and the
      // consequence is bounded (duplicated delivery, never loss).
      // A transient read failure must not leave OUR OWN completed-drain
      // lock blocking every drain for the rest of the lease, so the verify
      // is retried, and a persistent failure falls back on lease math:
      // a takeover is only POSSIBLE once the lease has expired, so while
      // the drain finished well inside it (half, for mtime-vs-local-clock
      // skew) the lock can only be ours — delete unverified. Past that
      // margin a successor may hold it: leave it (waiting out the lease
      // beats cascading someone else's lock open).
      var attempts = 0
      var settled = false
      while (!settled && attempts < 3) {
        attempts += 1
        try {
          val in = fs.open(lock)
          val acc = new java.io.ByteArrayOutputStream(64)
          try {
            val tmp = new Array[Byte](64)
            var n = in.read(tmp)
            while (n > 0) { acc.write(tmp, 0, n); n = in.read(tmp) }
          } finally in.close()
          if (acc.toString("UTF-8") == lockToken) fs.delete(lock, false)
          settled = true // verified ours (deleted) or a successor's (left)
        } catch {
          case _: java.io.FileNotFoundException =>
            settled = true // already gone: nothing to release
          case _: java.io.IOException =>
            if (attempts < 3) Thread.sleep(50L * attempts)
        }
      }
      if (!settled) {
        val elapsedMs = (System.nanoTime() - acquiredAtNanos) / 1000000L
        if (elapsedMs < math.max(0L, conf.drainLeaseMs) / 2)
          try fs.delete(lock, false)
          catch { case _: java.io.IOException => () }
        else
          System.err.println("[alert-sink] could not verify drain-lock " +
            s"ownership after $attempts reads and the takeover margin has " +
            "passed — leaving the lock; drains unblock when the lease " +
            "expires")
      }
    }
  }

  /** POST the payload frame (columns j/n/attempts/t_attempts/first_seen)
    * in requests packed
    * against the ROW budget: objects are grouped greedily until the next
    * one would push the request past `conf.batchSize` rows (always at
    * least one object per request). Without the budget, batchSize OBJECTS
    * of batchSize rows each made a single request carry batchSize² rows —
    * a body-size wedge on any receiver with a limit. Returns (successful
    * POST count, frame of payloads that failed, attempts incremented).
    * The coalesce caps in-flight connections at `maxConcurrency` tasks —
    * the rworker analog. Per-chunk errors are contained: they surface as
    * returned rows, never as task failures.
    */
  private def postFrame(
      json: DataFrame, endpoint: String, conf: HttpConf): (Long, DataFrame) = {
    val spark = json.sparkSession
    import spark.implicits._
    val posted = spark.sparkContext.longAccumulator("alert_posts")
    // coalesce is already a no-op when the plan has fewer partitions than the
    // cap — no need to instantiate the RDD lineage just to read its count
    val capped = json.coalesce(math.max(1, conf.maxConcurrency))
    val failedRows = capped.mapPartitions { (it: Iterator[Row]) =>
      type P = (String, Int, Int, Int, Long) // j, n, attempts, t_attempts, first_seen
      val quads = it.map(r =>
        (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        .buffered
      val packed = new Iterator[Seq[P]] {
        def hasNext: Boolean = quads.hasNext
        def next(): Seq[P] = {
          val chunk = Seq.newBuilder[P]
          var rows = 0
          var count = 0
          while (quads.hasNext &&
              (count == 0 || (count < conf.maxObjectsPerRequest &&
                rows + quads.head._2 <= conf.batchSize))) {
            val t = quads.next(); chunk += t; rows += t._2; count += 1
          }
          chunk.result()
        }
      }
      packed.flatMap { chunk =>
        postChunkWithRetry(chunk.map(_._1), endpoint, conf) match {
          case Delivered => posted.add(1); Nil
          // transient (endpoint down / 5xx / timeout / auth 4xx): only the
          // transient counter moves — an outage must not age payloads
          // toward the (small) rejection cap, while a hang-forever poison
          // payload still meets the transient cap + age bound eventually
          case Transient => chunk.map(t => t.copy(_4 = t._4 + 1))
          // rejected multi-object request: the receiver refused the BODY,
          // which does not attribute blame — isolate by re-sending each
          // object alone; only individually-rejected payloads gain a
          // rejection (healthy neighbors packed beside a poison payload
          // are delivered right here instead of aging toward quarantine)
          case Rejected if chunk.size > 1 =>
            chunk.flatMap { t =>
              postChunkWithRetry(Seq(t._1), endpoint, conf) match {
                case Delivered => posted.add(1); Nil
                case Transient => Seq(t.copy(_4 = t._4 + 1))
                case Rejected  => Seq(t.copy(_3 = t._3 + 1))
              }
            }
          case Rejected => chunk.map(t => t.copy(_3 = t._3 + 1))
        }
      }
    }(org.apache.spark.sql.Encoders.product[(String, Int, Int, Int, Long)])
      .toDF("j", "n", "attempts", "t_attempts", "first_seen")
    // materialize now: the accumulator and the failure set must reflect one
    // single POST pass (a lazy frame would re-POST on every consumer)
    val failed = failedRows.localCheckpoint(true)
    (posted.value, failed)
  }

  /** Delivery outcome of one request. The Rejected/Transient distinction
    * drives poison accounting: only a BODY-SEMANTIC receiver rejection
    * (400/413/415/422) counts toward the small quarantine cap — a down
    * endpoint, 5xx, timeout, or auth/routing 4xx (401/403/404) is
    * transient and ages only the much larger transient cap (a weekend
    * outage or an expired token is not a poison payload; a payload that
    * makes the receiver 500 forever still quarantines eventually).
    */
  private sealed trait Outcome
  private case object Delivered extends Outcome
  private case object Rejected extends Outcome
  private case object Transient extends Outcome

  private final class RejectedException(code: Int)
    extends java.io.IOException(s"alert POST rejected: HTTP $code")

  /** One chunk: bounded retries with linear backoff for TRANSIENT failures
    * (exceptions, 5xx, 408, 429); a permanent 4xx returns Rejected
    * immediately — retrying a body the receiver deterministically refuses
    * is pure noise.
    */
  private def postChunkWithRetry(
      chunk: Seq[String], endpoint: String, conf: HttpConf): Outcome = {
    var attempt = 0
    while (attempt < math.max(1, conf.maxRetries)) {
      attempt += 1
      try {
        postOnce(chunk, endpoint, conf)
        return Delivered
      } catch {
        case _: RejectedException => return Rejected
        case scala.util.control.NonFatal(_) =>
          if (attempt < conf.maxRetries) Thread.sleep(conf.retryBackoffMs * attempt)
      }
    }
    Transient
  }

  /** One request. WIRE SHAPE: a single payload travels as a BARE
    * `{entityId,data:[...]}` object — byte-compatible with the reference's
    * receiver (alert/alert.go do() marshals exactly one such object per
    * request body). Only when the packer combined MULTIPLE payloads
    * (maxObjectsPerRequest > 1, an engine-side divergence the conf
    * documents) is the body a JSON array of those objects.
    */
  private def postOnce(chunk: Seq[String], endpoint: String, conf: HttpConf): Unit = {
    val body = (if (chunk.size == 1) chunk.head
                else chunk.mkString("[", ",", "]"))
      .getBytes(StandardCharsets.UTF_8)
    val conn = new URL(endpoint).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(conf.timeoutMs)
      conn.setReadTimeout(conf.timeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conf.bearerToken.foreach(t =>
        conn.setRequestProperty("Authorization", s"Bearer $t"))
      if (conf.gzipBody) conn.setRequestProperty("Content-Encoding", "gzip")
      val os: OutputStream =
        if (conf.gzipBody) new GZIPOutputStream(conn.getOutputStream)
        else conn.getOutputStream
      try os.write(body)
      finally os.close()
      val code = conn.getResponseCode
      // ONLY body-semantic codes count as permanent rejection: 400 (bad
      // request), 413 (too large), 415 (media type), 422 (unprocessable).
      // 401/403/404 are environment problems (expired token, routing
      // mid-deploy) that END — classifying them as rejection would
      // quarantine the whole spool during an auth outage.
      if (code == 400 || code == 413 || code == 415 || code == 422)
        throw new RejectedException(code)
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"alert POST failed: HTTP $code")
    } finally conn.disconnect()
  }
}
