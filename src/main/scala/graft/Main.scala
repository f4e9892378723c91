package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Ledger, RenameCommitter, TableIO, Validator, WebSchema}
import graft.operators.Curate

/** spark-submit entry point:
  *
  *   spark-submit --class graft.Main sodspark.jar \
  *     validate <inputPath> <outDir> [--ledger <dir|file.jsonl>] [--run <id>]
  *        [--partition-col <col>] [--baseline <dir>]
  *   spark-submit --class graft.Main sodspark.jar \
  *     save-baseline <inputPath> <baselineDir> [--partition-col <col>]
  *
  * `validate` runs the full pass (schema gate → stats/sketches → constraints
  * → drift) over an `input_hint`-shaped table, writing violations, verdicts
  * and column_stats under <outDir>, each partitioned by `partition` and
  * committed partition-atomically. With --ledger, completed partitions are
  * skipped on re-run (resume). Exit code 1 when any verdict failed, 2 on
  * schema mismatch — usable as a data-quality gate in a pipeline. Usage
  * errors exit 64 from [[parse]], before a SparkSession starts, so they take
  * precedence over data errors.
  *
  * No master/config is forced here: spark-submit supplies them (cluster
  * deploys set executors/shuffle partitions per cluster size).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val command = parse(args) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(64)
        throw new IllegalStateException
      case Right(parsed) => parsed
    }

    val builder = SparkSession.builder()
      .appName("sodspark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // spark-submit injects the master; fall back to local[*] for direct runs
    val spark = (if (sys.props.contains("spark.master") ||
        sys.env.contains("SPARK_MASTER")) builder
      else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def load(path: String, partitionCol: String) = {
      val raw = spark.read.parquet(path)
      WebSchema.validate(raw) match {
        case Left(err) =>
          System.err.println(s"[sodspark] $err")
          sys.exit(2)
          throw new IllegalStateException
        case Right(_) =>
          // null keys (null warc_ts is legal input — DefaultChecks does not
          // NotNull it; a custom --partition-col may hold nulls too) fold
          // into a "<unknown>" partition instead of flowing a null key
          // through stats/drift/baseline/ledger/alert grouping
          if (partitionCol.nonEmpty)
            raw.withColumn("partition",
              coalesce(col(partitionCol).cast("string"),
                lit(Validator.UnknownPartition)))
          else
            raw.withColumn("partition",
              coalesce(date_format(col("warc_ts"), "yyyy-MM-dd"),
                lit(Validator.UnknownPartition)))
      }
    }

    command match {
      case cmd: ValidateCmd =>
        // `validate` addresses its tables as PATHS under <outDir> and routes
        // writes/reads through TableIO; commitMode=iceberg addresses catalog
        // identifiers — mixing them would write through the Iceberg committer
        // but read nothing back. `ingest` is untouched: its sink writes
        // plain path parquet and never consults the committer, so a fleet-wide
        // iceberg conf must not break the daily tick. `vacuum` accepts an
        // identifier and dispatches correctly.
        if (spark.conf.get(TableIO.CommitModeConf, "rename") == "iceberg") {
          System.err.println("[sodspark] commitMode=iceberg is not supported by " +
            "the outDir/path-based validate flow; use rename or manifest here, " +
            "or drive Iceberg tables through the TableCommitter API with " +
            "catalog identifiers")
          sys.exit(64)
        }
        // a commit TableIO refuses (a manifest table under rename mode, an
        // object-store outDir under rename mode) or a missing baseline is a
        // usage error, not a failed check. The commit threads wrap the
        // driver-side refusal once; a task's error sits deeper, under a
        // SparkException, and keeps its uncaught exit.
        val failed =
          try validate(load(cmd.in, cmd.partitionCol), cmd)
          catch {
            case e: Exception if Seq(e, e.getCause).exists(_.isInstanceOf[IllegalArgumentException]) =>
              System.err.println(s"[sodspark] ${e.getMessage}")
              sys.exit(64)
          }
        println(s"[sodspark] failed checks: $failed")
        spark.stop()
        sys.exit(if (failed > 0) 1 else 0)

      case SaveBaselineCmd(in, out, partitionCol, strict) =>
        // ST5 append policy (reference allowAppendOutlier=false analog):
        // --append-policy strict keeps violating rows OUT of the model
        if (strict) {
          val rowChecks = Validator.DefaultChecks
            .collect { case c: graft.engine.Constraints.RowCheck => c }
          Validator.saveBaseline(load(in, partitionCol), out, rowChecks)
        } else Validator.saveBaseline(load(in, partitionCol), out)
        println(s"[sodspark] baseline written to $out")
        spark.stop()

      // The full webtext curation chain (crawl table in → clean corpus
      // out) as one job; stages and their order live in operators/Curate.
      case CurateCmd(in, out, cfg, stageCounts) =>
        // same contract as ingest: plain path-based parquet writes, the
        // TableCommitter is never consulted — say so rather than silently
        // ignoring an explicitly-configured iceberg mode
        if (spark.conf.get(TableIO.CommitModeConf, "rename") == "iceberg")
          System.err.println("[sodspark] note: commitMode=iceberg does not " +
            "apply to curate (path-based parquet writes); the conf is " +
            "ignored for this command")
        val raw = spark.read.parquet(in)
        graft.engine.WebSchema.validate(raw) match {
          case Left(err) =>
            System.err.println(s"[sodspark] $err")
            sys.exit(2)
          case Right(_) =>
        }
        if (stageCounts) {
          val (cleaned, counts) = Curate.curateWithCounts(raw, cfg)
          cleaned.write.mode("overwrite").parquet(out)
          cleaned.unpersist(false)
          val stageJson = counts.map { case (k, v) => s""""$k":$v""" }
            .mkString("{", ",", "}")
          println(s"[sodspark] curate stages=$stageJson")
          println(s"[sodspark] curate wrote ${counts.last._2} of " +
            s"${counts.head._2} rows to $out")
        } else {
          Curate.curate(raw, cfg).write.mode("overwrite").parquet(out)
          // count the WRITTEN table — no second execution of the chain
          val n = spark.read.parquet(out).count()
          println(s"[sodspark] curate wrote $n rows to $out")
        }
        spark.stop()

      // Incremental ingest (S3): each invocation = one poll tick — processes
      // only parquet files under <inputPath> not recorded in the checkpoint.
      // Runs the FULL check suite per micro-batch; with --baseline, each
      // batch is also drift-scored against the green snapshot (the
      // reference's scoring-on-ingest, manager.go:385).
      case IngestCmd(in, out, ckpt, baselineDir, alertEndpoint, maxFiles,
          crossBatch, refreshPolicy) =>
        // the streaming sink writes plain path parquet and never consults
        // the TableCommitter — an explicitly-configured iceberg mode is a
        // no-op here; say so once rather than silently ignoring the conf
        if (spark.conf.get(TableIO.CommitModeConf, "rename") == "iceberg")
          System.err.println("[sodspark] note: commitMode=iceberg does not " +
            "apply to the ingest sink (path-based parquet writes); the " +
            "conf is ignored for this command")
        val q = graft.streaming.StreamingValidate
          .incrementalValidate(spark, in, out, ckpt,
            baselineDir = baselineDir,
            alertEndpoint = alertEndpoint,
            maxFilesPerTrigger = maxFiles,
            crossBatchUnique = crossBatch,
            baselineRefresh = refreshPolicy)
        q.awaitTermination()
        println(s"[sodspark] incremental ingest tick complete")
        spark.stop()

      // Push the alert-spool backlog NOW, without waiting for the next data
      // tick (during outage recovery the next tick may be hours away).
      // Exit codes, scriptable as a retry loop: 0 = spool clean —
      // PushResult.quarantineBacklog covers quarantine entries parked by
      // EARLIER calls too, so green really means clean; 1 = payloads
      // pending or quarantine entries awaiting manual redelivery; 75 =
      // EX_TEMPFAIL — another drain holds the spool lease, or the drain
      // threw (spool unchanged/re-spooled either way; retry with a BOUNDED
      // loop — stderr carries the cause when it's a thrown error; the
      // spool is still listed below so parked entries stay visible even
      // when locked out); 64 = usage/path errors.
      case DrainAlertsCmd(out, ep) =>
        // a typo'd outDir would be indistinguishable from a drained spool
        // (both report all-zero) — require the OUTPUT DIR to exist; the
        // spool itself may legitimately be absent (nothing ever spooled)
        val outPath = new org.apache.hadoop.fs.Path(out)
        if (!outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(outPath)) {
          System.err.println(s"[sodspark] output dir $out does not exist — " +
            "pass the ingest outDir whose _alert_spool should drain")
          sys.exit(64)
        }
        val spoolDir = graft.streaming.StreamingValidate.alertSpoolDir(out)
        // the whole drain is wrapped: a transient FS/endpoint-race error
        // (incl. a colliding drain deleting files under us) must map to
        // the documented retry exit code, never an uncaught stack trace —
        // scripts key on {0, 1, 75, 64}
        val code =
          try {
            val res = graft.streaming.AlertSink.drainSpool(spark, spoolDir, ep)
            println(s"[sodspark] drain: ${res.summary}")
            // quarantine_backlog (in summary/unfinished) covers entries
            // parked by EARLIER calls — a green exit must mean a genuinely
            // clean spool. A locked-out drain never listed the spool, so
            // ask for the read-only count separately: the operator must
            // hear about parked alerts either way.
            val backlogNow =
              if (res.lockedOut)
                graft.streaming.AlertSink.quarantineBacklog(spark, spoolDir)
              else res.quarantineBacklog
            if (backlogNow > 0)
              System.err.println(s"[sodspark] $backlogNow " +
                s"quarantine entr${if (backlogNow == 1) "y" else "ies"} " +
                s"in $spoolDir await manual redelivery")
            if (res.lockedOut) 75
            else if (res.unfinished) 1
            else 0
          } catch {
            case scala.util.control.NonFatal(e) =>
              // the spool is unchanged or re-spooled (delete happens only
              // after delivery), so 75 = "retry may succeed" — but the
              // cause may equally be a PERMANENT misconfiguration (perms,
              // bad endpoint URL), which this process cannot tell apart
              // from a race. Full trace below so a persistent 75 is
              // diagnosable; retry loops must bound their attempts.
              System.err.println("[sodspark] drain failed — spool " +
                "unchanged or re-spooled. Exit 75 = retry MAY succeed; if " +
                "it persists across a bounded retry loop, inspect the " +
                "trace below instead of retrying forever")
              e.printStackTrace()
              75
          }
        spark.stop()
        sys.exit(code)

      // Streaming-output maintenance: roll old per-micro-batch partition
      // dirs into one large-file roll-up per lineage (ST8 explicit stage).
      // Crash-safe and idempotent — re-run after any interruption; see
      // StreamCompact's commit protocol. Single maintenance writer.
      case CompactStreamCmd(outDir, keep, targetBytes, dryRun) =>
        val results = graft.streaming.StreamCompact.compactAll(
          spark, outDir, keep, targetBytes, dryRun)
        val tag = if (dryRun) "compact DRY-RUN (nothing changed)" else "compact"
        results.foreach(r => println(s"[sodspark] $tag ${r.summary}"))
        spark.stop()

      // Manifest-table maintenance: reclaim snapshot dirs superseded by
      // later commits (run after in-flight readers drain — Iceberg's
      // expire_snapshots contract). No-op on rename-mode tables.
      case VacuumCmd(table, graceMs) =>
        val removed = TableIO.vacuum(spark, table, graceMs)
        println(s"[sodspark] vacuumed ${removed.size} snapshot(s)" +
          (if (removed.isEmpty) "" else s": ${removed.mkString(", ")}"))
        spark.stop()
    }
  }

  /** The three tables `validate` writes under its outDir. */
  private val ValidateTables = Seq("violations", "verdicts", "column_stats")

  /** The `validate` command on a loaded frame (`partition` attached):
    * runs the pass, commits its three tables through
    * [[Validator.commitResults]] and returns the number of failed verdicts.
    *
    * With --ledger, done partitions are skipped and the count is read off
    * the whole committed verdicts table. Without, the run is a FULL
    * REPLACE of the outDir: `computed` covers this run's partitions and
    * every partition any of the three tables served before, so no stale
    * partition survives beside this run's, and the count comes from the
    * verdict rows the commit returns.
    */
  private[graft] def validate(wp: DataFrame, cmd: ValidateCmd): Long = {
    val spark = wp.sparkSession
    val baseline = cmd.baseline
      .map(Validator.loadBaseline(spark, _)).getOrElse(Map.empty)
    cmd.ledger match {
      case Some(ledgerPath) =>
        val runId = cmd.run.getOrElse("run-" + java.util.UUID.randomUUID())
        val processed = Validator.runWithLedger(
          wp, Ledger(ledgerPath), runId, cmd.out, baselineProfiles = baseline)
        println(s"[sodspark] processed partitions: ${processed.size}")
        TableIO.readTable(spark, s"${cmd.out}/verdicts").where(!col("passed")).count()
      case None =>
        val tables = ValidateTables.map(t => s"${cmd.out}/$t")
        // Only a rename commit replaces flat files, and an object-store
        // outDir is refused before the pass, so no file is deleted for a
        // commit that cannot happen. A manifest commit over an outDir an
        // older run wrote is refused by its mode-switch guard (`violations`
        // holds rename-layout partition dirs), so it keeps them.
        val rename = TableIO.committerFor(spark) == RenameCommitter
        if (rename) TableIO.requireRenameAtomicFs(new Path(cmd.out))
        val res = Validator.validate(wp, baselineProfiles = baseline)
        try {
          if (rename) tables.foreach(deleteFlatFiles(spark, _))
          val thisRun = res.stats.select(col("partition")).distinct()
            .collect().map(_.getString(0)).toSeq
          val prior = tables.flatMap(TableIO.livePartitions(spark, _))
          Validator.commitResults(res, cmd.out, (thisRun ++ prior).distinct)
            .count(!_.getAs[Boolean]("passed")).toLong
        } finally res.unpersist()
    }
  }

  /** Delete the data files and commit markers at a table's root (with
    * their checksums). Ledger-less runs before partition-atomic commits
    * wrote `verdicts` and `column_stats` unpartitioned, as `part-*` files
    * at the root; a partitioned commit beside them would leave a table no
    * reader can resolve. Partitioned layouts keep no such files there.
    */
  private def deleteFlatFiles(spark: SparkSession, table: String): Unit = {
    val path = new Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      fs.listStatus(path)
        .filter(s => s.isFile && Seq("part-", ".part-", "_SUCCESS", "._SUCCESS")
          .exists(s.getPath.getName.startsWith))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** A command line that passed [[parse]]: positionals and flag values,
    * already typed, defaulted and checked.
    */
  private[graft] sealed trait Command
  private[graft] final case class ValidateCmd(in: String, out: String,
      ledger: Option[String], run: Option[String], partitionCol: String,
      baseline: Option[String]) extends Command
  private[graft] final case class SaveBaselineCmd(in: String, out: String,
      partitionCol: String, strict: Boolean) extends Command
  private[graft] final case class CurateCmd(in: String, out: String,
      cfg: Curate.Config, stageCounts: Boolean) extends Command
  private[graft] final case class IngestCmd(in: String, out: String,
      checkpoint: String, baseline: Option[String], alertEndpoint: Option[String],
      maxFilesPerTrigger: Option[Int], crossBatchUnique: Boolean,
      baselineRefresh: String) extends Command
  private[graft] final case class DrainAlertsCmd(out: String, alertEndpoint: String)
      extends Command
  private[graft] final case class CompactStreamCmd(outDir: String, keepBatches: Int,
      targetFileBytes: Long, dryRun: Boolean) extends Command
  private[graft] final case class VacuumCmd(table: String, graceMs: Long) extends Command

  /** One row of the flag table: `--name`, the commands that read it, the
    * parser of its value (None = rejected) and the stderr text a rejected
    * value prints.
    */
  private final case class Flag[A](name: String, commands: Set[String],
      read: String => Option[A], reject: String => String = (_: String) => "")

  /** A flag whose every value is accepted as given. */
  private def text(name: String, commands: String*): Flag[String] =
    Flag(name, commands.toSet, Some(_))

  private def checked[A](name: String, command: String, expected: String)(
      read: String => Option[A]): Flag[A] =
    Flag(name, Set(command), read, v => s"invalid --$name: '$v' ($expected)\n$usage")

  private def switch(name: String, command: String,
      expected: String = "expected on|off"): Flag[Boolean] =
    checked(name, command, expected)(Map("on" -> true, "off" -> false).get)

  private val ledger = text("ledger", "validate")
  private val run = text("run", "validate")
  private val partitionCol = text("partition-col", "validate", "save-baseline")
  private val baseline = text("baseline", "validate", "ingest")
  private val appendPolicy = Flag[String]("append-policy", Set("save-baseline"),
    Some(_).filter(Set("strict", "all")),
    v => s"unknown --append-policy: $v (strict|all)")

  private val blocklist = Flag[Seq[String]]("blocklist", Set("curate"),
    v => Some(v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
  private val salt = text("salt", "curate")
  private val maxPerHost = checked("max-per-host", "curate", "expected int >= 1")(
    v => scala.util.Try(v.toInt).toOption.filter(_ >= 1))
  // 0 = explicit off (template-friendly)
  private val stripMinDocs = checked("strip-boilerplate-min-docs", "curate",
    "expected 0 = off, or int >= 2")(
    v => scala.util.Try(v.toLong).toOption.filter(n => n == 0L || n >= 2L))
  private val nearDupJaccard = checked("near-dup-jaccard", "curate",
    "expected 0 = off, or a threshold in (0,1]")(
    v => scala.util.Try(v.toDouble).toOption.filter(x => x >= 0.0 && x <= 1.0))
  // 0 = explicit off; Infinity would silently enable a stage that pays the
  // corpus-wide vocab pass yet filters nothing
  private val maxSurprisal = checked("max-surprisal", "curate",
    "expected 0 = off, or a finite positive cap")(
    v => scala.util.Try(v.toDouble).toOption.filter(x => x >= 0.0 && !x.isInfinity))
  private val noindex = switch("noindex", "curate")
  private val unicodeNfc = switch("unicode-nfc", "curate")
  private val c4 = switch("c4", "curate")
  private val gopher = switch("gopher", "curate")
  private val paragraphDedup = switch("paragraph-dedup", "curate")
  private val exactDedup = switch("exact-dedup", "curate")
  private val qualitySample = switch("quality-sample", "curate")
  private val redactPii = switch("redact-pii", "curate")
  private val stageCounts = switch("stage-counts", "curate")

  private val checkpoint = text("checkpoint", "ingest")
  private val alertEndpoint = text("alert-endpoint", "ingest", "drain-alerts")
  // 'all' = unbounded (explicit opt-in — the pre-r5 silent default)
  private val maxFilesPerTrigger = checked[Option[Int]]("max-files-per-trigger", "ingest",
    "expected int > 0, or 'all' for unbounded")(v =>
    if (v == "all") Some(None) else v.toIntOption.filter(_ > 0).map(Some(_)))
  // off skips the per-batch history scan (batch validate then owns the
  // global check)
  private val crossBatchUnique = switch("cross-batch-unique", "ingest")
  private val baselineRefresh = checked("baseline-refresh", "ingest",
    "off|strict|all")(Some(_).filter(Set("off", "strict", "all")))

  private val keepBatches = checked("keep-batches", "compact-stream",
    "expected an integer >= 1 — the newest batch may be replayed " +
      "by a restarted stream and must never be moved")(_.toIntOption.filter(_ >= 1))
  // upper bound keeps the byte conversion from overflowing Long into a
  // negative value that would pass this check and die later
  private val targetFileBytes = checked("target-file-mb", "compact-stream",
    "expected MB >= 1")(_.toLongOption
    .filter(mb => mb >= 1 && mb <= Long.MaxValue / (1024L * 1024))
    .map(_ * 1024 * 1024))
  private val dryRun = switch("dry-run", "compact-stream", "on|off")

  // default 24h grace protects a concurrent writer's staged-but-not-yet-
  // published snapshot; 0 only when no writer can be in flight. Finite
  // only: 'Infinity' / '1e999' would make vacuum a silent permanent no-op
  private val graceMs = checked("grace-hours", "vacuum", "expected hours >= 0")(
    _.toDoubleOption.filter(h => h >= 0 && h.isFinite).map(h => (h * 3600 * 1000).toLong))

  /** The flag table, in the order values are checked. */
  private val flags: Seq[Flag[_]] = Seq(ledger, run, partitionCol, baseline,
    appendPolicy, blocklist, salt, maxPerHost, stripMinDocs, nearDupJaccard,
    maxSurprisal, noindex, unicodeNfc, c4, gopher, paragraphDedup, exactDedup,
    qualitySample, redactPii, stageCounts, checkpoint, alertEndpoint,
    maxFilesPerTrigger, crossBatchUnique, baselineRefresh, keepBatches,
    targetFileBytes, dryRun, graceMs)

  /** Flags each command actually reads — the parse rejects anything else. */
  private[graft] val commandFlags: Map[String, Set[String]] =
    flags.flatMap(f => f.commands.map(_ -> f.name)).groupMapReduce(_._1)(p => Set(p._2))(_ ++ _)

  private val positionals: Map[String, Int] = Map("validate" -> 2,
    "save-baseline" -> 2, "curate" -> 2, "ingest" -> 2, "vacuum" -> 1,
    "compact-stream" -> 1, "drain-alerts" -> 1)

  /** The whole command line, checked without Spark: the command, its flag
    * names, the positional count, every flag value and the cross-flag
    * rules. Left is the exact text for stderr (exit 64); Right is what the
    * command body reads.
    */
  private[graft] def parse(args: Array[String]): Either[String, Command] = {
    if (args.length < 2) return Left(usage)
    val cmd = args(0)
    if (!positionals.contains(cmd)) return Left(s"unknown command: $cmd\n$usage")
    val arity = positionals(cmd)
    // Strict flag hygiene: a typo'd flag name or a flag with no value must
    // fail loudly, not silently fall back to defaults (e.g. an ignored
    // --append-policy would pollute the baseline with the very rows strict
    // mode exists to exclude). Flags are validated PER COMMAND: a flag that
    // exists but belongs to a different command (--append-policy on
    // validate) is exactly such a silently-ignored default in disguise.
    val (pos, opts) = parseArgs(args.drop(1), commandFlags(cmd)) match {
      case Left(err) => return Left(s"$err\n$usage")
      case Right(parsed) => parsed
    }
    if (pos.length != arity)
      return Left(s"expected $arity positional arguments, got ${pos.length}\n$usage")
    val rejected = flags.iterator
      .flatMap(f => opts.get(f.name).filter(f.read(_).isEmpty).map(f.reject))
    if (rejected.hasNext) return Left(rejected.next())
    def get[A](f: Flag[A]): Option[A] = opts.get(f.name).flatMap(f.read)

    cmd match {
      case "validate" => Right(ValidateCmd(pos(0), pos(1), get(ledger), get(run),
        get(partitionCol).getOrElse(""), get(baseline)))
      case "save-baseline" => Right(SaveBaselineCmd(pos(0), pos(1),
        get(partitionCol).getOrElse(""), get(appendPolicy).contains("strict")))
      case "curate" =>
        val d = Curate.Config()
        Right(CurateCmd(pos(0), pos(1), Curate.Config(
          blocklist = get(blocklist).getOrElse(d.blocklist),
          dropNoindexPages = get(noindex).getOrElse(d.dropNoindexPages),
          unicodeNfc = get(unicodeNfc).getOrElse(d.unicodeNfc),
          stripBoilerplateMinDocs = get(stripMinDocs).getOrElse(d.stripBoilerplateMinDocs),
          c4 = get(c4).getOrElse(d.c4),
          gopher = get(gopher).getOrElse(d.gopher),
          paragraphDedup = get(paragraphDedup).getOrElse(d.paragraphDedup),
          maxSurprisal = get(maxSurprisal).getOrElse(d.maxSurprisal),
          exactTextDedup = get(exactDedup).getOrElse(d.exactTextDedup),
          nearDupJaccard = get(nearDupJaccard).getOrElse(d.nearDupJaccard),
          maxPerHost = get(maxPerHost).getOrElse(d.maxPerHost),
          qualitySample = get(qualitySample).getOrElse(d.qualitySample),
          redactPii = get(redactPii).getOrElse(d.redactPii),
          salt = get(salt).getOrElse(d.salt)),
          get(stageCounts).getOrElse(false)))
      case "ingest" =>
        val refresh = get(baselineRefresh).getOrElse("off")
        if (refresh != "off" && get(baseline).isEmpty)
          Left(s"--baseline-refresh $refresh requires --baseline <dir>\n$usage")
        else Right(IngestCmd(pos(0), pos(1),
          get(checkpoint).getOrElse(s"${pos(1)}/_checkpoint"), get(baseline),
          get(alertEndpoint),
          get(maxFilesPerTrigger).getOrElse(
            Some(graft.streaming.StreamingValidate.DefaultMaxFilesPerTrigger)),
          get(crossBatchUnique).getOrElse(true), refresh))
      case "drain-alerts" => get(alertEndpoint).map(DrainAlertsCmd(pos(0), _))
        .toRight(s"drain-alerts requires --alert-endpoint\n$usage")
      case "compact-stream" => Right(CompactStreamCmd(pos(0),
        get(keepBatches).getOrElse(2), get(targetFileBytes).getOrElse(128L * 1024 * 1024),
        get(dryRun).getOrElse(false)))
      case "vacuum" => Right(VacuumCmd(pos(0), get(graceMs).getOrElse(24L * 3600 * 1000)))
    }
  }

  /** Left-to-right argument parse: positionals kept in order, each `--flag`
    * must be in `knownFlags` and followed by a non-flag value token.
    * Replaces the old sliding(2) parse, where `--ledger --run r1` silently
    * took "--run" as the ledger value (creating a directory literally named
    * --run) and a positional that happened to equal some flag's value was
    * dropped (MatchError).
    */
  private[graft] def parseArgs(
      args: Array[String],
      knownFlags: Set[String] = commandFlags.values.flatten.toSet
  ): Either[String, (Seq[String], Map[String, String])] = {
    val positional = Seq.newBuilder[String]
    val opts = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val name = a.stripPrefix("--")
        if (!knownFlags(name)) return Left(s"unknown flag: $a")
        if (i + 1 >= args.length || args(i + 1).startsWith("--"))
          return Left(s"flag $a is missing its value")
        opts += name -> args(i + 1)
        i += 2
      } else {
        positional += a
        i += 1
      }
    }
    Right((positional.result(), opts.result()))
  }

  private[graft] val usage =
    """usage:
      |  graft.Main validate <inputPath> <outDir> [--ledger <dir|file.jsonl>] [--run <id>]
      |      [--partition-col <col>] [--baseline <dir>]
      |  graft.Main save-baseline <inputPath> <baselineDir> [--partition-col <col>]
      |      [--append-policy strict|all]
      |  graft.Main curate <inputPath> <outDir> [--blocklist d1,d2,...]
      |      [--noindex on|off] [--unicode-nfc on|off]
      |      [--strip-boilerplate-min-docs <n>] [--c4 on|off] [--gopher on|off]
      |      [--paragraph-dedup on|off] [--exact-dedup on|off]
      |      [--max-surprisal <0|x>]    (drop docs whose mean -ln p(word) under
      |                                  the corpus's own unigram distribution
      |                                  exceeds x — CCNet-style LM filtering
      |                                  with no external model)
      |      [--near-dup-jaccard <0|0..1>]  (MinHash+LSH near-dup resolution:
      |                                  keep one doc per near-dup component)
      |      [--max-per-host <k>] [--quality-sample on|off]
      |      [--redact-pii on|off] [--salt <s>] [--stage-counts on|off]
      |      (the full webtext curation chain — blocklist/noindex filters,
      |       optional NFC normalization + cross-doc boilerplate-line
      |       stripping, cross-doc paragraph dedup, C4 line+page cleaning,
      |       Gopher keep, exact-text dedup, per-host cap,
      |       quality-proportional sampling, optional PII redaction last —
      |       deterministic end to end; url must be unique (run validate's
      |       uniqueness check first). --stage-counts on reports per-stage
      |       survivor counts at the cost of one action per stage)
      |  graft.Main ingest <inputDir> <outDir> [--checkpoint <dir>] [--baseline <dir>]
      |      [--alert-endpoint <url>]   (per-batch {entityId,data} alert POSTs,
      |                                  spooled crash-safe under <outDir>/_alert_spool)
      |      [--max-files-per-trigger <n>|all]  (bound per-micro-batch size and
      |                                  memory; default 64 files, 'all' = one
      |                                  unbounded batch)
      |      [--cross-batch-unique on|off]  (flag urls already ingested by EARLIER
      |                                  micro-batches via a reconciliation join
      |                                  against the accumulated pages table;
      |                                  off skips the per-batch history scan)
      |      [--baseline-refresh off|strict|all]  (fold clean batches into the
      |                                  drift baseline after each commit; strict
      |                                  excludes partitions with failed checks —
      |                                  the reference's allowAppendOutlier dial)
      |  graft.Main vacuum <table> [--grace-hours <h>]
      |      (reclaim superseded manifest-mode snapshots older than the grace)
      |  graft.Main compact-stream <outDir> [--keep-batches <k>] [--target-file-mb <mb>] [--dry-run on]
      |      (roll old per-micro-batch dirs of pages/violations/verdicts into
      |       one large-file roll-up per lineage; the newest k batch dirs per
      |       lineage are never touched — k >= 1 keeps stream replay safe.
      |       Crash-safe: re-run after any interruption to converge)
      |  graft.Main drain-alerts <outDir> --alert-endpoint <url>
      |      (push the spooled alert backlog now; exit 0 = no rows known
      |       pending at listing time — NOT a license to delete the spool
      |       dir while an ingest stream is live (a concurrent spool()
      |       can land right after any listing),
      |       1 = pending payloads remain or quarantine entries — from this
      |       or any earlier call — await manual redelivery, 75 = another
      |       drain holds the spool lease: retry later)
      |""".stripMargin
}
