package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Ledger, Validator, WebSchema}

/** spark-submit entry point:
  *
  *   spark-submit --class graft.Main sodspark.jar \
  *     validate <inputPath> <outDir> [--ledger <dir>] [--run <id>]
  *        [--partition-col <col>] [--baseline <dir>]
  *   spark-submit --class graft.Main sodspark.jar \
  *     save-baseline <inputPath> <baselineDir> [--partition-col <col>]
  *
  * `validate` runs the full pass (schema gate → stats/sketches → constraints
  * → drift) over an `input_hint`-shaped table, writing violations, verdicts
  * and column_stats under <outDir>. With --ledger, completed partitions are
  * skipped on re-run (resume). Exit code 1 when any verdict failed, 2 on
  * schema mismatch — usable as a data-quality gate in a pipeline.
  *
  * No master/config is forced here: spark-submit supplies them (cluster
  * deploys set executors/shuffle partitions per cluster size).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(64) }
    val cmd = args(0)
    if (!commandFlags.contains(cmd)) {
      System.err.println(s"unknown command: $cmd\n$usage")
      sys.exit(64)
    }
    // Strict flag hygiene: a typo'd flag name or a flag with no value must
    // fail loudly, not silently fall back to defaults (e.g. an ignored
    // --append-policy would pollute the baseline with the very rows strict
    // mode exists to exclude). Flags are validated PER COMMAND: a flag that
    // exists but belongs to a different command (--append-policy on
    // validate) is exactly such a silently-ignored default in disguise.
    val (positional, opts) = parseArgs(args.drop(1), commandFlags(cmd)) match {
      case Left(err) =>
        System.err.println(s"$err\n$usage")
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

    val partitionCol = opts.getOrElse("partition-col", "")

    // `validate` addresses its tables as PATHS under <outDir> and routes
    // writes/reads through TableIO; commitMode=iceberg addresses catalog
    // identifiers — mixing them would write through the Iceberg committer
    // but read nothing back (or silently bypass the configured committer on
    // the raw-overwrite branch). `ingest` is untouched: its sink writes
    // plain path parquet and never consults the committer, so a fleet-wide
    // iceberg conf must not break the daily tick. `vacuum` accepts an
    // identifier and dispatches correctly.
    if (cmd == "validate" &&
        spark.conf.get(graft.engine.TableIO.CommitModeConf, "rename") == "iceberg") {
      System.err.println("[sodspark] commitMode=iceberg is not supported by " +
        "the outDir/path-based validate flow; use rename or manifest here, " +
        "or drive Iceberg tables through the TableCommitter API with " +
        "catalog identifiers")
      sys.exit(64)
    }

    def load(path: String) = {
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
                lit(graft.engine.Validator.UnknownPartition)))
          else
            raw.withColumn("partition",
              coalesce(date_format(col("warc_ts"), "yyyy-MM-dd"),
                lit(graft.engine.Validator.UnknownPartition)))
      }
    }

    cmd match {
      case "validate" =>
        val Seq(in, out) = requirePositionals(positional, 2)
        val wp = load(in)
        val baseline = opts.get("baseline")
          .map(Validator.loadBaseline(spark, _)).getOrElse(Map.empty)
        val failed: Long = opts.get("ledger") match {
          case Some(ledgerDir) =>
            val runId = opts.getOrElse("run", "run-" + java.util.UUID.randomUUID())
            val processed = Validator.runWithLedger(
              wp, Ledger(ledgerDir), runId, out, baselineProfiles = baseline)
            println(s"[sodspark] processed partitions: ${processed.size}")
            // readTable: resolves the manifest when commitMode=manifest,
            // plain parquet read otherwise
            graft.engine.TableIO.readTable(spark, s"$out/verdicts")
              .where(!col("passed")).count()
          case None =>
            val res = Validator.validate(wp, baselineProfiles = baseline)
            try {
              if (spark.conf.get(graft.engine.TableIO.CommitModeConf,
                  "rename") == "manifest") {
                // the operator configured manifest commits (object-store
                // deploy): honor it here too — a plain whole-dir overwrite
                // would silently bypass the atomicity they asked for. The
                // non-ledger CLI is a FULL REPLACE (the rename branch
                // overwrites the whole dir), so `computed` must cover this
                // run's partitions AND every partition any output table
                // previously carried — otherwise stale verdicts from a
                // prior MANIFEST-MODE run would silently survive beside
                // this run's. (Prior RENAME-layout outputs never reach
                // this point: writePartitionsAtomic's mode-switch guard
                // rejects a manifest commit over rename dirs up front.)
                import graft.engine.TableIO
                val allParts = res.stats.select(col("partition")).distinct()
                  .collect().map(_.getString(0)).toSeq
                val priorParts = Seq("violations", "verdicts", "column_stats")
                  .flatMap(t => TableIO.livePartitions(spark, s"$out/$t"))
                Validator.commitResults(res, out,
                  (allParts ++ priorParts).distinct)
              } else {
                // guard the raw-overwrite path too: mode("overwrite")
                // non-atomically DESTROYS a manifest table's snapshots and
                // versioned history mid-job (and under dynamic partition
                // overwrite would instead strand readers on the stale
                // manifest) — either way the configured commit discipline
                // is silently violated, so fail up front
                Seq("violations", "verdicts", "column_stats").foreach { t =>
                  if (graft.engine.TableIO.isManifestTable(spark, s"$out/$t")) {
                    System.err.println(s"[sodspark] $out/$t is a " +
                      "manifest-committed table but " +
                      s"${graft.engine.TableIO.CommitModeConf} is 'rename' — " +
                      "set it to 'manifest' for this run or use a fresh outDir")
                    sys.exit(64)
                  }
                }
                res.violations
                  .sortWithinPartitions(col("partition"), col("check_name"), col("url"))
                  .write.mode("overwrite").partitionBy("partition").parquet(s"$out/violations")
                res.verdicts.write.mode("overwrite").parquet(s"$out/verdicts")
                res.stats.write.mode("overwrite").parquet(s"$out/column_stats")
              }
              res.verdicts.where(!col("passed")).count()
            } finally res.unpersist()
        }
        println(s"[sodspark] failed checks: $failed")
        spark.stop()
        sys.exit(if (failed > 0) 1 else 0)

      case "save-baseline" =>
        val Seq(in, out) = requirePositionals(positional, 2)
        // ST5 append policy (reference allowAppendOutlier=false analog):
        // --append-policy strict keeps violating rows OUT of the model
        opts.get("append-policy") match {
          case Some("strict") =>
            val rowChecks = Validator.DefaultChecks
              .collect { case c: graft.engine.Constraints.RowCheck => c }
            Validator.saveBaseline(load(in), out, rowChecks)
          case Some(other) if other != "all" =>
            System.err.println(s"unknown --append-policy: $other (strict|all)")
            sys.exit(64)
          case _ => Validator.saveBaseline(load(in), out)
        }
        println(s"[sodspark] baseline written to $out")
        spark.stop()

      // The full webtext curation chain (crawl table in → clean corpus
      // out) as one job; stages and their order live in operators/Curate.
      case "curate" =>
        val Seq(in, out) = requirePositionals(positional, 2)
        // same contract as ingest: plain path-based parquet writes, the
        // TableCommitter is never consulted — say so rather than silently
        // ignoring an explicitly-configured iceberg mode
        if (spark.conf.get(graft.engine.TableIO.CommitModeConf, "rename") == "iceberg")
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
        def onOff(flag: String, default: Boolean): Boolean =
          opts.get(flag) match {
            case None        => default
            case Some("on")  => true
            case Some("off") => false
            case Some(other) =>
              System.err.println(
                s"invalid --$flag: '$other' (expected on|off)\n$usage")
              sys.exit(64)
              throw new IllegalStateException
          }
        val maxPerHost = opts.get("max-per-host").map { v =>
          val n = scala.util.Try(v.toInt).getOrElse(-1)
          if (n < 1) {
            System.err.println(
              s"invalid --max-per-host: '$v' (expected int >= 1)\n$usage")
            sys.exit(64)
          }
          n
        }.getOrElse(0)
        val stripMinDocs = opts.get("strip-boilerplate-min-docs").map { v =>
          val n = scala.util.Try(v.toLong).getOrElse(-1L)
          if (n != 0L && n < 2L) { // 0 = explicit off (template-friendly)
            System.err.println("invalid --strip-boilerplate-min-docs: " +
              s"'$v' (expected 0 = off, or int >= 2)\n$usage")
            sys.exit(64)
          }
          n
        }.getOrElse(0L)
        val nearDup = opts.get("near-dup-jaccard").map { v =>
          val x = scala.util.Try(v.toDouble).getOrElse(-1.0)
          if (x < 0.0 || x > 1.0 || x.isNaN) { // 0 = explicit off
            System.err.println("invalid --near-dup-jaccard: " +
              s"'$v' (expected 0 = off, or a threshold in (0,1])\n$usage")
            sys.exit(64)
          }
          x
        }.getOrElse(0.0)
        val maxSurprisal = opts.get("max-surprisal").map { v =>
          val x = scala.util.Try(v.toDouble).getOrElse(-1.0)
          // 0 = explicit off; Infinity would silently enable a stage that
          // pays the corpus-wide vocab pass yet filters nothing
          if (x < 0.0 || x.isNaN || x.isInfinity) {
            System.err.println("invalid --max-surprisal: " +
              s"'$v' (expected 0 = off, or a finite positive cap)\n$usage")
            sys.exit(64)
          }
          x
        }.getOrElse(0.0)
        val cfg = graft.operators.Curate.Config(
          nearDupJaccard = nearDup,
          maxSurprisal = maxSurprisal,
          blocklist = opts.get("blocklist")
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Nil),
          dropNoindexPages = onOff("noindex", default = true),
          unicodeNfc = onOff("unicode-nfc", default = false),
          stripBoilerplateMinDocs = stripMinDocs,
          c4 = onOff("c4", default = true),
          gopher = onOff("gopher", default = true),
          paragraphDedup = onOff("paragraph-dedup", default = true),
          exactTextDedup = onOff("exact-dedup", default = true),
          maxPerHost = maxPerHost,
          qualitySample = onOff("quality-sample", default = false),
          redactPii = onOff("redact-pii", default = false),
          salt = opts.getOrElse("salt", "curate"))
        if (onOff("stage-counts", default = false)) {
          val (cleaned, counts) =
            graft.operators.Curate.curateWithCounts(raw, cfg)
          cleaned.write.mode("overwrite").parquet(out)
          cleaned.unpersist(false)
          val stageJson = counts.map { case (k, v) => s""""$k":$v""" }
            .mkString("{", ",", "}")
          println(s"[sodspark] curate stages=$stageJson")
          println(s"[sodspark] curate wrote ${counts.last._2} of " +
            s"${counts.head._2} rows to $out")
        } else {
          graft.operators.Curate.curate(raw, cfg)
            .write.mode("overwrite").parquet(out)
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
      case "ingest" =>
        val Seq(in, out) = requirePositionals(positional, 2)
        // the streaming sink writes plain path parquet and never consults
        // the TableCommitter — an explicitly-configured iceberg mode is a
        // no-op here; say so once rather than silently ignoring the conf
        if (spark.conf.get(graft.engine.TableIO.CommitModeConf, "rename") == "iceberg")
          System.err.println("[sodspark] note: commitMode=iceberg does not " +
            "apply to the ingest sink (path-based parquet writes); the " +
            "conf is ignored for this command")
        val ckpt = opts.getOrElse("checkpoint", s"$out/_checkpoint")
        // absent → the conservative default; 'all' → unbounded (explicit
        // opt-in — the pre-r5 silent default); n → that bound
        val maxFiles: Option[Int] = opts.get("max-files-per-trigger") match {
          case None        => Some(graft.streaming.StreamingValidate
            .DefaultMaxFilesPerTrigger)
          case Some("all") => None
          case Some(v) =>
            v.toIntOption.filter(_ > 0).map(Some(_)).getOrElse {
              System.err.println(s"invalid --max-files-per-trigger: '$v' " +
                s"(expected int > 0, or 'all' for unbounded)\n$usage")
              sys.exit(64)
              throw new IllegalStateException
            }
        }
        val crossBatch = opts.getOrElse("cross-batch-unique", "on") match {
          case "on"  => true
          case "off" => false // skip the per-batch history scan (batch
                              // validate then owns the global check)
          case other =>
            System.err.println(
              s"invalid --cross-batch-unique: '$other' (expected on|off)\n$usage")
            sys.exit(64)
            throw new IllegalStateException
        }
        val refreshPolicy = opts.getOrElse("baseline-refresh", "off")
        if (!Set("off", "strict", "all")(refreshPolicy)) {
          System.err.println(
            s"invalid --baseline-refresh: '$refreshPolicy' (off|strict|all)\n$usage")
          sys.exit(64)
        }
        if (refreshPolicy != "off" && opts.get("baseline").isEmpty) {
          System.err.println(
            s"--baseline-refresh $refreshPolicy requires --baseline <dir>\n$usage")
          sys.exit(64)
        }
        val q = graft.streaming.StreamingValidate
          .incrementalValidate(spark, in, out, ckpt,
            baselineDir = opts.get("baseline"),
            alertEndpoint = opts.get("alert-endpoint"),
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
      case "drain-alerts" =>
        val Seq(out) = requirePositionals(positional, 1)
        val ep = opts.getOrElse("alert-endpoint", {
          System.err.println(s"drain-alerts requires --alert-endpoint\n$usage")
          sys.exit(64)
          throw new IllegalStateException
        })
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
      case "compact-stream" =>
        val Seq(outDir) = requirePositionals(positional, 1)
        val keepRaw = opts.getOrElse("keep-batches", "2")
        val keep = keepRaw.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"invalid --keep-batches: '$keepRaw' " +
            s"(expected an integer >= 1 — the newest batch may be replayed " +
            s"by a restarted stream and must never be moved)\n$usage")
          sys.exit(64); throw new IllegalStateException
        }
        val mbRaw = opts.getOrElse("target-file-mb", "128")
        // upper bound keeps the byte conversion from overflowing Long into
        // a negative value that would skip this usage check and die later
        val targetBytes = mbRaw.toLongOption
          .filter(mb => mb >= 1 && mb <= Long.MaxValue / (1024L * 1024))
          .map(_ * 1024 * 1024)
          .getOrElse {
            System.err.println(
              s"invalid --target-file-mb: '$mbRaw' (expected MB >= 1)\n$usage")
            sys.exit(64); throw new IllegalStateException
          }
        val dryRun = opts.getOrElse("dry-run", "off") match {
          case "on"  => true
          case "off" => false
          case other =>
            System.err.println(s"invalid --dry-run: '$other' (on|off)\n$usage")
            sys.exit(64); throw new IllegalStateException
        }
        val results = graft.streaming.StreamCompact.compactAll(
          spark, outDir, keep, targetBytes, dryRun)
        val tag = if (dryRun) "compact DRY-RUN (nothing changed)" else "compact"
        results.foreach(r => println(s"[sodspark] $tag ${r.summary}"))
        spark.stop()

      // Manifest-table maintenance: reclaim snapshot dirs superseded by
      // later commits (run after in-flight readers drain — Iceberg's
      // expire_snapshots contract). No-op on rename-mode tables.
      case "vacuum" =>
        val Seq(table) = requirePositionals(positional, 1)
        // default 24h grace protects a concurrent writer's staged-but-not-
        // yet-published snapshot; 0 only when no writer can be in flight
        val graceRaw = opts.getOrElse("grace-hours", "24")
        val graceMs = graceRaw.toDoubleOption match {
          // finite only: 'Infinity' / '1e999' would make vacuum a silent
          // permanent no-op, the opposite of what validation is for
          case Some(h) if h >= 0 && h.isFinite => (h * 3600 * 1000).toLong
          case _ =>
            System.err.println(
              s"invalid --grace-hours: '$graceRaw' (expected hours >= 0)\n$usage")
            sys.exit(64)
            throw new IllegalStateException
        }
        val removed = graft.engine.TableIO.vacuum(spark, table, graceMs)
        println(s"[sodspark] vacuumed ${removed.size} snapshot(s)" +
          (if (removed.isEmpty) "" else s": ${removed.mkString(", ")}"))
        spark.stop()

      case other =>
        System.err.println(s"unknown command: $other\n$usage")
        sys.exit(64)
    }
  }

  private def requirePositionals(positional: Seq[String], n: Int): Seq[String] = {
    if (positional.length != n) {
      System.err.println(
        s"expected $n positional arguments, got ${positional.length}\n$usage")
      sys.exit(64)
    }
    positional
  }

  /** Flags each command actually reads — the parse rejects anything else. */
  private[graft] val commandFlags: Map[String, Set[String]] = Map(
    "validate" -> Set("ledger", "run", "partition-col", "baseline"),
    "save-baseline" -> Set("partition-col", "append-policy"),
    "curate" -> Set("blocklist", "noindex", "unicode-nfc",
      "strip-boilerplate-min-docs", "c4", "gopher", "paragraph-dedup",
      "exact-dedup", "max-surprisal", "near-dup-jaccard",
      "max-per-host", "quality-sample", "redact-pii", "stage-counts", "salt"),
    "ingest" -> Set("checkpoint", "baseline", "alert-endpoint",
      "max-files-per-trigger", "cross-batch-unique", "baseline-refresh"),
    "vacuum" -> Set("grace-hours"),
    "compact-stream" -> Set("keep-batches", "target-file-mb", "dry-run"),
    "drain-alerts" -> Set("alert-endpoint"))

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

  private val usage =
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
