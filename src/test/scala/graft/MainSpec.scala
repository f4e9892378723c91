package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI argument hygiene: left-to-right parse, no silent flag-eats-flag. */
class MainSpec extends AnyFunSuite {

  private def parsed(args: String*) = Main.parseArgs(args.toArray)

  test("flags with values and positionals, in order") {
    parsed("/in", "/out", "--ledger", "/l", "--run", "r1") match {
      case Right((pos, opts)) =>
        assert(pos == Seq("/in", "/out"))
        assert(opts == Map("ledger" -> "/l", "run" -> "r1"))
      case Left(e) => fail(e)
    }
  }

  test("a flag followed by another flag is missing its value") {
    // the old sliding(2) parse silently took "--run" as the ledger value
    // and created a directory literally named --run
    assert(parsed("/in", "/out", "--ledger", "--run", "r1").isLeft)
  }

  test("dangling flag at the end is missing its value") {
    assert(parsed("/in", "/out", "--ledger").isLeft)
  }

  test("unknown flag is rejected") {
    assert(parsed("/in", "/out", "--nope", "x").isLeft)
  }

  test("a flag belonging to a different command is rejected") {
    // --append-policy is save-baseline's flag; on validate it would be
    // parsed then silently ignored — exactly the failure mode strict
    // hygiene exists to prevent
    assert(Main.parseArgs(
      Array("/in", "/out", "--append-policy", "strict"),
      Main.commandFlags("validate")).isLeft)
    assert(Main.parseArgs(
      Array("/in", "/out", "--append-policy", "strict"),
      Main.commandFlags("save-baseline")).isRight)
  }

  test("drain-alerts declares exactly its own flag set") {
    assert(Main.commandFlags("drain-alerts") == Set("alert-endpoint"))
    val ok = Main.parseArgs(
      Array("outdir", "--alert-endpoint", "http://x/alerts"),
      Main.commandFlags("drain-alerts"))
    assert(ok == Right((Seq("outdir"),
      Map("alert-endpoint" -> "http://x/alerts"))))
    // a flag from another command is rejected, not silently ignored
    assert(Main.parseArgs(Array("out", "--grace-hours", "1"),
      Main.commandFlags("drain-alerts")).isLeft)
  }

  test("ingest declares the round-5 dials") {
    assert(Main.commandFlags("ingest").contains("cross-batch-unique"))
    assert(Main.commandFlags("ingest").contains("baseline-refresh"))
    assert(Main.commandFlags("ingest").contains("max-files-per-trigger"))
  }

  test("curate declares exactly its stage dials") {
    assert(Main.commandFlags("curate") == Set("blocklist", "noindex",
      "unicode-nfc", "strip-boilerplate-min-docs", "c4", "gopher",
      "paragraph-dedup", "exact-dedup", "max-surprisal",
      "near-dup-jaccard", "max-per-host", "quality-sample", "redact-pii",
      "stage-counts", "salt"))
  }


  test("curate rejects the retired broadcast flags: unknown flag, exit 64") {
    // broadcast decisions follow spark.sql.autoBroadcastJoinThreshold; the
    // old per-stage flags must fail loudly, not fall back to a default
    for (flag <- Seq("broadcast-vocab", "broadcast-boilerplate"))
      assert(Main.parseArgs(Array("/in", "/out", s"--$flag", "off"),
        Main.commandFlags("curate")) == Left(s"unknown flag: --$flag"))
    // the CLI exits the process, so run it in a JVM of its own; the flag
    // check fails before any Spark session starts
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java")
    val proc = new ProcessBuilder(javaBin.toString, "-cp", sys.props("java.class.path"),
        "graft.Main", "curate", "/in", "/out", "--broadcast-vocab", "off")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 64, out)
    assert(out.contains("unknown flag: --broadcast-vocab"), out)
  }

  test("a positional equal to some flag's value is kept") {
    // old parse extracted positionals by value-inequality with flag values,
    // so `validate /d /out --ledger /out` lost /out → MatchError
    parsed("/d", "/out", "--ledger", "/out") match {
      case Right((pos, opts)) =>
        assert(pos == Seq("/d", "/out"))
        assert(opts == Map("ledger" -> "/out"))
      case Left(e) => fail(e)
    }
  }

  // ---- the flag table. The pinned texts and values below were captured
  // from the CLI as it was before its flags moved into one table: one
  // process per case, over a valid WebGen input so each command reached its
  // check. A `parse` Left is exactly what `main` prints before its single
  // usage `sys.exit(64)`.

  /** (command line, stderr message, whether the usage text follows it):
    * one rejected value for each of the 21 value-checked flags.
    */
  private val rejections: Seq[(Seq[String], String, Boolean)] = Seq(
    (Seq("curate", "/in", "/out", "--noindex", "yes"),
      "invalid --noindex: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--unicode-nfc", "yes"),
      "invalid --unicode-nfc: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--c4", "yes"),
      "invalid --c4: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--gopher", "yes"),
      "invalid --gopher: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--paragraph-dedup", "yes"),
      "invalid --paragraph-dedup: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--exact-dedup", "yes"),
      "invalid --exact-dedup: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--quality-sample", "yes"),
      "invalid --quality-sample: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--redact-pii", "yes"),
      "invalid --redact-pii: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--stage-counts", "yes"),
      "invalid --stage-counts: 'yes' (expected on|off)", true),
    (Seq("curate", "/in", "/out", "--max-per-host", "0"),
      "invalid --max-per-host: '0' (expected int >= 1)", true),
    (Seq("curate", "/in", "/out", "--strip-boilerplate-min-docs", "1"),
      "invalid --strip-boilerplate-min-docs: '1' (expected 0 = off, or int >= 2)", true),
    (Seq("curate", "/in", "/out", "--near-dup-jaccard", "1.5"),
      "invalid --near-dup-jaccard: '1.5' (expected 0 = off, or a threshold in (0,1])", true),
    (Seq("curate", "/in", "/out", "--max-surprisal", "-1"),
      "invalid --max-surprisal: '-1' (expected 0 = off, or a finite positive cap)", true),
    (Seq("ingest", "/in", "/out", "--max-files-per-trigger", "0"),
      "invalid --max-files-per-trigger: '0' (expected int > 0, or 'all' for unbounded)", true),
    (Seq("ingest", "/in", "/out", "--cross-batch-unique", "maybe"),
      "invalid --cross-batch-unique: 'maybe' (expected on|off)", true),
    (Seq("ingest", "/in", "/out", "--baseline-refresh", "sometimes"),
      "invalid --baseline-refresh: 'sometimes' (off|strict|all)", true),
    (Seq("compact-stream", "/out", "--keep-batches", "0"),
      "invalid --keep-batches: '0' (expected an integer >= 1 — the newest batch " +
        "may be replayed by a restarted stream and must never be moved)", true),
    (Seq("compact-stream", "/out", "--target-file-mb", "0"),
      "invalid --target-file-mb: '0' (expected MB >= 1)", true),
    (Seq("compact-stream", "/out", "--dry-run", "yes"),
      "invalid --dry-run: 'yes' (on|off)", true),
    (Seq("vacuum", "/out", "--grace-hours", "-1"),
      "invalid --grace-hours: '-1' (expected hours >= 0)", true),
    (Seq("save-baseline", "/in", "/out", "--append-policy", "lenient"),
      "unknown --append-policy: lenient (strict|all)", false))

  /** The two cross-flag rules and the positional counts, same shape. */
  private val ruleErrors: Seq[(Seq[String], String, Boolean)] = Seq(
    (Seq("ingest", "/in", "/out", "--baseline-refresh", "strict"),
      "--baseline-refresh strict requires --baseline <dir>", true),
    (Seq("drain-alerts", "/out"),
      "drain-alerts requires --alert-endpoint", true),
    (Seq("curate", "/in"),
      "expected 2 positional arguments, got 1", true),
    (Seq("curate", "/in", "/out", "extra"),
      "expected 2 positional arguments, got 3", true),
    (Seq("vacuum", "a", "b"),
      "expected 1 positional arguments, got 2", true),
    (Seq("validate", "/in", "/out", "x"),
      "expected 2 positional arguments, got 3", true))

  private def stderrText(msg: String, withUsage: Boolean): String =
    if (withUsage) s"$msg\n${Main.usage}" else msg

  test("every value-checked flag is rejected with its pinned text") {
    assert(rejections.map(_._1.find(_.startsWith("--"))).distinct.size == 21)
    for ((args, msg, withUsage) <- rejections ++ ruleErrors)
      assert(Main.parse(args.toArray) == Left(stderrText(msg, withUsage)), args)
  }

  test("the usage text is pinned byte for byte") {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Main.usage.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a deliberate edit of the usage text updates this pin
    assert(sha == "41a9a649ad700b11814fe98829c588ddd7b1cbc8eb9f0230497d6ff2e05eab35")
    assert(Main.parse(Array("validate")) == Left(Main.usage))
    assert(Main.parse(Array("nope", "x")) == Left(s"unknown command: nope\n${Main.usage}"))
  }

  test("numeric flags accept exactly their pinned edge values") {
    val edges = Seq("", " 1", "NaN", "Infinity", "1e999", "0x10", "1d", "-0", "2147483648")
    val curate = Seq("curate", "/in", "/out")
    val compact = Seq("compact-stream", "/out")
    // (command line, flag, the edge values that pass its check)
    val accepted: Seq[(Seq[String], String, Set[String])] = Seq(
      (curate, "max-per-host", Set()),
      (curate, "strip-boilerplate-min-docs", Set("-0", "2147483648")),
      (curate, "near-dup-jaccard", Set(" 1", "1d", "-0")),
      (curate, "max-surprisal", Set(" 1", "1d", "-0", "2147483648")),
      (Seq("ingest", "/in", "/out"), "max-files-per-trigger", Set()),
      (compact, "keep-batches", Set()),
      (compact, "target-file-mb", Set("2147483648")),
      (Seq("vacuum", "/t"), "grace-hours", Set(" 1", "1d", "-0", "2147483648")))
    // a rejected edge value prints its flag's row text with the value swapped in
    def rejected(flag: String, v: String): Either[String, Main.Command] = {
      val (args, msg, withUsage) = rejections.find(_._1.contains(s"--$flag")).get
      Left(stderrText(msg.replace(s"'${args.last}'", s"'$v'"), withUsage))
    }
    for ((cmd, flag, ok) <- accepted; v <- edges) {
      val got = Main.parse((cmd ++ Seq(s"--$flag", v)).toArray)
      if (ok(v)) assert(got.isRight, s"--$flag '$v': $got")
      else assert(got == rejected(flag, v), s"--$flag '$v'")
    }
    // the MB → bytes conversion must not overflow Long
    assert(Main.parse((compact ++ Seq("--target-file-mb", "8796093022207")).toArray) ==
      Right(Main.CompactStreamCmd("/out", 2, 8796093022207L * 1024 * 1024, dryRun = false)))
    assert(Main.parse((compact ++ Seq("--target-file-mb", "8796093022208")).toArray) ==
      rejected("target-file-mb", "8796093022208"))
  }

  test("curate: parse yields the pinned Curate.Config with no flags and with every flag") {
    import graft.operators.Curate
    assert(Main.parse(Array("curate", "/in", "/out")) == Right(Main.CurateCmd("/in", "/out",
      Curate.Config(blocklist = Nil, dropNoindexPages = true, unicodeNfc = false,
        stripBoilerplateMinDocs = 0L, c4 = true, gopher = true, paragraphDedup = true,
        maxSurprisal = 0.0, exactTextDedup = true, nearDupJaccard = 0.0, maxPerHost = 0,
        qualitySample = false, redactPii = false, salt = "curate"),
      stageCounts = false)))
    val everyFlag = Array("curate", "/in", "/out", "--blocklist", " a.com, b.org ,,c.net",
      "--noindex", "off", "--unicode-nfc", "on", "--strip-boilerplate-min-docs", "3",
      "--c4", "off", "--gopher", "off", "--paragraph-dedup", "off", "--exact-dedup", "off",
      "--max-surprisal", "7.5", "--near-dup-jaccard", "0.8", "--max-per-host", "5",
      "--quality-sample", "on", "--redact-pii", "on", "--salt", "s1", "--stage-counts", "on")
    assert(Main.parse(everyFlag) == Right(Main.CurateCmd("/in", "/out",
      Curate.Config(blocklist = Seq("a.com", "b.org", "c.net"), dropNoindexPages = false,
        unicodeNfc = true, stripBoilerplateMinDocs = 3L, c4 = false, gopher = false,
        paragraphDedup = false, maxSurprisal = 7.5, exactTextDedup = false,
        nearDupJaccard = 0.8, maxPerHost = 5, qualitySample = true, redactPii = true,
        salt = "s1"),
      stageCounts = true)))
  }

  test("the flag table derives every command's flag set") {
    assert(Main.commandFlags == Map(
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
      "drain-alerts" -> Set("alert-endpoint")))
  }

  test("the other commands keep their defaults") {
    assert(Main.parse(Array("validate", "/in", "/out")) ==
      Right(Main.ValidateCmd("/in", "/out", None, None, "", None)))
    assert(Main.parse(Array("save-baseline", "/in", "/b", "--append-policy", "all")) ==
      Right(Main.SaveBaselineCmd("/in", "/b", "", strict = false)))
    assert(Main.parse(Array("ingest", "/in", "/out")) == Right(Main.IngestCmd("/in", "/out",
      "/out/_checkpoint", None, None, Some(64), crossBatchUnique = true, "off")))
    assert(Main.parse(Array("ingest", "/in", "/out", "--max-files-per-trigger", "all",
      "--baseline", "/b", "--baseline-refresh", "strict")) == Right(Main.IngestCmd("/in",
      "/out", "/out/_checkpoint", Some("/b"), None, None, crossBatchUnique = true, "strict")))
    assert(Main.parse(Array("compact-stream", "/out")) ==
      Right(Main.CompactStreamCmd("/out", 2, 128L * 1024 * 1024, dryRun = false)))
    assert(Main.parse(Array("vacuum", "/t")) == Right(Main.VacuumCmd("/t", 24L * 3600 * 1000)))
    assert(Main.parse(Array("vacuum", "/t", "--grace-hours", "0.5")) ==
      Right(Main.VacuumCmd("/t", 1800L * 1000)))
    assert(Main.parse(Array("drain-alerts", "/out", "--alert-endpoint", "http://x")) ==
      Right(Main.DrainAlertsCmd("/out", "http://x")))
  }

  test("a rejected value exits 64 before Spark reads the input") {
    // /in does not exist: a check that ran after the read would exit 1
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java")
    val proc = new ProcessBuilder(javaBin.toString,
        // UTF-8 stderr on JDK 17 and on 18+ (the usage text has em dashes)
        "-Dsun.stderr.encoding=UTF-8", "-Dstderr.encoding=UTF-8",
        "-cp", sys.props("java.class.path"),
        "graft.Main", "curate", "/in", "/out", "--max-per-host", "0").start()
    val err = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 64, err)
    // the message and the usage text, nothing else (no Spark log lines)
    val text = err.linesWithSeparators.filterNot(_.startsWith("Picked up ")).mkString
    assert(text == stderrText("invalid --max-per-host: '0' (expected int >= 1)", true) + "\n")
  }
}
