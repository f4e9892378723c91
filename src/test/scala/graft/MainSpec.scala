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
}
