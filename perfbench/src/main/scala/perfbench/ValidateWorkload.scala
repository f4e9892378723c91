package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Constraints, Drift, Ledger, StatsPass, TableIO, Validator, WebSchema}
import graft.engine.sketch.KllAgg
import graft.fixtures.WebGen

/** `validate-full`: `Validator.runWithLedger` into a fresh outDir with a
  * JSONL ledger, rename commit and drift against a saved clean baseline.
  * Its traced run adds the same pass committed in manifest mode (layer
  * names prefixed `manifest.`) and one curate-chain op.
  * `validate-resume` (manifest commit mode): set-up commits one full run;
  * each op marks the newest 1/8 of the day partitions pending and resumes.
  */
final class ValidateWorkload(spark: SparkSession, ctx: Ctx, resume: Boolean)
    extends Workload(spark, ctx) {
  import spark.implicits._
  import ValidateWorkload.n

  val name: String = if (resume) "validate-resume" else "validate-full"
  val warmupOps = 3

  private def day(i: Int): String = java.time.LocalDate.parse("2025-07-01")
    .plusDays(i.toLong).toString
  // inside the fixture whatever its size: the last full day is n*37/86400-1
  private val lastFull = math.max(2, (n * WebGen.SecondsStep / 86400L).toInt - 1)
  private val langDriftDay = day(lastFull / 3)
  private val lenDriftDay = day(2 * lastFull / 3)
  private val fixture = ValidateWorkload.fixture(ctx)
  private val config = Validator.Config(Validator.DefaultChecks)
  private val rowChecks =
    Validator.DefaultChecks.collect { case c: Constraints.RowCheck => c }

  private var wp: DataFrame = _
  private var baseline: Map[String, IndexedSeq[Array[Double]]] = Map.empty
  private var parts: Seq[String] = Nil
  private var rowsPerPart: Map[String, Long] = Map.empty
  private var fullVerdicts: Set[String] = Set.empty
  private var outDir: Path = _
  private var ledgerPath: Path = _
  private var setups = 0
  private val baselineWalls = Seq.newBuilder[Double]

  def prepare(): Unit = Fixtures.ensure(spark, fixture) { out =>
    Fixtures.webPages(spark, n, ctx.seed, Fixtures.WebFlags.copy(
        langDriftDay = Some(langDriftDay), lenDriftDay = Some(lenDriftDay)))
      .write.parquet(out)
  }

  private def load(): DataFrame = {
    val raw = spark.read.parquet(fixture.resolve("data").toString)
    WebSchema.validate(raw) match {
      case Left(err) => throw new IllegalStateException(err)
      case Right(_) => Fixtures.withDay(raw)
    }
  }

  def setup(): Unit = {
    setups += 1
    Fixtures.load(spark, fixture)
    wp = load()
    val baseDir = ctx.run.resolve(s"baseline-$setups").toString
    val t0 = System.nanoTime()
    Validator.saveBaseline(
      wp.where(!col("partition").isin(langDriftDay, lenDriftDay)), baseDir)
    baseline = Validator.loadBaseline(spark, baseDir)
    baselineWalls += (System.nanoTime() - t0) / 1e9
    rowsPerPart = wp.groupBy("partition").count().as[(String, Long)].collect().toMap
    parts = rowsPerPart.keys.toSeq.sorted
  }

  /** validate-resume: the full ledgered run the ops resume. */
  override def setupOnce(): Unit = if (resume) {
    outDir = ctx.run.resolve("out-full")
    ledgerPath = ctx.run.resolve("ledger-full.jsonl")
    Validator.runWithLedger(wp, Ledger(ledgerPath.toString), "setup",
      outDir.toString, config, baseline)
    fullVerdicts = verdictKeys(outDir, parts)
  }

  override def setupLayers: Map[String, Double] =
    Map("engine.BaselineStore.wall_s" -> Util.median(baselineWalls.result()))

  /** The newest 1/8 of the partitions, re-validated by each resume op. */
  private def pendingParts: Seq[String] = parts.takeRight(math.max(1, parts.size / 8))

  private def opDirs(i: Int): (Path, Path) =
    if (resume) (outDir, ledgerPath)
    else (ctx.run.resolve(s"out-$i"), ctx.run.resolve(s"ledger-$i.jsonl"))

  def op(i: Int): OpOutcome = {
    val (out, ledgerFile) = opDirs(i)
    val ledger = Ledger(ledgerFile.toString)
    if (resume) pendingParts.foreach(ledger.markPending(_, s"op$i"))
    val processed = Validator.runWithLedger(wp, ledger, s"op$i", out.toString,
      config, baseline)
    outcome(processed, out, ledgerFile)
  }

  private def outcome(processed: Seq[String], out: Path, ledgerFile: Path) =
    if (resume)
      checked(processed, pendingParts, ledgerFile)(checkResumed(out, pendingParts))
    else
      checked(processed, parts, ledgerFile) {
        try checkFull(out)
        finally { Util.deleteTree(out); Files.deleteIfExists(ledgerFile); () }
      }

  private def fail(msg: String) = throw new IllegalStateException(s"$name: $msg")

  /** The op processed `want` and the ledger shows every partition done;
    * then the `outputs` check.
    */
  private def checked(processed: Seq[String], want: Seq[String], ledgerFile: Path)(
      outputs: => Unit): OpOutcome =
    OpOutcome(want.map(rowsPerPart).sum, () => {
      if (processed.toSet != want.toSet)
        fail(s"processed ${processed.size} partitions, expected ${want.size}")
      val done = Ledger(ledgerFile.toString).donePartitions()
      if (done != parts.toSet)
        fail(s"ledger shows ${done.size} of ${parts.size} partitions done")
      outputs
    })

  /** Verdict rows of `ps` in a comparable form (drift scores at 9 digits),
    * read the way `graft.Main` reads them, at session defaults.
    */
  private def verdictKeys(out: Path, ps: Seq[String]): Set[String] = {
    val want = ps.toSet
    TableIO.readTable(spark, s"$out/verdicts")
      .select(col("partition").cast("string"), concat_ws("|", col("partition"),
        col("check_name"), col("status"), col("passed").cast("string"),
        col("n_violations").cast("string"), format_string("%.9g", col("score"))))
      .as[(String, String)].collect().collect { case (p, k) if want(p) => k }.toSet
  }

  private def checkResumed(out: Path, want: Seq[String]): Unit = {
    val got = verdictKeys(out, want)
    val exp = fullVerdicts.filter(k => want.exists(p => k.startsWith(p + "|")))
    if (got != exp)
      fail(s"resumed verdicts differ from the full run's: " +
        s"${(got diff exp).take(2)} vs ${(exp diff got).take(2)}")
  }

  private def checkFull(out: Path): Unit = {
    val counts = TableIO.readTable(spark, s"$out/violations")
      .groupBy("check_name").count().as[(String, Long)].collect().toMap
    // WebGen flags: text NULL on every 53rd row, a trailing space on every
    // 71st row whose text is not NULL, row i reusing row i-1's url on
    // every 97th row (i > 0)
    val m = Workload.multiples(0L, n, _: Long)
    val expected = Map(
      "not_null_text" -> m(53),
      "byte_identical_text" -> (m(71) - m(53 * 71)),
      "unique_url" -> (m(97) - 1)).filter(_._2 > 0)
    if (counts != expected) fail(s"violation counts $counts, expected $expected")
    val failedDrift = TableIO.readTable(spark, s"$out/verdicts")
      .where(!col("passed") && col("partition").isin(langDriftDay, lenDriftDay))
      .select("partition", "check_name").as[(String, String)].collect()
    if (!failedDrift.exists(t => t._1 == langDriftDay && t._2.endsWith("_lang")))
      fail(s"lang drift day $langDriftDay passed drift")
    if (!failedDrift.exists(t => t._1 == lenDriftDay && t._2.endsWith("_text_length")))
      fail(s"length drift day $lenDriftDay passed drift")
  }

  def tracedOp(i: Int, tr: Tracer): OpOutcome = {
    val (out, ledgerFile) = opDirs(i)
    outcome(tracedPass(i, tr, out, ledgerFile,
      if (resume) pendingParts else Nil, ""), out, ledgerFile)
  }

  override def tracedExtras: Seq[(String, (Int, Tracer) => OpOutcome)] =
    if (resume) Nil
    else Seq("manifest.engine.TableIO." -> manifestFull,
      "operators.Curate." -> curatePass)

  /** validate-full's traced run only: one traced `curate-chain` op, so the
    * curation stages are measured on a workload the benchmark keeps.
    */
  private def curatePass(i: Int, tr: Tracer): OpOutcome = {
    val c = new CurateWorkload(spark, ctx)
    c.prepare()
    c.setup()
    val o = c.tracedOp(i, tr)
    c.notes.foreach { case (k, v) => notes(k) = v }
    o
  }

  /** validate-full's traced run only: the same full pass committed in
    * manifest mode, so the manifest commit is measured beside the rename
    * commit. Reading a manifest table back overflows the stack now and then
    * (TableIO.parseEntries, README finding 4), so this pass checks only the
    * ledger and does not resume; the resume is validate-resume's.
    */
  private def manifestFull(i: Int, tr: Tracer): OpOutcome = {
    val out = ctx.run.resolve("out-manifest")
    val ledgerFile = ctx.run.resolve("ledger-manifest.jsonl")
    spark.conf.set(TableIO.CommitModeConf, "manifest")
    try {
      val processed = tracedPass(i, tr, out, ledgerFile, Nil, "manifest.")
      checked(processed, parts, ledgerFile) {
        Util.deleteTree(out); Files.deleteIfExists(ledgerFile); ()
      }
    } finally spark.conf.unset(TableIO.CommitModeConf)
  }

  /** `runWithLedger` spelled out call by call through public functions,
    * each call in its own span (layer names prefixed `p`), then the fused
    * `Validator.validate` once — the engine sets no job groups itself, so
    * this is how the layers and their overlap inside `validate` become
    * visible. Marks `pending` pending first; returns the partitions it
    * validated.
    */
  private def tracedPass(i: Int, tr: Tracer, out: Path, ledgerFile: Path,
      pending: Seq[String], p: String): Seq[String] = {
    val ledger = tr.span(p + "engine.Ledger") {
      val l = Ledger(ledgerFile.toString)
      pending.foreach(l.markPending(_, s"op$i"))
      l
    }
    note(i, p + "scan.input_bytes", Util.tree(fixture.resolve("data"))._2.toDouble)
    val wpT = tr.span(p + "scan") {
      val df = load()
      noop(df)
      df.withColumn("partition",
        coalesce(col("partition"), lit(Validator.UnknownPartition)))
    }
    val allParts = tr.span(p + "engine.Validator.partitions") {
      wpT.select("partition").distinct().as[String].collect().toSeq.sorted
    }
    val (todo, doneParts) = tr.span(p + "engine.Ledger") {
      val done = ledger.donePartitions()
      val todo = allParts.filterNot(done)
      todo.foreach(ledger.markPending(_, s"op$i"))
      (todo, allParts.filter(done))
    }
    val scoped =
      if (doneParts.isEmpty) wpT
      else wpT.join(broadcast(todo.toDF("partition")), Seq("partition"), "left_semi")
    val peers =
      if (doneParts.isEmpty) None
      else Some(TableIO.readTable(spark, s"$out/column_stats")
        .join(broadcast(doneParts.toDF("partition")), Seq("partition"), "left_semi"))

    val profiles = tr.span(p + "engine.StatsPass") {
      StatsPass.statsAndProfiles(scoped)
        .select("partition", "lang_profile", "len_kll_sketch")
        .as[(String, Array[Double], Array[Byte])].collect()
    }
    val rowViol = Constraints.runRowChecks(scoped, rowChecks)
    tr.span(p + "engine.Constraints.row")(noop(rowViol))
    note(i, p + "engine.Constraints.row.violations", rowViol.count().toDouble)
    val dups = Constraints.Unique("url").violations(wpT)
    tr.span(p + "engine.Constraints.unique")(noop(dups))
    note(i, p + "engine.Constraints.unique.dup_keys", dups.count().toDouble)
    tr.span(p + "engine.Drift") {
      val scorers = Seq(Drift.LofScorer(config.lofK),
        Drift.ZScoreScorer(config.zThreshold), Drift.KsScorer(config.ksThreshold))
      var scored = 0
      profiles.foreach { case (_, lang, sketch) =>
        val len = Validator.ProfileQs.map(q => KllAgg.quantile(sketch, q))
        Seq("lang" -> lang, "text_length" -> len).foreach { case (kind, vec) =>
          scorers.foreach(_.score(vec, baseline(kind)))
          scored += 1
        }
      }
      note(i, p + "engine.Drift.profiles_scored", scored.toDouble)
    }

    val res = tr.span(p + "engine.Validator") {
      Validator.validate(scoped, config, baseline, globalFrame = Some(wpT),
        baselinePeerStats = peers)
    }
    try {
      val before = Util.tree(out)
      val committed = tr.span(p + "engine.TableIO") {
        TableIO.writePartitionsAtomic(
          res.violations.sortWithinPartitions(col("partition"), col("check_name"),
            col("url")),
          s"$out/violations", computed = Some(todo :+ "<global>")).size +
        TableIO.writePartitionsAtomic(res.verdicts, s"$out/verdicts",
          computed = Some(todo :+ "<global>")).size +
        TableIO.writePartitionsAtomic(res.stats, s"$out/column_stats",
          computed = Some(todo)).size
      }
      val after = Util.tree(out)
      note(i, p + "engine.TableIO.partitions_committed", committed.toDouble)
      note(i, p + "engine.TableIO.files_written", (after._1 - before._1).toDouble)
      note(i, p + "engine.TableIO.bytes_written", (after._2 - before._2).toDouble)
      note(i, p + "engine.TableIO.manifest_bytes", newestManifestBytes(out).toDouble)
      val (counts, rows) = tr.span(p + "engine.Validator.counts") {
        (res.violations.groupBy(col("partition")).agg(count(lit(1)))
           .as[(String, Long)].collect().toMap,
         res.stats.select(col("partition"), col("row_cnt"))
           .as[(String, Long)].collect().toMap)
      }
      tr.span(p + "engine.Ledger") {
        todo.foreach(part => ledger.markDone(part, rows.getOrElse(part, 0L),
          counts.getOrElse(part, 0L), s"op$i"))
      }
      note(i, p + "engine.Ledger.marks", (pending.size + 2 * todo.size).toDouble)
      note(i, p + "engine.Ledger.ledger_bytes", Files.size(ledgerFile).toDouble)
      todo
    } finally res.unpersist()
  }

  /** Bytes of the manifest a reader parses, summed over the three tables
    * (0 under the rename commit).
    */
  private def newestManifestBytes(out: Path): Long =
    Seq("violations", "verdicts", "column_stats").map { t =>
      val dir = out.resolve(t)
      if (!Files.isDirectory(dir)) 0L
      else {
        val s = Files.list(dir)
        try {
          s.iterator().asScala
            .filter(_.getFileName.toString.matches("_manifest-\\d+\\.json"))
            .toSeq.sortBy(_.getFileName.toString).lastOption
            .map(Files.size).getOrElse(0L)
        } finally s.close()
      }
    }.sum
}

object ValidateWorkload {
  val n = 40000L

  def fixture(ctx: Ctx): Path =
    ctx.fixtures.resolve(s"web-r${Fixtures.RecipeVersion}-s${ctx.seed}-n$n")
}
