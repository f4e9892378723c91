package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fixtures.WebGen

/** End-to-end: full pass over dirty fixtures; drift days flagged; ledger
  * resume is idempotent and byte-identical (SURVEY §5.2 items 4-5).
  */
class ValidatorSpec extends SparkSpec {

  import spark.implicits._
  import ValidatorSpec._

  private val N = 12000L // ≈ 5+ days at 37s spacing

  test("e2e: dirty fixture produces expected verdict grid") {
    val wp = WebGen.generate(spark, N,
      flags = WebGen.Flags(nullText = true, badExtract = true))
      .withColumnRenamed("p_day", "partition")
    val res = Validator.validate(wp,
      Validator.Config(Validator.DefaultChecks, driftEnabled = false))
    val verdicts = res.verdicts.collect()
    val nParts = wp.select("partition").distinct().count()
    // per-partition rows for each check + 1 global uniqueness row... none here
    assert(verdicts.nonEmpty)
    val nullFailParts = verdicts
      .filter(r => r.getAs[String]("check_name") == "not_null_text" && !r.getAs[Boolean]("passed"))
    assert(nullFailParts.nonEmpty)
    val totalNull = nullFailParts.map(_.getAs[Long]("n_violations")).sum
    assert(totalNull == (0L until N).count(_ % 53 == 0))
    val badExtract = verdicts
      .filter(r => r.getAs[String]("check_name") == "byte_identical_text")
      .map(_.getAs[Long]("n_violations")).sum
    // rows hit by BOTH mutations have NULL text → counted by not_null only
    assert(badExtract == (0L until N).count(i => i % 71 == 0 && i % 53 != 0))
  }

  test("lang drift day flagged by z-score and LOF; clean days pass") {
    val wp = WebGen.generate(spark, N,
      flags = WebGen.Flags(langDriftDay = Some("2025-07-03")))
      .withColumnRenamed("p_day", "partition")
    val res = Validator.validate(wp,
      Validator.Config(checks = Seq(Constraints.NotNull("text"))))
    val drift = res.verdicts
      .where(col("check_name") === "drift_zscore_lang" && col("status") === "scored")
      .select("partition", "passed").as[(String, Boolean)].collect().toMap
    assert(drift.contains("2025-07-03"))
    assert(!drift("2025-07-03"), s"drift day not flagged: $drift")
    val cleanDays = drift.filter(_._1 != "2025-07-03")
    assert(cleanDays.values.forall(identity), s"false positives: $cleanDays")
    val lof = res.verdicts
      .where(col("check_name") === "drift_lof_lang" && col("status") === "scored")
      .select("partition", "passed").as[(String, Boolean)].collect().toMap
    assert(!lof("2025-07-03"), s"LOF missed drift day: $lof")
  }

  test("length drift day flagged via text_length profile") {
    val wp = WebGen.generate(spark, N,
      flags = WebGen.Flags(lenDriftDay = Some("2025-07-04")))
      .withColumnRenamed("p_day", "partition")
    val res = Validator.validate(wp,
      Validator.Config(checks = Seq(Constraints.NotNull("text"))))
    val z = res.verdicts
      .where(col("check_name") === "drift_zscore_text_length" && col("status") === "scored")
      .select("partition", "passed").as[(String, Boolean)].collect().toMap
    assert(!z("2025-07-04"), s"length drift not flagged: $z")
  }

  test("ledger resume: done partitions skipped; re-run produces identical bytes") {
    val tmp = Files.createTempDirectory("ledger").toString
    val out1 = Files.createTempDirectory("out1").toString
    val wp = WebGen.generate(spark, 5000L, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    val cfg = Validator.Config(Seq(Constraints.NotNull("text")), driftEnabled = false)

    val ledger = Ledger(tmp)
    val first = Validator.runWithLedger(wp, ledger, "run1", out1, cfg)
    assert(first.nonEmpty)
    // all partitions now done → resume does nothing
    val second = Validator.runWithLedger(wp, ledger, "run2", out1, cfg)
    assert(second.isEmpty)

    // simulate a crash: mark one partition pending again → only it re-runs
    ledger.markPending(first.head, "crash")
    val third = Validator.runWithLedger(wp, ledger, "run3",
      Files.createTempDirectory("out3").toString, cfg)
    assert(third == Seq(first.head))

    // determinism: a fresh full run writes identical violation ids
    val outA = Files.createTempDirectory("outA").toString
    val outB = Files.createTempDirectory("outB").toString
    Validator.runWithLedger(wp, Ledger(Files.createTempDirectory("lA").toString), "a", outA, cfg)
    Validator.runWithLedger(wp, Ledger(Files.createTempDirectory("lB").toString), "b", outB, cfg)
    val va = spark.read.parquet(s"$outA/violations")
      .orderBy("violation_id").select("violation_id").as[String].collect().toSeq
    val vb = spark.read.parquet(s"$outB/violations")
      .orderBy("violation_id").select("violation_id").as[String].collect().toSeq
    assert(va == vb && va.nonEmpty)
  }

  test("ledger resume works identically on the single-file JSONL backend") {
    val log = Files.createTempDirectory("ledger_jsonl").toString + "/run.jsonl"
    val out = Files.createTempDirectory("out_jsonl").toString
    val wp = WebGen.generate(spark, 5000L, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    val cfg = Validator.Config(Seq(Constraints.NotNull("text")), driftEnabled = false)
    val ledger = Ledger(log)
    assert(ledger.isInstanceOf[LogLedger])
    val first = Validator.runWithLedger(wp, ledger, "run1", out, cfg)
    assert(first.nonEmpty)
    assert(Validator.runWithLedger(wp, ledger, "run2", out, cfg).isEmpty)
    ledger.markPending(first.head, "crash")
    val third = Validator.runWithLedger(wp, ledger, "run3", out, cfg)
    assert(third == Seq(first.head))
  }

  test("ledger resume into the SAME outDir preserves done partitions' outputs") {
    val tmp = Files.createTempDirectory("ledger_same").toString
    val out = Files.createTempDirectory("out_same").toString
    val wp = WebGen.generate(spark, 5000L, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    val cfg = Validator.Config(Seq(Constraints.NotNull("text")), driftEnabled = false)
    val ledger = Ledger(tmp)

    val first = Validator.runWithLedger(wp, ledger, "run1", out, cfg)
    assert(first.size > 1)

    val keep = first.head // a partition that stays `done` through the resume
    def violIds(p: String): Seq[String] =
      spark.read.parquet(s"$out/violations").where(col("partition") === p)
        .orderBy("violation_id").select("violation_id").as[String].collect().toSeq
    def verdictCnt(p: String): Long =
      spark.read.parquet(s"$out/verdicts").where(col("partition") === p).count()
    val violBefore = violIds(keep)
    val verdictBefore = verdictCnt(keep)
    assert(violBefore.nonEmpty && verdictBefore > 0)

    // crash: the LAST partition goes pending again → resume into the SAME out
    val crashed = first.last
    ledger.markPending(crashed, "crash")
    val rerun = Validator.runWithLedger(wp, ledger, "run2", out, cfg)
    assert(rerun == Seq(crashed))

    // the untouched done partition's outputs survive byte-identical
    assert(violIds(keep) == violBefore,
      "resume destroyed a done partition's violations")
    assert(verdictCnt(keep) == verdictBefore,
      "resume destroyed a done partition's verdicts")
    // and the re-run partition's outputs are present exactly once
    assert(verdictCnt(crashed) > 0)
    val reViol = spark.read.parquet(s"$out/violations")
      .where(col("partition") === crashed).select("violation_id").as[String].collect()
    assert(reViol.distinct.length == reViol.length, "replayed partition duplicated rows")
    // stats side too: every first-run partition still has its column_stats row
    val statParts = spark.read.parquet(s"$out/column_stats")
      .select("partition").as[String].collect().toSet
    assert(first.toSet.subsetOf(statParts))
  }

  test("resume recomputes GLOBAL uniqueness over the full table, not the pending subset") {
    import java.sql.Timestamp
    val out = Files.createTempDirectory("out_glob").toString
    val ledgerDir = Files.createTempDirectory("ledger_glob").toString
    def page(p: String, u: String, t: String) =
      (p, u, Timestamp.valueOf(s"$t"), s"<html><body><p>x</p></body></html>".getBytes("UTF-8"), "x", "en")
    // one url duplicated ACROSS partitions A and B; plus unique fillers
    val rows = Seq(
      page("A", "https://dup/1", "2025-07-01 00:00:00"),
      page("A", "https://a/2", "2025-07-01 00:00:01"),
      page("A", "https://a/3", "2025-07-01 00:00:02"),
      page("B", "https://dup/1", "2025-07-02 00:00:00"),
      page("B", "https://b/2", "2025-07-02 00:00:01"),
      page("B", "https://b/3", "2025-07-02 00:00:02"))
    val wp = rows.toDF("partition", "url", "warc_ts", "html", "text", "lang")
    val cfg = Validator.Config(Seq(Constraints.Unique("url")), driftEnabled = false)
    val ledger = Ledger(ledgerDir)
    val first = Validator.runWithLedger(wp, ledger, "r1", out, cfg)
    assert(first.sorted == Seq("A", "B"))
    def globalDups() = spark.read.parquet(s"$out/violations")
      .where(col("partition") === "<global>").select("url").as[String].collect().toSeq
    assert(globalDups() == Seq("https://dup/1"))
    // crash B → resume: the pending subset (B alone) contains no duplicate,
    // but the table still does — the cross-partition violation must survive
    ledger.markPending("B", "crash")
    val rerun = Validator.runWithLedger(wp, ledger, "r2", out, cfg)
    assert(rerun == Seq("B"))
    assert(globalDups() == Seq("https://dup/1"),
      "cross-partition duplicate vanished after resuming a subset")
  }

  test("ST5 append policy: violating rows are excluded from the baseline model") {
    val wp = WebGen.generate(spark, 3000L, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    val withPolicy = Files.createTempDirectory("base_policy").toString
    val manual = Files.createTempDirectory("base_manual").toString
    Validator.saveBaseline(wp, withPolicy, Seq(Constraints.NotNull("text")))
    Validator.saveBaseline(wp.where(col("text").isNotNull), manual)
    val a = Validator.loadBaseline(spark, withPolicy)
    val b = Validator.loadBaseline(spark, manual)
    // lang profiles are exact fractions → must be identical
    assert(a("lang").map(_.toSeq) == b("lang").map(_.toSeq),
      "append-policy lang profile must equal a manually pre-filtered baseline")
    // length profiles come from KLL sketches whose compaction is randomized
    // above k entries → equal within the sketch's rank-error bound (bound
    // chosen well under the ~1.0 drift-day deltas the scorers act on;
    // typical run-to-run wobble is ~0.05 but the randomized compaction has
    // a long tail — 0.2 was observed to flake about once per hundred runs)
    a("text_length").zip(b("text_length")).foreach { case (qa, qb) =>
      qa.zip(qb).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 0.35, s"quantile drifted: $x vs $y")
      }
    }
  }

  test("resume drift is scored against the FULL table's peer profiles") {
    // drift-vs-peers is a cross-partition property (same argument as global
    // uniqueness): a resumed partition must see the same leave-one-out peer
    // set as an unresumed run. Peers come from the persisted column_stats of
    // done partitions — no input rescan. Pre-fix, the resumed partition was
    // scored against the pending subset only and its drift verdict silently
    // changed (the drift day UNFLAGGED itself on resume).
    val tmp = Files.createTempDirectory("ledger_drift").toString
    val out = Files.createTempDirectory("out_drift").toString
    val wp = WebGen.generate(spark, N,
      flags = WebGen.Flags(langDriftDay = Some("2025-07-03")))
      .withColumnRenamed("p_day", "partition")
    val cfg = Validator.Config(Seq(Constraints.NotNull("text")))
    val ledger = Ledger(tmp)
    Validator.runWithLedger(wp, ledger, "run1", out, cfg)
    def langVerdicts() = spark.read.parquet(s"$out/verdicts")
      .where(col("check_name") === "drift_zscore_lang") // lang: exact, KLL-free
      .select("partition", "passed", "score")
      .as[(String, Boolean, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val fresh = langVerdicts()
    // crash: the DRIFT DAY itself goes pending; resume into the same outDir
    ledger.markPending("2025-07-03", "crash")
    val rerun = Validator.runWithLedger(wp, ledger, "run2", out, cfg)
    assert(rerun == Seq("2025-07-03"))
    val resumed = langVerdicts()
    assert(resumed == fresh,
      s"resume changed lang drift verdicts:\nfresh=$fresh\nresumed=$resumed")
    assert(!resumed("2025-07-03")._1, "drift day lost its flag on resume")
  }

  test("manifest commit mode: ledger resume + drift peers end-to-end via readTable") {
    // the object-store deploy shape: every output table commits via the
    // manifest pointer. Resume must (a) skip done partitions, (b) read done
    // partitions' column_stats back THROUGH the manifest for the drift peer
    // pool (a plain parquet read sees nothing under a manifest table and
    // would silently empty the peers), (c) keep verdicts byte-stable.
    spark.conf.set(TableIO.CommitModeConf, "manifest")
    try {
      val tmp = Files.createTempDirectory("ledger_manifest").toString
      val out = Files.createTempDirectory("out_manifest").toString
      val wp = WebGen.generate(spark, N,
        flags = WebGen.Flags(langDriftDay = Some("2025-07-03")))
        .withColumnRenamed("p_day", "partition")
      val cfg = Validator.Config(Seq(Constraints.NotNull("text")))
      val ledger = Ledger(tmp)
      Validator.runWithLedger(wp, ledger, "run1", out, cfg)
      def langVerdicts() = TableIO.readTable(spark, s"$out/verdicts")
        .where(col("check_name") === "drift_zscore_lang")
        .select("partition", "passed", "score")
        .as[(String, Boolean, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      val fresh = langVerdicts()
      assert(!fresh("2025-07-03")._1, "drift day not flagged under manifest mode")
      ledger.markPending("2025-07-03", "crash")
      val rerun = Validator.runWithLedger(wp, ledger, "run2", out, cfg)
      assert(rerun == Seq("2025-07-03"))
      assert(langVerdicts() == fresh,
        "manifest-mode resume changed drift verdicts (empty peer pool?)")
    } finally spark.conf.unset(TableIO.CommitModeConf)
  }

  test("repeated validate + unpersist leaves no cached RDDs behind") {
    // the long-lived-driver (`ingest` loop) shape: each pass caches its
    // stats/violations; Result.unpersist must release them or executor
    // memory grows per pass
    val wp = WebGen.generate(spark, 2000L).withColumnRenamed("p_day", "partition")
    var baseline = -1
    (1 to 3).foreach { _ =>
      val res = Validator.validate(wp, Validator.Config(Validator.DefaultChecks))
      res.verdicts.count()
      res.violations.count()
      res.unpersist()
      val now = spark.sparkContext.getPersistentRDDs.size
      if (baseline < 0) baseline = now
      assert(now == baseline, s"cached RDDs grew across passes: $baseline → $now")
    }
  }

  test("warm-up: partitions under minRowsToScore get skipped drift verdicts") {
    val wp = WebGen.generate(spark, 3000L).withColumnRenamed("p_day", "partition")
    val res = Validator.validate(wp,
      Validator.Config(checks = Seq(Constraints.NotNull("text")),
        minRowsToScore = 100000L))
    val statuses = res.verdicts.where(col("check_name").startsWith("drift_"))
      .select("status").distinct().as[String].collect().toSet
    assert(statuses == Set("skipped"))
  }

  test("a throwing drift scorer fails the pass with ITS cause, not a downstream NPE") {
    // pre-fix: raw worker Threads swallowed the throwable, left null out(i)
    // slots, and the pass died later with a bare NPE hiding the real error
    val wp = WebGen.generate(spark, 800L).withColumnRenamed("p_day", "partition")
    val boom = new Drift.Scorer {
      val name = "drift_boom"
      def score(current: Array[Double],
          baseline: IndexedSeq[Array[Double]]): Drift.DriftVerdict =
        throw new IllegalStateException("scorer exploded")
    }
    val e = intercept[RuntimeException] {
      Validator.validate(wp,
        Validator.Config(checks = Seq(Constraints.NotNull("text")),
          scorers = Some(Seq(boom))))
    }
    assert(e.getMessage.contains("drift scorer failed"), e.getMessage)
    assert(e.getCause.isInstanceOf[IllegalStateException] &&
      e.getCause.getMessage == "scorer exploded", String.valueOf(e.getCause))
  }

  private def partitionsOf(wp: DataFrame): Seq[String] =
    wp.select("partition").distinct().as[String].collect().toSeq.sorted

  private val boom = new Drift.Scorer {
    val name = "drift_boom"
    def score(current: Array[Double],
        baseline: IndexedSeq[Array[Double]]): Drift.DriftVerdict =
      throw new IllegalStateException("scorer exploded")
  }

  /** (tags, succeeded) of every Spark job `body` started, in start order. */
  private def jobsDuring[A](body: => A): (A, Seq[(String, Boolean)]) = {
    val sc = spark.sparkContext
    val tags = new ConcurrentHashMap[Int, String]()
    val succeeded = new ConcurrentHashMap[Int, Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        succeeded.put(e.jobId, e.jobResult == JobSucceeded)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // a marker job's end arrives after every earlier event on the bus
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.addJobTag(marker)
      try spark.range(1).count() finally sc.removeJobTag(marker)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def markerEnded = tags.asScala.exists { case (j, t) =>
        t.contains(marker) && succeeded.containsKey(j) }
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerEnded, "listener bus did not drain")
      (out, tags.asScala.toSeq.sortBy(_._1).collect {
        case (j, t) if !t.contains(marker) => (t, succeeded.getOrDefault(j, false))
      })
    } finally sc.removeSparkListener(listener)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a throwing drift scorer cancels the overlapped violations job") {
    // the global uniqueness branch reads `url` through a UDF that stalls
    // one task until it is killed: only a cancel ends the warm job early
    val wp = WebGen.generate(spark, 800L).withColumnRenamed("p_day", "partition")
    val victim = wp.select("url").as[String].head()
    val stalled = wp.withColumn("url", stallOn(victim)(col("url")))
    val t0 = System.nanoTime()
    val (e, jobs) = jobsDuring(intercept[RuntimeException] {
      Validator.validate(wp,
        Validator.Config(
          checks = Seq(Constraints.NotNull("text"), Constraints.Unique("url")),
          scorers = Some(Seq(boom))),
        globalFrame = Some(stalled))
    })
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("drift scorer failed"), e.getMessage)
    assert(e.getCause.isInstanceOf[IllegalStateException] &&
      e.getCause.getMessage == "scorer exploded", String.valueOf(e.getCause))
    val warm = jobs.filter(_._1.contains("violation-evaluation"))
    assert(warm.nonEmpty, s"no warm job among $jobs")
    assert(warm.forall(!_._2), s"a warm job ran to success: $warm")
    assert(secs < StallSeconds / 2, s"validate waited $secs s for the warm job")
  }

  test("ledger rowCnt and nViolations are stats.row_cnt and violations per partition, fresh and resumed") {
    val wp = WebGen.generate(spark, 6000L, flags = WebGen.Flags(
      nullText = true, badExtract = true, dupUrls = true))
      .withColumnRenamed("p_day", "partition")
    val cfg = Validator.Config(Validator.DefaultChecks)
    val rows = wp.groupBy("partition").count().as[(String, Long)].collect().toMap
    val viol = Constraints.runAll(wp, cfg.checks, Some(wp))
      .groupBy("partition").count().as[(String, Long)].collect().toMap
    val expected = partitionsOf(wp)
      .map(p => (p, "done", rows(p), viol.getOrElse(p, 0L)))
    assert(expected.exists(_._4 > 0))
    val ledger = Ledger(Files.createTempDirectory("ledger_counts").toString)
    val out = Files.createTempDirectory("out_counts").toString
    def entries = ledger.all().map(e => (e.partition, e.status, e.rowCnt, e.nViolations))
    Validator.runWithLedger(wp, ledger, "run1", out, cfg)
    assert(entries == expected)
    val resumed = expected.map(_._1).take(2)
    resumed.foreach(ledger.markPending(_, "crash"))
    assert(Validator.runWithLedger(wp, ledger, "run2", out, cfg) == resumed)
    assert(entries == expected)
    assert(ledger.all().filter(_.updatedRun == "run2").map(_.partition) == resumed)
  }

  test("each (table, partition) directory holds exactly one parquet file") {
    val wp = WebGen.generate(spark, 5000L, flags = WebGen.Flags(
      nullText = true, badExtract = true, dupUrls = true))
      .withColumnRenamed("p_day", "partition")
    val out = Files.createTempDirectory("out_files").toString
    val parts = Validator.runWithLedger(wp,
      Ledger(Files.createTempDirectory("ledger_files").toString), "r", out)
    Seq("violations", "verdicts", "column_stats").foreach { t =>
      val dirs = Files.list(Paths.get(out, t)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("partition=")).toSeq
      assert(dirs.size >= parts.size, s"$t: ${dirs.size} partition dirs")
      dirs.foreach { d =>
        val files = Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(files == 1, s"$d holds $files parquet files")
      }
    }
  }

  test("a failing commit write cancels the other writes and leaves every partition pending") {
    val wp = WebGen.generate(spark, 3000L).withColumnRenamed("p_day", "partition")
    // the referential parent is read only by the violations branch, through
    // a UDF that stalls one task until it is killed; the stats rows the
    // ledger needs never touch it
    val parent = spark.range(4)
      .select(stallOn("0")(col("id").cast("string")).as("url"))
    val cfg = Validator.Config(
      Seq(Constraints.NotNull("text"), Constraints.Referential("url", parent, "url")),
      driftEnabled = false)
    val out = Files.createTempDirectory("out_fail").toString
    // a plain file where the column_stats table goes: that write fails at once
    Files.createFile(Paths.get(out, "column_stats"))
    val ledger = Ledger(Files.createTempDirectory("ledger_fail").toString)
    val t0 = System.nanoTime()
    val (e, jobs) = jobsDuring(intercept[RuntimeException] {
      Validator.runWithLedger(wp, ledger, "r1", out, cfg)
    })
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.startsWith("column_stats commit failed"), e.getMessage)
    assert(causes(e).exists(_.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]),
      causes(e).mkString(" <- "))
    val others = jobs.filter(j =>
      j._1.contains("violations-commit") || j._1.contains("verdicts-commit"))
    assert(others.exists(!_._2), s"no other write was cancelled: $jobs")
    assert(secs < StallSeconds / 2, s"the failure waited $secs s for the other writes")
    assert(ledger.all().map(e => (e.partition, e.status)) ==
      partitionsOf(wp).map(_ -> "pending"))
  }

  test("a crash inside validate or between the pending marks and the commit re-runs those partitions") {
    val wp = WebGen.generate(spark, 3000L).withColumnRenamed("p_day", "partition")
    val parts = partitionsOf(wp)
    val cfg = Validator.Config(Seq(Constraints.NotNull("text")))
    val crashing = cfg.copy(scorers = Some(Seq(boom)))

    // inside validate(), fresh ledger: nothing is marked, so all re-run
    val l1 = Ledger(Files.createTempDirectory("ledger_crash1").toString)
    val out1 = Files.createTempDirectory("out_crash1").toString
    intercept[RuntimeException](Validator.runWithLedger(wp, l1, "r1", out1, crashing))
    assert(l1.all().isEmpty)
    assert(Validator.runWithLedger(wp, l1, "r2", out1, cfg) == parts)
    // inside validate(), resume: the pending partition stays pending
    l1.markPending(parts.last, "crash")
    intercept[RuntimeException](Validator.runWithLedger(wp, l1, "r3", out1, crashing))
    assert(l1.read(parts.last).map(_.status).contains("pending"))
    assert(Validator.runWithLedger(wp, l1, "r4", out1, cfg) == Seq(parts.last))

    // between the pending marks and the commit
    val l2 = Ledger(Files.createTempDirectory("ledger_crash2").toString)
    val crashAfterMarks = new Ledger {
      def write(e: Ledger.Entry): Unit = {
        l2.write(e)
        if (e.status == "pending" && e.partition == parts.last)
          throw new IllegalStateException("crash after the pending marks")
      }
      def read(partition: String): Option[Ledger.Entry] = l2.read(partition)
      def all(): Seq[Ledger.Entry] = l2.all()
    }
    val out2 = Files.createTempDirectory("out_crash2").toString
    intercept[IllegalStateException](
      Validator.runWithLedger(wp, crashAfterMarks, "r1", out2, cfg))
    assert(l2.all().map(e => (e.partition, e.status)) == parts.map(_ -> "pending"))
    assert(!Files.exists(Paths.get(out2, "verdicts")), "the commit ran")
    assert(Validator.runWithLedger(wp, l2, "r2", out2, cfg) == parts)
    assert(l2.donePartitions() == parts.toSet)
  }

  test("manifest mode: verdicts read back at session defaults after a resume") {
    // a resume leaves two snapshots; one's live dirs are all dates, the
    // other's include "<global>" (Unique + dup urls). Typed per snapshot,
    // `partition` reads as DATE in the first and the union fails to cast.
    spark.conf.set(TableIO.CommitModeConf, "manifest")
    try {
      val wp = WebGen.generate(spark, 6000L, flags = WebGen.Flags(dupUrls = true))
        .withColumnRenamed("p_day", "partition")
      val parts = partitionsOf(wp)
      val cfg = Validator.Config(Seq(Constraints.Unique("url"), Constraints.NotNull("text")))
      val ledger = Ledger(Files.createTempDirectory("ledger_mread").toString)
      val out = Files.createTempDirectory("out_mread").toString
      Validator.runWithLedger(wp, ledger, "run1", out, cfg)
      ledger.markPending(parts.head, "crash")
      assert(Validator.runWithLedger(wp, ledger, "run2", out, cfg) == Seq(parts.head))
      val verdicts = TableIO.readTable(spark, s"$out/verdicts")
      assert(verdicts.schema("partition").dataType == org.apache.spark.sql.types.StringType)
      val read = verdicts.select("partition").distinct().as[String].collect().toSet
      assert(read == parts.toSet + "<global>")
    } finally spark.conf.unset(TableIO.CommitModeConf)
  }
}

object ValidatorSpec {
  /** How long [[stallOn]] stalls a task that is never killed. */
  val StallSeconds = 60

  /** Identity on strings; on `victim` it stalls its task until the task is
    * killed. One stalled task leaves the other task slots to other jobs.
    */
  def stallOn(victim: String) = udf { (s: String) =>
    if (s == victim) {
      val task = org.apache.spark.TaskContext.get()
      val deadline = System.nanoTime() + StallSeconds * 1000000000L
      while (!task.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(10)
    }
    s
  }
}
