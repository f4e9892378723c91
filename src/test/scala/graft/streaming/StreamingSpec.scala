package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingValidate._

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed lang stats: batch-mode semantics") {
    val df = Seq(
      ("u1", ts("2025-07-01 01:00:00"), "hello", "en"),
      ("u2", ts("2025-07-01 02:00:00"), null, "en"),
      ("u3", ts("2025-07-02 01:00:00"), "bonjour", "fr")
    ).toDF("url", "warc_ts", "text", "lang")
    val out = windowedLangStats(df).orderBy("win_start", "lang").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("row_cnt") == 2 && out(0).getAs[Long]("null_text") == 1)
    assert(out(1).getAs[String]("lang") == "fr")
  }

  test("windowed lang stats, TRUE streaming: watermark finalizes windows and drops late data (ST10/ST11)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String, String)]
    val df = mem.toDF().toDF("url", "warc_ts", "text", "lang")
    val q = windowedLangStats(df, watermarkDelay = "1 hour", windowLen = "1 day")
      .writeStream.format("memory").queryName("win_stream_test")
      .outputMode("append").start()
    try {
      mem.addData(
        ("u1", ts("2025-07-01 01:00:00"), "a", "en"),
        ("u2", ts("2025-07-01 02:00:00"), null, "en"))
      q.processAllAvailable()
      // day-1 window still open: watermark (max event − 1h) < day boundary
      assert(spark.table("win_stream_test").count() == 0)
      // a far-future event pushes the watermark past day 1 → window emits
      mem.addData(("u3", ts("2025-07-03 05:00:00"), "c", "fr"))
      q.processAllAvailable()
      val rows = spark.table("win_stream_test").collect()
      assert(rows.length == 1, rows.mkString(";"))
      assert(rows.head.getAs[Long]("row_cnt") == 2 &&
        rows.head.getAs[Long]("null_text") == 1)
      // a LATE day-1 arrival beyond the watermark is dropped: the finalized
      // window is never re-emitted or amended
      mem.addData(("u4", ts("2025-07-01 03:00:00"), "late", "en"))
      q.processAllAvailable()
      assert(spark.table("win_stream_test").count() == 1)
    } finally q.stop()
  }

  test("last-known-normal alerts carry state across micro-batches (ST4)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageEvent]
    val alerts = lastKnownNormalAlerts(mem.toDS())
    val q = alerts.writeStream
      .format("memory").queryName("alerts_test").outputMode("append").start()
    try {
      // batch 1: a normal then a violation → alert carries n1
      mem.addData(
        PageEvent("k1", "n1", ts("2025-07-01 00:00:01"), violation = false),
        PageEvent("k1", "v1", ts("2025-07-01 00:00:02"), violation = true))
      q.processAllAvailable()
      // batch 2: violation with NO normal in this batch → must use state (n1)
      mem.addData(PageEvent("k1", "v2", ts("2025-07-01 00:00:03"), violation = true))
      q.processAllAvailable()
      val got = spark.table("alerts_test").orderBy("warc_ts")
        .select("url", "norm_url").as[(String, String)].collect().toSeq
      assert(got == Seq(("v1", "n1"), ("v2", "n1")))
    } finally q.stop()
  }

  test("last-known-normal state is EVICTED once the watermark passes the idle horizon") {
    // the reference's maxStorageTime bound (db_scheduler.go:35-48): a key
    // idle past the horizon loses its state; a later violation on that key
    // gets a null norm (cold start), and the state store stays O(active keys)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageEvent]
    val alerts = lastKnownNormalAlerts(
      mem.toDS(), watermarkDelay = "0 seconds", stateHorizonMs = 10000L)
    val q = alerts.writeStream
      .format("memory").queryName("evict_test").outputMode("append").start()
    try {
      // batch 1: k1 sees a normal then a violation → alert carries n1
      mem.addData(
        PageEvent("k1", "n1", ts("2025-07-01 00:00:01"), violation = false),
        PageEvent("k1", "v1", ts("2025-07-01 00:00:02"), violation = true))
      q.processAllAvailable()
      // batch 2 advances the watermark far past k1's 10s horizon (k2 only);
      // batch 3 lets the timeout FIRE for k1 (timeouts run against the
      // watermark computed at the previous batch's end)
      mem.addData(PageEvent("k2", "n9", ts("2025-07-01 01:00:00"), violation = false))
      q.processAllAvailable()
      mem.addData(PageEvent("k2", "n10", ts("2025-07-01 01:00:01"), violation = false))
      q.processAllAvailable()
      // batch 4: k1 violates again — its state must be GONE → null norm
      mem.addData(PageEvent("k1", "v2", ts("2025-07-01 01:00:05"), violation = true))
      q.processAllAvailable()
      val got = spark.table("evict_test").orderBy("warc_ts")
        .select("url", "norm_url").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"))).toSeq
      assert(got == Seq(("v1", "n1"), ("v2", "-")), got.toString)
    } finally q.stop()
  }

  test("incremental ingest (S3): second tick processes ONLY new files") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("ingest_in").toString
    val out = Files.createTempDirectory("ingest_out").toString
    val ckpt = Files.createTempDirectory("ingest_ckpt").toString
    def pages(ids: Range, day: String) = ids.map { i =>
      (s"https://x/$i", ts(s"$day 00:00:0${i % 10}"),
        s"<p>$i</p>".getBytes("UTF-8"), s"doc $i", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")

    pages(0 until 20, "2025-07-01").write.mode("append").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$out/pages").count() == 20)

    // day 2 of the crawl: only the 30 new rows go through the pass
    pages(100 until 130, "2025-07-02").write.mode("append").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt).awaitTermination()
    val all = spark.read.parquet(s"$out/pages")
    assert(all.count() == 50, "batch 1 was reprocessed (expected 50 rows)")
    assert(all.select("url").distinct().count() == 50)
    assert(all.where(col("partition") === "2025-07-02").count() == 30)

    // idle tick: nothing new → no change
    StreamingValidate.incrementalValidate(spark, in, out, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$out/pages").count() == 50)
  }

  test("maxFilesPerTrigger bounds micro-batch size (multiple batches per tick)") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("mft_in").toString
    val out = Files.createTempDirectory("mft_out").toString
    val ckpt = Files.createTempDirectory("mft_ckpt").toString
    def pages(ids: Range, f: String) = ids.map { i =>
      (s"https://x/$i", ts(s"2025-07-01 00:00:0${i % 10}"),
        s"<p>$i</p>".getBytes("UTF-8"), s"doc $i", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(in)
    pages(0 until 10, "a"); pages(100 until 110, "b"); pages(200 until 210, "c")
    StreamingValidate.incrementalValidate(spark, in, out, ckpt,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    val outDf = spark.read.parquet(s"$out/pages")
    assert(outDf.count() == 30)
    // one file per micro-batch → at least 3 distinct batch partitions: the
    // per-batch memory bound the stateful stage's docs point at is real
    val batches = outDf.select("ingest_batch").distinct().count()
    assert(batches >= 3, s"expected ≥3 micro-batches, got $batches")
  }

  test("DEFAULT trigger bound batches a many-file backfill into >1 micro-batch") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("dflt_in").toString
    val out = Files.createTempDirectory("dflt_out").toString
    val ckpt = Files.createTempDirectory("dflt_ckpt").toString
    // a 70-part-file backlog (a first-run backfill): with NO
    // maxFilesPerTrigger argument the default (64) must split it — the
    // pre-r5 default was one unbounded slice, exactly the memory hazard
    // the stateful-stage docs warn about
    (0 until 70).map { i =>
      (s"https://x/$i", ts("2025-07-01 00:00:01"),
        s"<p>$i</p>".getBytes("UTF-8"), s"doc $i", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
      .repartition(70).write.mode("overwrite").parquet(in)
    // AQE may coalesce the tiny round-robin shuffle below 70 output files —
    // top the backlog up to a guaranteed 70+ part-files
    val fjava = new java.io.File(in)
    def nFiles() = fjava.listFiles().count(_.getName.endsWith(".parquet"))
    var pad = 1000
    while (nFiles() < 70) {
      Seq((s"https://pad/$pad", ts("2025-07-01 00:00:01"),
          "<p>p</p>".getBytes("UTF-8"), "pad", "en"))
        .toDF("url", "warc_ts", "html", "text", "lang")
        .coalesce(1).write.mode("append").parquet(in)
      pad += 1
    }
    val total = spark.read.parquet(in).count()
    StreamingValidate.incrementalValidate(spark, in, out, ckpt)
      .awaitTermination()
    val outDf = spark.read.parquet(s"$out/pages")
    assert(outDf.count() == total)
    val batches = outDf.select("ingest_batch").distinct().count()
    assert(batches >= 2, s"default bound must split a 70+-file backlog " +
      s"into >1 micro-batch, got $batches")
  }

  test("cross-batch duplicate url is flagged via reconciliation against accumulated pages (J5 parity)") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("xb_in").toString
    val out = Files.createTempDirectory("xb_out").toString
    val ckpt = Files.createTempDirectory("xb_ckpt").toString
    def pages(ids: Range) = ids.map { i =>
      (s"https://x/$i", ts(s"2025-07-01 00:00:0${i % 10}"),
        s"<p>$i</p>".getBytes("UTF-8"), s"doc $i", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    // tick 1: urls 0..9 — all first sightings, nothing flagged
    pages(0 until 10).coalesce(1).write.mode("append").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt).awaitTermination()
    val v1 = spark.read.parquet(s"$out/violations")
    assert(v1.where(col("check_name") === "unique_url_cross_batch").count() == 0)
    // tick 2: urls 9..14 — url 9 was ingested by tick 1: the within-batch
    // Unique check CANNOT see it (one occurrence per batch), only the
    // reconciliation join can (the reference's model state is cross-batch,
    // manager.go:232-234)
    pages(9 until 15).coalesce(1).write.mode("append").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt).awaitTermination()
    val v2 = spark.read.parquet(s"$out/violations")
      .where(col("check_name") === "unique_url_cross_batch")
    assert(v2.count() == 1, "cross-batch duplicate not flagged")
    assert(v2.select("url").as[String].head() == "https://x/9")
    assert(v2.select("partition").as[String].head() == "2025-07-01")
    // the verdict grid carries the failed check for that partition
    val verd = spark.read.parquet(s"$out/verdicts")
      .where(col("check_name") === "unique_url_cross_batch" && !col("passed"))
    assert(verd.count() == 1, "cross-batch uniqueness verdict missing")
    // the within-batch unique check did NOT double-report it
    assert(spark.read.parquet(s"$out/violations")
      .where(col("check_name") === "unique_url").count() == 0)
    // the marker column is stage metadata — never written to the pages table
    val pagesOut = spark.read.parquet(s"$out/pages")
    assert(!pagesOut.columns.contains("__seen_prior_batch"),
      pagesOut.columns.mkString(","))
    assert(pagesOut.count() == 16)
  }

  test("reconciliation history scan reads ONLY the url column (pruned at 100 TB)") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("recon_plan").toString
    val pages = Seq(
      ("https://x/1", ts("2025-07-01 00:00:01"), "<p>1</p>".getBytes("UTF-8"), "doc 1", "en")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    pages.withColumn("partition", lit("2025-07-01"))
      .withColumn("lineage", lit("q1")).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("lineage", "ingest_batch").parquet(s"$out/pages")
    val flagged = StreamingValidate.withSeenPriorFlag(pages, out, "q1", 1L)
    val plan = flagged.queryExecution.executedPlan.toString
    // the accumulated-pages scan must be pruned to the url column — at
    // 10^12 rows the html/text bytes dwarf everything; reading them per
    // tick would turn the reconciliation into a full-table read
    assert("ReadSchema: struct<url:string>".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    // r6: the history side must be hash-prefiltered by the batch's
    // broadcast url-hash set BEFORE the distinct exchange (a broadcast
    // LEFT SEMI join) — without it every tick shuffles every distinct
    // history url string
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("cross-batch flag: semi join broadcasts under the threshold, shuffles at -1, same flags") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("recon_both").toString
    def page(u: String) = (u, ts("2025-07-01 00:00:01"), "<p>1</p>".getBytes("UTF-8"), "doc", "en")
    Seq(page("https://x/1"), page("https://x/2")).toDF("url", "warc_ts", "html", "text", "lang")
      .withColumn("partition", lit("2025-07-01"))
      .withColumn("lineage", lit("q1")).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("lineage", "ingest_batch").parquet(s"$out/pages")
    val batch = Seq(page("https://x/2"), page("https://x/3"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val seenFlag = graft.engine.Constraints.SeenPriorBatch.flagColumn
    def flagged = StreamingValidate.withSeenPriorFlag(batch, out, "q1", 1L)
      .select(col("url"), col(seenFlag))
    // a url landed by an earlier tick is flagged whichever join runs
    assertBroadcastBothWays("BroadcastHashJoin.*LeftSemi")(flagged)
    val flags = flagged.as[(String, Boolean)].collect().toMap
    assert(flags == Map("https://x/2" -> true, "https://x/3" -> false), flags.toString)
  }

  test("sink replay of the same micro-batch is idempotent (ST9 exactly-once)") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("sink_replay").toString
    val batch = Seq(
      ("https://x/1", ts("2025-07-01 00:00:01"), "<p>1</p>".getBytes("UTF-8"), "doc 1", "en"),
      ("https://x/2", ts("2025-07-01 00:00:02"), "<p>2</p>".getBytes("UTF-8"), null, "en")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    // foreachBatch is at-least-once: a crash between the data write and the
    // checkpoint commit replays the batch with the SAME id — outputs must
    // not double
    StreamingValidate.writeValidatedBatch(batch, out, "q1", batchId = 7L)
    StreamingValidate.writeValidatedBatch(batch, out, "q1", batchId = 7L)
    assert(spark.read.parquet(s"$out/pages").count() == 2)
    val v = spark.read.parquet(s"$out/violations")
    assert(v.where(col("check_name") === "not_null_text").count() == 1)
    // a DIFFERENT batch id appends alongside
    StreamingValidate.writeValidatedBatch(batch, out, "q1", batchId = 8L)
    assert(spark.read.parquet(s"$out/pages").count() == 4)
    // a recreated checkpoint restarts batch ids at 0 under a NEW lineage:
    // it must append beside the old lineage, never clobber it
    StreamingValidate.writeValidatedBatch(batch, out, "q2", batchId = 7L)
    assert(spark.read.parquet(s"$out/pages").count() == 6)
    assert(spark.read.parquet(s"$out/pages")
      .where(col("lineage") === "q1").count() == 4)
  }

  test("sink refuses to write v2 layout into a directory holding another layout") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("sink_guard").toString
    val batch = Seq(
      ("https://x/1", ts("2025-07-01 00:00:01"), "<p>1</p>".getBytes("UTF-8"), "doc 1", "en")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    // a pre-existing v1 (flat) pages dir
    batch.write.parquet(s"$out/pages")
    val e = intercept[IllegalArgumentException] {
      StreamingValidate.writeValidatedBatch(batch, out, "q1", 0L)
    }
    assert(e.getMessage.contains("different layout"), e.getMessage)
  }

  test("ingest parity: within-batch duplicate url AND drift-vs-baseline surface as verdicts") {
    import java.nio.file.Files
    import graft.engine.Validator
    import graft.fixtures.WebGen
    val base = Files.createTempDirectory("ingest_baseline").toString + "/b"
    val in = Files.createTempDirectory("ingest_parity_in").toString
    val out = Files.createTempDirectory("ingest_parity_out").toString
    val ckpt = Files.createTempDirectory("ingest_parity_ckpt").toString
    // green baseline from a clean corpus (ST7 snapshot)
    Validator.saveBaseline(
      WebGen.generate(spark, 3000).withColumnRenamed("p_day", "partition"), base)
    // incoming batch: lang-drifted day + one duplicated url
    val cols = Seq("url", "warc_ts", "html", "text", "lang").map(col)
    val drifted = WebGen.generate(spark, 3000,
      flags = WebGen.Flags(langDriftDay = Some("2025-07-01")))
      .where(col("p_day") === "2025-07-01").select(cols: _*)
    drifted.unionByName(drifted.orderBy("url").limit(1))
      .write.mode("overwrite").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt,
      baselineDir = Some(base)).awaitTermination()
    val verdicts = spark.read.parquet(s"$out/verdicts")
    // pre-parity, ingest ran a hardcoded 2-check suite: no uniqueness, no
    // drift — silently weaker than batch `validate` on the same data
    assert(verdicts.where(col("check_name") === "unique_url" &&
      !col("passed")).count() == 1, "within-batch duplicate url not flagged")
    assert(verdicts.where(col("check_name") === "drift_zscore_lang" &&
      !col("passed")).count() == 1, "lang drift vs green baseline not scored")
    val v = spark.read.parquet(s"$out/violations")
    assert(v.where(col("check_name") === "unique_url").count() == 1)
  }

  test("baseline-refresh strict: clean batches fold into the model, drifted ones do not (ST5)") {
    import java.nio.file.{Files, Paths}
    import graft.engine.{BaselineStore, Validator}
    import graft.fixtures.WebGen
    val base = Files.createTempDirectory("refresh_base").toString + "/b"
    val in = Files.createTempDirectory("refresh_in").toString
    val out = Files.createTempDirectory("refresh_out").toString
    val ckpt = Files.createTempDirectory("refresh_ckpt").toString
    val cols = Seq("url", "warc_ts", "html", "text", "lang").map(col)
    // green baseline from a clean corpus (flat snapshot — the store seeds
    // from it on the first fold)
    Validator.saveBaseline(
      WebGen.generate(spark, 3000).withColumnRenamed("p_day", "partition"), base)
    def versionDirs() = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(Paths.get(base))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("baseline-v")).toSet
      finally s.close()
    }
    // tick 1: a CLEAN day — passes all checks, so strict policy folds its
    // profiles: the store gains its first version
    WebGen.generate(spark, 3000).where(col("p_day") === "2025-07-01")
      .select(cols: _*).write.mode("overwrite").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt,
      baselineDir = Some(base), baselineRefresh = "strict").awaitTermination()
    assert(versionDirs().nonEmpty, "clean batch was not folded into the store")
    val afterClean = versionDirs()
    assert(BaselineStore.loadRows(spark, base).map(_._1)
      .contains("2025-07-01"))
    // tick 2: a lang-DRIFTED day — drift fails vs the green model, so
    // strict policy must NOT fold it (allowAppendOutlier=false): no new
    // version, and the drifted day's profile stays out of the model
    val before = BaselineStore.loadRows(spark, base)
      .find(_._1 == "2025-07-02").map(_._2.toSeq)
    WebGen.generate(spark, 3000,
        flags = WebGen.Flags(langDriftDay = Some("2025-07-02")))
      .where(col("p_day") === "2025-07-02")
      .select(cols: _*).write.mode("append").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt,
      baselineDir = Some(base), baselineRefresh = "strict").awaitTermination()
    val verdicts = spark.read.parquet(s"$out/verdicts")
    assert(verdicts.where(col("check_name") === "drift_zscore_lang" &&
      !col("passed")).count() >= 1, "drifted batch not flagged")
    assert(versionDirs() == afterClean,
      "a drift-failing batch must not advance the baseline store under strict")
    val after = BaselineStore.loadRows(spark, base)
      .find(_._1 == "2025-07-02").map(_._2.toSeq)
    assert(after == before, "drifted profiles leaked into the model")
  }

  test("null warc_ts folds into <unknown> partition; baseline refresh still advances (no NPE skip)") {
    import java.nio.file.{Files, Paths}
    import graft.engine.{BaselineStore, Validator}
    import graft.fixtures.WebGen
    val base = Files.createTempDirectory("nullts_base").toString + "/b"
    val in = Files.createTempDirectory("nullts_in").toString
    val out = Files.createTempDirectory("nullts_out").toString
    val ckpt = Files.createTempDirectory("nullts_ckpt").toString
    val cols = Seq("url", "warc_ts", "html", "text", "lang").map(col)
    Validator.saveBaseline(
      WebGen.generate(spark, 3000).withColumnRenamed("p_day", "partition"), base)
    // a clean day PLUS one legal null-warc_ts row (DefaultChecks does not
    // NotNull warc_ts): the null key must become "<unknown>", and the
    // refresh fold must still run — before the sentinel, the null key
    // NPE'd mergeRowsOf's sort and the NonFatal guard silently skipped
    // EVERY fold for as long as such rows kept arriving
    WebGen.generate(spark, 3000).where(col("p_day") === "2025-07-01")
      .select(cols: _*)
      .unionByName(Seq(
        ("https://x/null-ts", Option.empty[Timestamp],
          "<p>n</p>".getBytes("UTF-8"), "null ts doc", "en"))
        .toDF("url", "warc_ts", "html", "text", "lang"))
      .write.mode("overwrite").parquet(in)
    StreamingValidate.incrementalValidate(spark, in, out, ckpt,
      baselineDir = Some(base), baselineRefresh = "strict").awaitTermination()
    val pages = spark.read.parquet(s"$out/pages")
    assert(pages.where(col("partition") === "<unknown>").count() == 1,
      "null warc_ts row did not land in the <unknown> partition")
    def versions() = {
      val s = java.nio.file.Files.list(Paths.get(base))
      try s.iterator().asScala.map(_.getFileName.toString)
        .count(_.startsWith("baseline-v"))
      finally s.close()
    }
    assert(versions() > 0,
      "baseline refresh was skipped on a batch containing a null warc_ts row")
    assert(BaselineStore.loadRows(spark, base).map(_._1)
      .contains("2025-07-01"), "clean day missing from the folded model")
  }

  test("scoring-on-ingest alerts: per-entity POSTs during ingest; down endpoint spools, next tick drains") {
    import java.net.InetSocketAddress
    import java.nio.file.Files
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val in = Files.createTempDirectory("alert_ingest_in").toString
    val out = Files.createTempDirectory("alert_ingest_out").toString
    val ckpt = Files.createTempDirectory("alert_ingest_ckpt").toString
    def pages(ids: Range) = ids.map { i =>
      (s"https://x/$i", ts(s"2025-07-01 00:00:0${i % 10}"),
        s"<p>$i</p>".getBytes("UTF-8"),
        if (i % 2 == 0) null else s"doc $i", "en") // null-text violations
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val received = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/alerts", (ex: HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val ep = s"http://127.0.0.1:${server.getAddress.getPort}/alerts"
      // tick 1, endpoint UP: this batch's violations arrive per entity
      pages(0 until 10).write.mode("append").parquet(in)
      StreamingValidate.incrementalValidate(spark, in, out, ckpt,
        alertEndpoint = Some(ep)).awaitTermination()
      val bodies = received.asScala.mkString
      assert("\"violation_id\"".r.findAllIn(bodies).size >= 5, bodies.take(300))
      assert(bodies.contains("\"entityId\":\"2025-07-01\""), bodies.take(300))
      assert(bodies.contains("not_null_text"))
      received.clear()
      // tick 2, endpoint DOWN: ingest still succeeds, alerts spool
      pages(100 until 110).write.mode("append").parquet(in)
      StreamingValidate.incrementalValidate(spark, in, out, ckpt,
        alertEndpoint = Some("http://127.0.0.1:1/alerts")).awaitTermination()
      val spool = new org.apache.hadoop.fs.Path(s"$out/_alert_spool")
      val fs = spool.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(spool) && fs.listStatus(spool)
        .exists(_.getPath.getName.startsWith("batch-")), "alerts not spooled")
      // tick 3, endpoint BACK: this batch's push drains the spool too
      pages(200 until 210).write.mode("append").parquet(in)
      StreamingValidate.incrementalValidate(spark, in, out, ckpt,
        alertEndpoint = Some(ep)).awaitTermination()
      val later = received.asScala.mkString
      assert("\"violation_id\"".r.findAllIn(later).size >= 10,
        "spooled tick-2 alerts were not drained on recovery")
      assert(!fs.listStatus(spool).exists(_.getPath.getName.startsWith("batch-")))
    } finally server.stop(0)
  }

  test("batch-mode stateful alerts: plan-sorted groups, single exchange (no per-key buffer)") {
    val events = Seq(
      PageEvent("k1", "n1", ts("2025-07-01 00:00:01"), violation = false),
      PageEvent("k1", "v1", ts("2025-07-01 00:00:02"), violation = true)
    ).toDS()
    val plan = lastKnownNormalAlerts(events).queryExecution.executedPlan.toString
    // ONE exchange (the explicit repartition by key); a second one would mean
    // the planner ignored our distribution and re-scrambled the pre-sort —
    // the fold's sortedness require() would then fail at runtime too
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n${plan.take(1500)}")
    // the (single) sort must carry event time, not just the grouping key
    assert("Sort \\[key[^\\]]*warc_ts".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("last-known-normal: batch mode, events ordered by time within key") {
    val events = Seq(
      PageEvent("k1", "v0", ts("2025-07-01 00:00:00"), violation = true), // before any normal
      PageEvent("k1", "n1", ts("2025-07-01 00:00:01"), violation = false),
      PageEvent("k1", "v1", ts("2025-07-01 00:00:02"), violation = true),
      PageEvent("k1", "n2", ts("2025-07-01 00:00:03"), violation = false),
      PageEvent("k1", "v2", ts("2025-07-01 00:00:04"), violation = true),
      PageEvent("k2", "v9", ts("2025-07-01 00:00:05"), violation = true)
    ).toDS()
    val got = lastKnownNormalAlerts(events)
      .orderBy("warc_ts")
      .select("url", "norm_url").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"))).toSeq
    assert(got == Seq(("v0", "-"), ("v1", "n1"), ("v2", "n2"), ("v9", "-")))
  }
}
