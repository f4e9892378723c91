package graft.streaming

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec
import graft.engine.Constraints
import graft.fixtures.WebGen

/** S11: batched HTTP alert push against a local in-process server — incl.
  * the reference's sink-failure isolation (crash-safe spool, bounded retry,
  * capped fan-out; alert/database/alert.go + rworker pool semantics).
  */
class AlertSinkSpec extends SparkSpec {

  /** failFirst: respond `failCode` to the first N requests (503 models a
    * transient outage; 400 models an active permanent rejection).
    */
  private def withServer(failFirst: Int = 0, failCode: Int = 503)(
      f: (Int, ConcurrentLinkedQueue[(String, String, String)]) => Unit): Unit = {
    val received = new ConcurrentLinkedQueue[(String, String, String)]()
    val failures = new AtomicInteger(failFirst)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/alerts", (ex: HttpExchange) => {
      val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding")).getOrElse("")
      val raw = ex.getRequestBody.readAllBytes()
      if (failures.getAndDecrement() > 0) {
        ex.sendResponseHeaders(failCode, -1)
        ex.close()
      } else {
        val body =
          if (enc == "gzip")
            new String(new GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes(), "UTF-8")
          else new String(raw, "UTF-8")
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        received.add((auth, enc, body))
        ex.sendResponseHeaders(200, -1)
        ex.close()
      }
    })
    server.start()
    try f(server.getAddress.getPort, received)
    finally server.stop(0)
  }

  private def violations = {
    val wp = WebGen.generate(spark, 500, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    Constraints.NotNull("text").violations(wp)
  }

  private def rowsIn(msgs: Seq[(String, String, String)]): Int =
    msgs.map(m => "\"violation_id\"".r.findAllIn(m._3).size).sum

  test("push: batched JSON POSTs with bearer auth, all rows arrive") {
    withServer() { (port, received) =>
      val v = violations
      val expected = v.count()
      val res = AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(bearerToken = Some("tok"), batchSize = 3))
      assert(res.posted > 0 && res.pending == 0)
      val msgs = received.asScala.toSeq
      assert(msgs.size == res.posted)
      assert(msgs.forall(_._1 == "Bearer tok"))
      assert(rowsIn(msgs) == expected)
      // request bodies: a single packed payload travels as a BARE
      // {entityId,data} object (the reference's wire shape); only
      // multi-payload requests are arrays of such objects
      assert(msgs.forall(m =>
        (m._3.startsWith("{") && m._3.endsWith("}")) ||
          (m._3.startsWith("[{") && m._3.endsWith("}]"))), msgs.map(_._3.take(20)))
      // the size cap applies per entity object: ≤ 3 rows in each data array
      val perObject = msgs.flatMap(_._3.split("\"entityId\"").drop(1))
      assert(perObject.nonEmpty)
      assert(perObject.forall(o => "\"violation_id\"".r.findAllIn(o).size <= 3))
    }
  }

  test("payload wire shape is the reference's {entityId, data:[...]} grouping") {
    withServer() { (port, received) =>
      import spark.implicits._
      val v = violations
      val expected = v.count()
      val parts = v.select("partition").distinct().as[String].collect().toSet
      AlertSink.push(v, s"http://127.0.0.1:$port/alerts")
      // parse every received body with Spark's JSON reader: top-level array
      // of {entityId, data:[violation rows]} objects
      val parsed = spark.read.json(received.asScala.toSeq.map(_._3).toDS())
      assert(parsed.columns.sorted.toSeq == Seq("data", "entityId"),
        parsed.columns.mkString(","))
      assert(parsed.select("entityId").as[String].collect().toSet == parts)
      import org.apache.spark.sql.functions.{explode, col => c}
      val rows = parsed.select(c("entityId"), explode(c("data")).as("d"))
      assert(rows.count() == expected)
      // each data row carries the violation fields; entity equals its partition
      assert(rows.where(c("d.violation_id").isNull).count() == 0)
      assert(rows.where(c("d.check_name") =!= "not_null_text").count() == 0)
    }
  }

  test("push: gzip bodies decode to the same rows") {
    withServer() { (port, received) =>
      val v = violations
      val expected = v.count()
      AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(gzipBody = true, batchSize = 100))
      val msgs = received.asScala.toSeq
      assert(msgs.forall(_._2 == "gzip"))
      assert(rowsIn(msgs) == expected)
    }
  }

  test("endpoint down: job SUCCEEDS, alerts land in the spool, a re-push drains it") {
    import java.nio.file.Files
    val spool = Files.createTempDirectory("alert_spool").toString
    val v = violations
    val expected = v.count()
    val fastRetry = AlertSink.HttpConf(maxRetries = 2, retryBackoffMs = 10L)
    // with the default batchSize each entity (partition) is one payload
    // object; `pending` counts payload objects, not rows
    val expectedObjects = v.select("partition").distinct().count()
    // port 1 refuses connections — the reference's down-sink scenario; the
    // pre-r3 sink threw inside foreachPartition and FAILED the whole job
    val down = AlertSink.push(v, "http://127.0.0.1:1/alerts", fastRetry, Some(spool))
    assert(down.posted == 0 && down.pending == expectedObjects, down.toString)
    val pending = spark.read.parquet(s"$spool/batch-*")
    assert(pending.count() == expectedObjects)
    // endpoint recovers → drain delivers everything and empties the spool
    withServer() { (port, received) =>
      val drained = AlertSink.drainSpool(
        spark, spool, s"http://127.0.0.1:$port/alerts", fastRetry)
      assert(drained.pending == 0 && drained.posted > 0)
      assert(rowsIn(received.asScala.toSeq) == expected)
    }
    val fs = new org.apache.hadoop.fs.Path(spool)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(spool))
      .filter(_.getPath.getName.startsWith("batch-"))
    assert(left.isEmpty, s"spool not drained: ${left.map(_.getPath).mkString(",")}")
  }

  test("corrupt/partial spool batches are quarantined, not delivery-wedging") {
    import java.nio.file.{Files, Paths}
    val spool = Files.createTempDirectory("alert_spool_corrupt").toString
    val v = violations
    val expected = v.count()
    val fastRetry = AlertSink.HttpConf(maxRetries = 2, retryBackoffMs = 10L)
    // one GOOD spooled batch (endpoint down → rows persist with _SUCCESS)
    AlertSink.push(v, "http://127.0.0.1:1/alerts", fastRetry, Some(spool))
    // a PARTIAL batch — crashed mid-spool: only _temporary, no footers —
    // aged past the write grace so the drain reads it as crashed, not live
    val partial = Paths.get(spool, "batch-partial-crash")
    Files.createDirectories(partial.resolve("_temporary"))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 20L * 60 * 1000)
    Files.setLastModifiedTime(partial.resolve("_temporary"), aged)
    Files.setLastModifiedTime(partial, aged)
    // a FRESH unmarked dir models a concurrent stream's spool() MID-WRITE
    // (spool writes take no lock): the drain must leave it untouched —
    // quarantining it would fail the writer's commit and lose its alerts
    val live = Paths.get(spool, "batch-partial-live")
    Files.createDirectories(live.resolve("_temporary"))
    // a MARKED-but-torn batch: _SUCCESS present, parquet file is garbage
    val torn = Paths.get(spool, "batch-torn")
    Files.createDirectories(torn)
    Files.write(torn.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(torn.resolve("part-00000.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // pre-fix behavior: the collective spark.read.parquet over all batch-*
    // dirs threw AnalysisException → every future drain failed → alerts
    // wedged forever. Now: good rows deliver, bad dirs are quarantined.
    withServer() { (port, received) =>
      val drained = AlertSink.drainSpool(
        spark, spool, s"http://127.0.0.1:$port/alerts", fastRetry)
      assert(drained.pending == 0 && drained.posted > 0, drained.toString)
      assert(drained.inFlightBatches == 1 && drained.unfinished,
        s"skipped live write must keep the result unfinished: $drained")
      assert(rowsIn(received.asScala.toSeq) == expected)
    }
    val names = Files.list(Paths.get(spool)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.filter(_.startsWith("batch-")) == Set("batch-partial-live"),
      s"undrained or live-write touched: $names")
    assert(names.exists(_.startsWith("quarantine-batch-partial-crash")),
      names.toString)
    assert(names.exists(_.startsWith("quarantine-batch-torn")), names.toString)
    // quarantined rows stay on disk for the operator
    assert(Files.exists(Paths.get(spool).resolve(
      names.find(_.startsWith("quarantine-batch-torn")).get).resolve("_SUCCESS")))
  }

  test("transient 503s are absorbed by bounded retry (no loss, no failure)") {
    withServer(failFirst = 1) { (port, received) =>
      val v = violations.coalesce(1) // one task → the 503 hits the first POST
      val expected = v.count()
      val res = AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(maxRetries = 3, retryBackoffMs = 10L))
      assert(res.pending == 0, res.toString)
      assert(rowsIn(received.asScala.toSeq) == expected)
    }
  }

  test("request bodies respect the ROW budget across many small entity objects") {
    withServer() { (port, received) =>
      import spark.implicits._
      // 24 rows over 8 entities: objects of 3 rows each; with batchSize=4
      // a request may hold at most one 3-row object plus nothing bigger —
      // the pre-fix packing put batchSize OBJECTS per request (up to
      // batchSize² rows)
      val v = (0 until 24).map(i =>
          (s"e${i % 8}", s"u$i", "c", "o", "e", s"id$i", null: String))
        .toDF("partition", "url", "check_name", "observed", "expected",
          "violation_id", "extra")
      val res = AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(batchSize = 4))
      assert(res.pending == 0)
      val msgs = received.asScala.toSeq
      assert(rowsIn(msgs) == 24)
      assert(msgs.forall(m =>
        "\"violation_id\"".r.findAllIn(m._3).size <= 4),
        msgs.map(m => "\"violation_id\"".r.findAllIn(m._3).size).toString)
      assert(msgs.size >= 6) // 24 rows / ≤4 per request
    }
  }

  test("outages do NOT age payloads toward quarantine; active 4xx rejections DO") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.max
    val spool = Files.createTempDirectory("alert_spool_aging").toString
    val v = violations
    val fastRetry = AlertSink.HttpConf(maxRetries = 1, retryBackoffMs = 5L,
      maxDeliveryAttempts = 2)
    def maxAttempts(): Int = spark.read.parquet(s"$spool/batch-*")
      .agg(max("attempts")).head.getInt(0)
    // two full TRANSIENT cycles (refused connection): the rejection
    // counter must stay 0 — a weekend outage is not a poison payload —
    // while the transient counter records each cycle
    AlertSink.push(v, "http://127.0.0.1:1/alerts", fastRetry, Some(spool))
    AlertSink.drainSpool(spark, spool, "http://127.0.0.1:1/alerts", fastRetry)
    assert(maxAttempts() == 0, "transient failures aged the payloads")
    assert(spark.read.parquet(s"$spool/batch-*")
      .agg(max("t_attempts")).head.getInt(0) == 2, "t_attempts not tracked")
    // an auth-style 4xx (401) is an ENVIRONMENT problem, not a body
    // rejection: it must age only the transient counter too
    withServer(failFirst = Int.MaxValue, failCode = 401) { (port, _) =>
      AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts", fastRetry)
      assert(maxAttempts() == 0, "401 treated as a body rejection")
    }
    // ACTIVE rejection (HTTP 400 on every request): each drain cycle adds
    // one attempt, and at maxDeliveryAttempts the payloads quarantine
    withServer(failFirst = Int.MaxValue, failCode = 400) { (port, _) =>
      val ep = s"http://127.0.0.1:$port/alerts"
      AlertSink.drainSpool(spark, spool, ep, fastRetry)
      assert(maxAttempts() == 1, "active rejection did not age the payloads")
      AlertSink.drainSpool(spark, spool, ep, fastRetry)
      assert(maxAttempts() == 2)
      val res = AlertSink.drainSpool(spark, spool, ep, fastRetry)
      assert(res.quarantined > 0 && res.pending == 0, res.toString)
    }
    val names = Files.list(java.nio.file.Paths.get(spool)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.startsWith("quarantine-payloads-")), names.toString)
  }

  test("transient quarantine needs BOTH the cycle cap and the age bound; legacy 3-col batches flow") {
    import java.nio.file.Files
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_age").toString
    val now = System.currentTimeMillis()
    val week = 8L * 24 * 3600 * 1000
    // young payload over the cycle cap (a streaming job draining every few
    // seconds during a long outage) must NOT quarantine; an old one must
    Seq(("""{"entityId":"young","data":[{"violation_id":"young"}]}""", 1, 0, 5000, now),
        ("""{"entityId":"old","data":[{"violation_id":"old"}]}""", 1, 0, 5000, now - week))
      .toDF("j", "n", "attempts", "t_attempts", "first_seen")
      .write.parquet(s"$spool/batch-aged")
    // plus LEGACY pre-upgrade batches in BOTH historical shapes — j-only
    // (first spool format) and j/n/attempts (pre-first_seen format) — each
    // must normalize and deliver
    Seq("""{"entityId":"legacy","data":[{"violation_id":"legacy"}]}""")
      .toDF("j").write.parquet(s"$spool/batch-legacy1")
    Seq(("""{"entityId":"legacy3","data":[{"violation_id":"legacy3"}]}""", 1, 0))
      .toDF("j", "n", "attempts").write.parquet(s"$spool/batch-legacy3")
    withServer() { (port, received) =>
      val res = AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(maxTransientAttempts = 2000))
      val bodies = received.asScala.map(_._3).mkString
      assert(bodies.contains("young"), "young payload was not redelivered")
      assert(bodies.contains("\"legacy\""), "j-only legacy payload lost")
      assert(bodies.contains("legacy3"), "j/n/attempts legacy payload lost")
      assert(!bodies.contains("\"old\""), "age-expired payload still delivered")
      assert(res.quarantined == 1, res.toString)
    }
  }

  test("poison payloads are quarantined after maxDeliveryAttempts, not retried forever") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_poison").toString
    // a payload the receiver will never accept, already at the attempt cap,
    // sitting in the spool next to a healthy one
    Seq(("""{"entityId":"p","data":[{"violation_id":"poison"}]}""", 1, 20),
        ("""{"entityId":"h","data":[{"violation_id":"healthy"}]}""", 1, 3))
      .toDF("j", "n", "attempts")
      .write.parquet(s"$spool/batch-mixed")
    withServer() { (port, received) =>
      val res = AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(maxDeliveryAttempts = 20))
      assert(res.pending == 0)
      val bodies = received.asScala.map(_._3).mkString
      assert(bodies.contains("healthy"))
      assert(!bodies.contains("poison"), "poison payload was still delivered")
    }
    val names = Files.list(Paths.get(spool)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.startsWith("quarantine-payloads-")), names.toString)
    assert(!names.exists(_.startsWith("batch-")), names.toString)
    val q = spark.read.parquet(
      s"$spool/${names.find(_.startsWith("quarantine-payloads-")).get}")
    assert(q.count() == 1 && q.select("j").as[String].collect()
      .head.contains("poison"))
  }

  test("reference-strict mode: maxObjectsPerRequest=1 sends every body as ONE bare object") {
    withServer() { (port, received) =>
      import spark.implicits._
      val v = (0 until 12).map(i =>
          (s"e${i % 4}", s"u$i", "c", "o", "e", s"id$i", null: String))
        .toDF("partition", "url", "check_name", "observed", "expected",
          "violation_id", "extra")
      val res = AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(maxObjectsPerRequest = 1))
      assert(res.pending == 0)
      val msgs = received.asScala.toSeq
      // one request per entity object, each a bare {entityId,data} body —
      // exactly what a receiver built against the reference protocol
      // (alert/alert.go do(): one object per request) expects
      assert(msgs.size == 4, msgs.size.toString)
      assert(msgs.forall(m => m._3.startsWith("{\"entityId\"") &&
        m._3.endsWith("}")), msgs.map(_._3.take(30)))
      assert(rowsIn(msgs) == 12)
    }
  }

  test("drain reports spool depth + oldest pending first_seen (outage observability)") {
    import java.nio.file.Files
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_depth").toString
    val t0 = 1700000000000L // deterministic seeded ages
    Seq(("""{"entityId":"a","data":[{"violation_id":"a"}]}""", 1, 0, 0, t0),
        ("""{"entityId":"b","data":[{"violation_id":"b"}]}""", 1, 0, 0, t0 + 60000))
      .toDF("j", "n", "attempts", "t_attempts", "first_seen")
      .write.parquet(s"$spool/batch-seeded")
    val res = AlertSink.drainSpool(spark, spool, "http://127.0.0.1:1/alerts",
      AlertSink.HttpConf(maxRetries = 1, retryBackoffMs = 5L))
    assert(res.pending == 2, res.toString)
    assert(res.oldestPendingMs == t0,
      s"oldest pending must be the seeded minimum first_seen: $res")
    // a later successful drain clears the depth metrics
    withServer() { (port, _) =>
      val ok = AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts", AlertSink.HttpConf())
      assert(ok.pending == 0 && ok.oldestPendingMs == -1L, ok.toString)
    }
  }

  test("dir-level quarantines are counted in PushResult on EVERY return path") {
    import java.nio.file.{Files, Paths}
    val spool = Files.createTempDirectory("alert_spool_qcount").toString
    // ONLY corrupt dirs in the spool: the pre-fix early return reported
    // PushResult(0,0) with quarantinedBatches=0 — rows parked with no signal
    val partial = Paths.get(spool, "batch-crashed")
    Files.createDirectories(partial.resolve("_temporary"))
    val aged = java.nio.file.attribute.FileTime.fromMillis( // past the grace
      System.currentTimeMillis() - 20L * 60 * 1000)
    Files.setLastModifiedTime(partial.resolve("_temporary"), aged)
    Files.setLastModifiedTime(partial, aged)
    val torn = Paths.get(spool, "batch-torn")
    Files.createDirectories(torn)
    Files.write(torn.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(torn.resolve("part-00000.snappy.parquet"),
      "garbage".getBytes("UTF-8"))
    val res = AlertSink.drainSpool(spark, spool, "http://127.0.0.1:1/alerts",
      AlertSink.HttpConf(maxRetries = 1, retryBackoffMs = 5L))
    assert(res.quarantinedBatches == 2, res.toString)
    assert(res.posted == 0 && res.pending == 0)
    // and a LATER drain still surfaces the parked entries as backlog —
    // this-call counters alone would read as a clean spool
    val later = AlertSink.drainSpool(spark, spool, "http://127.0.0.1:1/alerts",
      AlertSink.HttpConf(maxRetries = 1, retryBackoffMs = 5L))
    assert(later.quarantineBacklog == 2 && later.unfinished, later.toString)
  }

  test("concurrent drains are serialized by the spool lease; stale locks expire") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_lock").toString
    Seq(("""{"entityId":"a","data":[{"violation_id":"a"}]}""", 1, 0, 0, 1L))
      .toDF("j", "n", "attempts", "t_attempts", "first_seen")
      .write.parquet(s"$spool/batch-seeded")
    // a FRESH lock (another drain in flight): this drain must do NOTHING —
    // no POSTs, no re-spool, no deletes — and say so via lockedOut
    Files.write(Paths.get(spool, "_drain.lock"), Array.emptyByteArray)
    withServer() { (port, received) =>
      val res = AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts")
      assert(res.lockedOut && res.unfinished, res.toString)
      assert(received.isEmpty, "locked-out drain still POSTed")
      assert(Files.exists(Paths.get(spool, "batch-seeded")),
        "locked-out drain touched the spool")
      // a STALE lock (crashed drain) is taken over after the lease
      // (default 60 min — age it well past that)
      Files.setLastModifiedTime(Paths.get(spool, "_drain.lock"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 3600 * 1000))
      val res2 = AlertSink.drainSpool(spark, spool,
        s"http://127.0.0.1:$port/alerts")
      assert(!res2.lockedOut && res2.posted > 0 && res2.pending == 0,
        res2.toString)
      // the lock is released after a completed drain
      assert(!Files.exists(Paths.get(spool, "_drain.lock")))
    }
  }

  test("PushResult.summary labels every unit (the one formatter all sites share)") {
    val s = AlertSink.PushResult(3L, 2L, 1L, 1L, 1700000000000L,
      quarantineBacklog = 4L).summary
    assert(s.contains("posted_requests=3") && s.contains("pending_payloads=2") &&
      s.contains("quarantined_payloads=1") &&
      s.contains("quarantined_batch_dirs=1") &&
      s.contains("quarantine_backlog=4") && s.contains("oldest="), s)
    assert(AlertSink.PushResult(0L, 0L, lockedOut = true).summary
      .contains("locked_out=true"))
    assert(AlertSink.PushResult(5L, 0L).unfinished == false)
    assert(AlertSink.PushResult(0L, 0L, quarantined = 1L).unfinished)
    assert(AlertSink.PushResult(0L, 0L, quarantinedBatches = 1L).unfinished)
    assert(AlertSink.PushResult(0L, 0L, quarantineBacklog = 1L).unfinished)
    // a skipped possibly-in-progress write is NOT a clean spool: green
    // (exit 0) must keep meaning "nothing left to deliver"
    val fl = AlertSink.PushResult(0L, 0L, inFlightBatches = 2L)
    assert(fl.unfinished && fl.summary.contains("in_flight_batch_dirs=2"), fl)
  }

  test("fan-out is capped at maxConcurrency partitions (rworker analog)") {
    withServer() { (port, received) =>
      val v = violations.repartition(16)
      val expected = v.count()
      // cap 2: with batchSize ≥ rows-per-partition, POST count == partition
      // count after the coalesce — must be ≤ 2, not 16
      val res = AlertSink.push(v, s"http://127.0.0.1:$port/alerts",
        AlertSink.HttpConf(batchSize = 10000, maxConcurrency = 2))
      assert(res.posted <= 2, s"cap ignored: ${res.posted} POSTs")
      assert(rowsIn(received.asScala.toSeq) == expected)
    }
  }

  test("unmarked-dir aging probes content mtimes (object-store fake dirs read as age-unknown)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val spool = Files.createTempDirectory("alert_spool_mtime").toString
    val old = FileTime.fromMillis(System.currentTimeMillis() - 20L * 60 * 1000)
    val epoch = FileTime.fromMillis(0L) // S3A fake-dir marker analog
    def mk(name: String, withFile: Boolean): java.nio.file.Path = {
      val d = Paths.get(spool, name)
      Files.createDirectories(d.resolve("_temporary"))
      if (withFile)
        Files.write(d.resolve("_temporary").resolve("task-0"),
          "x".getBytes("UTF-8"))
      d
    }
    // a: every stamp aged → positive evidence of a crashed write → park it
    val a = mk("batch-aged", withFile = true)
    Files.setLastModifiedTime(a.resolve("_temporary").resolve("task-0"), old)
    Files.setLastModifiedTime(a.resolve("_temporary"), old)
    Files.setLastModifiedTime(a, old)
    // b: dir entry says epoch-0 (fake-dir marker) but a task file is FRESH
    // — a live write on an object store; dir-mtime-only aging would park it
    val b = mk("batch-live-s3", withFile = true)
    Files.setLastModifiedTime(b, epoch)
    // c: dir entry epoch-0 and NO contents anywhere: an inert shell — it
    // holds no rows, so it is ignored (left in place, logged, NOT counted
    // into in_flight/unfinished — else drain-alerts exits 1 forever on a
    // harmless object-store marker)
    val c = mk("batch-empty-s3", withFile = false)
    Files.setLastModifiedTime(c.resolve("_temporary"), epoch)
    Files.setLastModifiedTime(c, epoch)
    // d: the REAL Spark committer layout — task file nested at
    // _temporary/0/_temporary/attempt_1/part-0, upper dirs all aged (their
    // mtimes freeze at write start) but the task file itself FRESH: a slow
    // live write. A shallow probe would read the frozen upper dirs as aged
    // and destroy the write; the deep probe must classify it in-flight.
    val d = Paths.get(spool, "batch-deep-live")
    val attempt = d.resolve("_temporary").resolve("0")
      .resolve("_temporary").resolve("attempt_1")
    Files.createDirectories(attempt)
    Files.write(attempt.resolve("part-0"), "x".getBytes("UTF-8"))
    Seq(attempt, attempt.getParent, attempt.getParent.getParent,
        d.resolve("_temporary"), d)
      .foreach(Files.setLastModifiedTime(_, old))
    val res = AlertSink.drainSpool(spark, spool, "http://127.0.0.1:1/alerts",
      AlertSink.HttpConf(maxRetries = 1, retryBackoffMs = 5L))
    assert(res.quarantinedBatches == 1 && res.inFlightBatches == 2,
      res.toString)
    val names = Files.list(Paths.get(spool)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.contains("quarantine-batch-aged"), names.toString)
    assert(names.contains("batch-live-s3") && names.contains("batch-empty-s3")
      && names.contains("batch-deep-live"),
      s"live/unknown-age dirs must be left untouched: $names")
  }

  test("lock release survives transient read failures; persistent ones fall back to lease math") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_flaky").toString
    def seed(name: String): Unit =
      Seq(("""{"entityId":"a","data":[{"violation_id":"a"}]}""", 1, 0, 0, 1L))
        .toDF("j", "n", "attempts", "t_attempts", "first_seen")
        .write.parquet(s"$spool/$name")
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyLockFs].getName)
    withServer() { (port, _) =>
      // transient: two failed lock reads are absorbed by the retry; the
      // third verifies the token and deletes our lock
      seed("batch-a")
      FlakyLockFs.openFailuresLeft.set(2)
      val res = AlertSink.drainSpool(spark, s"flaky:$spool",
        s"http://127.0.0.1:$port/alerts")
      assert(!res.lockedOut && res.posted > 0, res.toString)
      assert(!Files.exists(Paths.get(spool, "_drain.lock")),
        "transient lock-read failures left the completed drain's lock behind")
      // persistent: every read fails, but the drain finished well inside
      // the lease, so no takeover was POSSIBLE — the lock must be deleted
      // unverified rather than wedge every drain for the rest of the lease
      seed("batch-b")
      FlakyLockFs.openFailuresLeft.set(1000)
      val res2 = AlertSink.drainSpool(spark, s"flaky:$spool",
        s"http://127.0.0.1:$port/alerts")
      FlakyLockFs.openFailuresLeft.set(0)
      assert(!res2.lockedOut && res2.posted > 0, res2.toString)
      assert(!Files.exists(Paths.get(spool, "_drain.lock")),
        "persistent lock-read failure left our own lock wedging the spool")
    }
  }

  test("a failed lock WRITE cleans up the half-created lock instead of wedging the lease") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("alert_spool_halflock").toString
    Seq(("""{"entityId":"a","data":[{"violation_id":"a"}]}""", 1, 0, 0, 1L))
      .toDF("j", "n", "attempts", "t_attempts", "first_seen")
      .write.parquet(s"$spool/batch-seeded")
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyLockFs].getName)
    withServer() { (port, _) =>
      // the create SUCCEEDS but the token write throws: without cleanup the
      // fresh zero-byte lock reads as "another drain in flight" and wedges
      // every drain for a full lease with no holder alive. With cleanup the
      // acquire retry path (lock vanished → recreate) proceeds in THIS call.
      FlakyLockFs.createWriteFailuresLeft.set(1)
      val res = AlertSink.drainSpool(spark, s"flaky:$spool",
        s"http://127.0.0.1:$port/alerts")
      FlakyLockFs.createWriteFailuresLeft.set(0)
      assert(!res.lockedOut && res.posted > 0,
        s"half-written lock wedged the drain: $res")
      assert(!Files.exists(Paths.get(spool, "_drain.lock")))
    }
  }
}

/** RawLocalFileSystem (scheme `flaky:`) that injects IOExceptions into
  * open() of `_drain.lock` — lets the spec drive [[AlertSink.drainSpool]]'s
  * release path: bounded read retry, then the lease-math unverified delete.
  * Public: Hadoop instantiates it reflectively from `fs.flaky.impl`.
  */
class FlakyLockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName == "_drain.lock" &&
        FlakyLockFs.openFailuresLeft.getAndDecrement() > 0)
      throw new java.io.IOException("injected lock-read failure")
    super.open(f, bufferSize)
  }
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    val out =
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    if (f.getName == "_drain.lock" &&
        FlakyLockFs.createWriteFailuresLeft.getAndDecrement() > 0)
      // create has SUCCEEDED (file exists) — fail the token write, the
      // crash window the acquire path must clean up after
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FilterOutputStream(out) {
          private def boom(): Nothing = {
            try super.close() catch { case _: java.io.IOException => () }
            throw new java.io.IOException("injected lock-write failure")
          }
          override def write(b: Int): Unit = boom()
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            boom()
        }, null)
    else out
  }
}

object FlakyLockFs {
  /** Decremented per `_drain.lock` open; > 0 means "fail this one". */
  val openFailuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Decremented per `_drain.lock` create; > 0 means "fail its write". */
  val createWriteFailuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
}
