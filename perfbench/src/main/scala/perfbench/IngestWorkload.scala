package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.Validator
import graft.fixtures.WebGen
import graft.streaming.StreamingValidate

/** `ingest-ticks`: set-up backfills a history and saves a baseline; each op
  * lands one new file and runs one `incrementalValidate` tick with baseline
  * drift, cross-batch uniqueness and alerts posted to a loopback receiver.
  *
  * A tick's file holds `k` fresh rows (WebGen, NULL text on every 53rd row,
  * a trailing space on every 71st) plus the first `d` history rows landed
  * again, so every tick must flag exactly `d` cross-batch duplicates.
  */
final class IngestWorkload(spark: SparkSession, ctx: Ctx)
    extends Workload(spark, ctx) {
  import spark.implicits._

  import IngestWorkload._

  val name = "ingest-ticks"
  // After the backfill tick, ticks get faster for about the first four:
  // 5.9 5.0 4.7 4.2, then 3.9 3.7 3.6 3.7 3.8 3.9 s on a 4-vCPU VM.
  val warmupOps = 4
  override def maxOps: Int = ticks

  private val Seq(histFix, relandFix, ticksFix) = fixtures(ctx)
  private val tickSeed = ctx.seed * 7919L + 1L

  private val receiver = new AlertReceiver
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  // "size of files read" of every scan of the accumulated pages table,
  // per scan node (a cached plan's scan shows up under every action that
  // reads the cache). Spark's task input metrics miss parquet's vectored
  // reads; the scan node's file-size metric does not.
  private val historyScans = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Long]())
  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) {
        case s: FileSourceScanExec => Seq(s)
        case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      }.flatten
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = if (dirs != null) {
      val pages = dirs._2.resolve("pages").toUri.getPath.stripSuffix("/")
      scans(qe.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(pages)))
        .foreach(s => historyScans.put(s,
          java.lang.Long.valueOf(s.metrics.get("filesSize").map(_.value).getOrElse(0L))))
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private var dirs: (Path, Path, Path) = _ // in, out, checkpoint
  private var baselineDir: String = _
  private var setups = 0
  private var nextTick = 0
  private val baselineWalls = Seq.newBuilder[Double]

  def prepare(): Unit = {
    Fixtures.ensure(spark, histFix) { out =>
      Fixtures.webPages(spark, h, ctx.seed, WebGen.Flags()).write.parquet(out)
    }
    // identical to the first d history rows: WebGen rows are a pure
    // function of (index, seed)
    Fixtures.ensure(spark, relandFix) { out =>
      Fixtures.webPages(spark, d, ctx.seed, WebGen.Flags()).coalesce(1)
        .write.parquet(out)
    }
    Fixtures.ensure(spark, ticksFix) { out =>
      val idx = (unix_timestamp(col("warc_ts")) - unix_timestamp(lit(WebGen.Epoch))) /
        WebGen.SecondsStep
      Fixtures.webPages(spark, k * ticks, tickSeed,
          WebGen.Flags(nullText = true, badExtract = true))
        .withColumn("tick", floor(idx / k).cast("int"))
        .repartition(col("tick"))
        .write.partitionBy("tick").parquet(out)
    }
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def setup(): Unit = {
    setups += 1
    Seq(histFix, relandFix, ticksFix).foreach(Fixtures.load(spark, _))
    baselineDir = ctx.run.resolve(s"baseline-$setups").toString
    val t0 = System.nanoTime()
    Validator.saveBaseline(
      Fixtures.withDay(spark.read.parquet(histFix.resolve("data").toString)),
      baselineDir)
    Validator.loadBaseline(spark, baselineDir)
    baselineWalls += (System.nanoTime() - t0) / 1e9
  }

  /** Backfills the history through one tick. */
  override def setupOnce(): Unit = {
    val root = ctx.run.resolve("ingest")
    val in = Files.createDirectories(root.resolve("in"))
    dirs = (in, root.resolve("out"), root.resolve("checkpoint"))
    parquetFiles(histFix.resolve("data")).zipWithIndex.foreach { case (f, j) =>
      Files.copy(f, in.resolve(s"history-$j.parquet"))
    }
    tick()
  }

  override def setupLayers: Map[String, Double] =
    Map("engine.BaselineStore.wall_s" -> Util.median(baselineWalls.result()))

  /** One AvailableNow tick over whatever is new in the input dir. */
  private def tick(): String = {
    val (in, out, ckpt) = dirs
    val q = StreamingValidate.incrementalValidate(spark, in.toString,
      out.toString, ckpt.toString, baselineDir = Some(baselineDir),
      alertEndpoint = Some(receiver.url))
    q.awaitTermination()
    q.runId.toString
  }

  private def land(t: Int): Unit = {
    val in = dirs._1
    val src = parquetFiles(ticksFix.resolve("data").resolve(s"tick=$t")) ++
      parquetFiles(relandFix.resolve("data"))
    src.zipWithIndex.foreach { case (f, j) =>
      val tmp = in.resolve(s".tick-$t-$j.tmp")
      Files.copy(f, tmp)
      Files.move(tmp, in.resolve(s"tick-$t-$j.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def op(i: Int): OpOutcome = {
    val t = nextTick
    nextTick += 1
    receiver.reset()
    land(t)
    tick()
    outcome(t)
  }

  private def outcome(t: Int): OpOutcome = OpOutcome(k + d, () => check(t))

  private def check(t: Int): Unit = {
    def fail(msg: String) = throw new IllegalStateException(s"$name tick $t: $msg")
    val viol = spark.read.parquet(dirs._2.resolve("violations").toString)
    val newest = viol.agg(max(col("ingest_batch")).cast("long")).head().getLong(0)
    val counts = viol.where(col("ingest_batch") === newest)
      .groupBy("check_name").count().as[(String, Long)].collect().toMap
    val m = Workload.multiples(t * k, (t + 1) * k, _: Long)
    val expected = Map(
      "not_null_text" -> m(53),
      "byte_identical_text" -> (m(71) - m(53 * 71)),
      "unique_url_cross_batch" -> d).filter(_._2 > 0)
    if (counts != expected) fail(s"violation counts $counts, expected $expected")
    val delivered = receiver.distinctIds
    if (delivered != expected.values.sum)
      fail(s"receiver got $delivered distinct alerts, expected ${expected.values.sum}")
  }

  def tracedOp(i: Int, tr: Tracer): OpOutcome = {
    val t = nextTick
    nextTick += 1
    receiver.reset()
    progress.clear()
    historyScans.clear()
    val runId = tr.span("streaming.StreamingValidate") {
      land(t)
      tick()
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val ps = progress.asScala.map(_.progress).filter(_.runId.toString == runId)
    def dur(key: String) =
      ps.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    note(i, "streaming.StreamingValidate.add_batch_s", dur("addBatch"))
    note(i, "streaming.StreamingValidate.planning_s", dur("queryPlanning"))
    note(i, "streaming.StreamingValidate.wal_commit_s", dur("walCommit"))
    note(i, "streaming.StreamingValidate.input_rows", ps.map(_.numInputRows).sum.toDouble)
    note(i, "streaming.StreamingValidate.history_input_bytes",
      historyScans.values.asScala.map(_.longValue).sum.toDouble)
    note(i, "streaming.AlertSink.posts", receiver.posts.get.toDouble)
    note(i, "streaming.AlertSink.payload_bytes", receiver.bytes.get.toDouble)
    note(i, "streaming.AlertSink.spool_files_left",
      Util.tree(dirs._2.resolve("_alert_spool"))._1.toDouble)
    outcome(t)
  }

  override def close(): Unit = receiver.stop()
}

object IngestWorkload {
  val h = 20000L // history rows
  val k = 2000L // fresh rows per tick
  val d = 60L // history rows landed again per tick
  val ticks = 12 // pre-generated tick files: warm-up plus timed ticks

  /** History, re-landed rows, tick files. */
  def fixtures(ctx: Ctx): Seq[Path] = {
    val r = Fixtures.RecipeVersion
    Seq(ctx.fixtures.resolve(s"hist-r$r-s${ctx.seed}-n$h"),
      ctx.fixtures.resolve(s"reland-r$r-s${ctx.seed}-n$d"),
      ctx.fixtures.resolve(s"ticks-r$r-s${ctx.seed}-k$k-t$ticks"))
  }
}
