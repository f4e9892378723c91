package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Closed-loop end-to-end benchmark of the shipped paths. One thread issues
  * ops back to back; see perfbench/README.md for the workloads, the
  * metrics and how to run it. Started by perfbench/run.py, which builds the
  * jar, runs `--phase prepare` (fixture generation) in a JVM of its own and
  * then `--phase measure` with the launch time of the measured JVM.
  */
object BenchMain {

  final case class Args(phase: String, workload: String, seed: Long,
      seconds: Int, trace: Boolean, stateDir: Path, manifest: Path,
      launchMs: Long)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val phase = need("phase")
    if (phase != "prepare" && phase != "measure") usage(s"unknown phase '$phase'")
    val w = need("workload")
    if (!Workload.Names.contains(w))
      usage(s"unknown workload '$w' (${Workload.Names.mkString(", ")})")
    val measure = phase == "measure"
    Args(phase, w, need("seed").toLong,
      if (measure) need("seconds").toInt else 0,
      measure && need("trace") == "1",
      Paths.get(need("state-dir")).toAbsolutePath,
      if (measure) Paths.get(need("manifest")).toAbsolutePath else null,
      if (measure) need("launch-ms").toLong else 0L)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --phase prepare --workload <name> " +
      "--seed <n> --state-dir <dir>\n       --phase measure --workload <name> " +
      "--seed <n> --seconds <s> --trace <0|1> --state-dir <dir> " +
      "--manifest <BENCHMARK.json> --launch-ms <epoch ms>")
    sys.exit(64)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try if (a.phase == "prepare") prepare(a) else run(a)
      catch {
        case t: Throwable =>
          System.err.println(s"perfbench: run aborted: $t")
          t.printStackTrace()
          1
      }
    System.exit(code)
  }

  /** Confs this session sets; everything else stays at Spark defaults. */
  private val cores = Runtime.getRuntime.availableProcessors

  private def sessionConfs(a: Args): Seq[(String, String)] = Seq(
    // the two confs graft.Main sets
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // one shuffle partition per core, as BenchExtra uses: at the default
    // 200 a small op is mostly task scheduling
    "spark.sql.shuffle.partitions" -> cores.toString,
    // keep every file the run writes inside the state directory
    "spark.local.dir" -> a.stateDir.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> a.stateDir.resolve("warehouse").toString,
    "spark.hadoop.hadoop.tmp.dir" -> a.stateDir.resolve("tmp").toString,
    "spark.ui.enabled" -> "false") ++ Workload.confs(a.workload).toSeq

  final case class OpStat(wallS: Double, cpuS: Double, docs: Long, ok: Boolean)

  private def session(a: Args): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
    sessionConfs(a).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def runDir(a: Args): Path = {
    val d = a.stateDir.resolve("runs")
      .resolve(s"${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}")
    Util.deleteTree(d)
    Files.createDirectories(d)
  }

  /** Generates the workload's missing fixtures; starts no Spark session
    * when none is missing.
    */
  private def prepare(a: Args): Int = {
    val fixtures = a.stateDir.resolve("fixtures")
    val missing = Workload.fixtureDirs(a.workload, Ctx(fixtures, null, a.seed))
      .filterNot(d => Files.exists(d.resolve("_fixture")))
    if (missing.nonEmpty) {
      val t0 = System.nanoTime()
      val spark = session(a)
      val dir = runDir(a)
      val w = Workload(a.workload, spark, Ctx(fixtures, dir, a.seed))
      try w.prepare()
      finally { w.close(); spark.stop(); Util.deleteTree(dir) }
      System.err.println(f"perfbench: generated ${missing.size} fixture(s) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    0
  }

  private def run(a: Args): Int = {
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val catalog = if (a.trace) Layers.catalog(a.manifest) else Nil

    val dir = runDir(a)
    val ctx = Ctx(a.stateDir.resolve("fixtures"), dir, a.seed)
    val w = Workload(a.workload, spark, ctx)
    val heap = new HeapAfterGc
    try {
      val setupReps = (1 to 3).map { _ =>
        val t = System.nanoTime(); w.setup(); (System.nanoTime() - t) / 1e9
      }
      val t1 = System.nanoTime()
      w.setupOnce()
      val onceS = (System.nanoTime() - t1) / 1e9

      var attempted = 0
      val failures = mutable.ArrayBuffer.empty[String]
      var nextOp = 0
      var checkS = 0.0
      def runOp(body: Int => OpOutcome): OpStat = {
        val i = nextOp
        nextOp += 1
        attempted += 1
        val (gc0, gcN0) = Util.gc()
        val cpu0 = Util.processCpuNs()
        val start = System.nanoTime()
        var wall = 0.0
        var cpu = 0.0
        try {
          val o = body(i)
          wall = (System.nanoTime() - start) / 1e9
          cpu = (Util.processCpuNs() - cpu0) / 1e9
          val (gc1, gcN1) = Util.gc()
          w.notes((i, "jvm.gc_s")) = gc1 - gc0
          w.notes((i, "jvm.gc_count")) = (gcN1 - gcN0).toDouble
          val c0 = System.nanoTime()
          try o.check() finally checkS += (System.nanoTime() - c0) / 1e9
          OpStat(wall, cpu, o.docs, ok = true)
        } catch {
          case e: Throwable =>
            if (wall == 0.0) {
              wall = (System.nanoTime() - start) / 1e9
              cpu = (Util.processCpuNs() - cpu0) / 1e9
            }
            System.err.println(s"perfbench: op $i failed: $e")
            if (!failures.contains(e.getClass.getName)) e.printStackTrace()
            failures += e.getClass.getName
            OpStat(wall, cpu, 0L, ok = false)
        }
      }
      def loop(budgetS: Double, minOps: Int, body: Int => OpOutcome): Seq[OpStat] = {
        val out = mutable.ArrayBuffer.empty[OpStat]
        val t = System.nanoTime()
        while ((out.size < minOps || (System.nanoTime() - t) / 1e9 < budgetS) &&
            nextOp < w.maxOps)
          out += runOp(body)
        out.toSeq
      }

      val tw = System.nanoTime()
      val warm = (1 to w.warmupOps).map(_ => runOp(w.op).wallS)
      val warmupS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + Util.median(setupReps) + onceS + warmupS

      val sentinelBefore = sentinel(spark)
      heap.reset()
      val jiffies0 = Util.cpuJiffies()
      val lines = mutable.ArrayBuffer.empty[String]
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val ops = loop(a.seconds, 3, w.op)
          val okOps = ops.filter(_.ok)
          val timed = if (okOps.nonEmpty) okOps else ops
          val rss = Util.peakRssMb()
          val steal = Util.stealShare(jiffies0)
          val sentinelAfter = sentinel(spark)
          lines += f"sentinel wall before/after: $sentinelBefore%.4f s / $sentinelAfter%.4f s, " +
            f"CPU steal during the timed ops ${steal * 100}%.1f %%"
          lines += s"timed ops: ${ops.size} (${okOps.size} ok), walls " +
            ops.map(o => f"${o.wallS}%.3f").mkString(" ") + " s"
          Seq(
            ("setup_s", setupS, "s"),
            // the median op's rate: a sum over three ops swings with one slow op
            ("docs_per_s", Util.median(timed.map(o => o.docs / o.wallS)), "docs/s"),
            ("op_s_p50", Util.median(timed.map(_.wallS)), "s"),
            ("cpu_s_per_op", ops.map(_.cpuS).sum / ops.size, "s"),
            ("peak_rss_mb", rss, "MB"),
            ("ok_ops_ratio", (attempted - failures.size).toDouble / attempted, "ratio"))
        } else {
          val plain = loop(a.seconds / 2.0, 2, w.op)
          val tracer = new Tracer(spark)
          val traced = loop(a.seconds / 2.0, 2, i => {
            tracer.op = i
            tracer.span("op")(w.tracedOp(i, tracer))
          })
          val tracedOps = traced.indices.map(_ + (nextOp - traced.size))
          val heapPeak = heap.peakMb // over the plain and traced ops
          val extraOps = w.tracedExtras.map { case (keep, f) =>
            runOp(i => { tracer.op = i; f(i, tracer) })
            (keep, nextOp - 1)
          }
          val steal = Util.stealShare(jiffies0)
          val sentinelAfter = sentinel(spark)
          val sums = tracer.sums()
          tracer.close()
          def layers(i: Int) = Layers.perOp(tracer.spans.filter(_.op == i), sums,
            w.notes.collect { case ((`i`, k), v) => k -> v }.toMap)
          val perOp = tracedOps.map(layers)
          val overhead = Util.median(traced.map(_.wallS)) - Util.median(plain.map(_.wallS))
          val extra = extraOps.flatMap { case (keep, i) =>
            layers(i).filter(_._1.startsWith(keep)) }
          val rows = Layers.report(catalog, perOp, w.setupLayers ++ extra ++ Map(
            "sentinel.wall_s_before" -> sentinelBefore,
            "sentinel.wall_s_after" -> sentinelAfter,
            "vm.steal_share" -> steal,
            "jvm.heap_after_gc_peak_mb" -> heapPeak,
            "trace.overhead_s" -> overhead))
          writeTrace(a, tracer.spans, sums, rows)
          lines += f"traced op_s_p50 ${Util.median(traced.map(_.wallS))}%.4f s, " +
            f"untraced ${Util.median(plain.map(_.wallS))}%.4f s, overhead $overhead%.4f s"
          lines ++= rows.map { case (n, v, u) => f"  $n%-56s $v%18.4f $u" }
          rows
        }

      val failed = failures.size
      println(s"[perfbench] workload=${a.workload} seed=${a.seed} " +
        s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
      println(s"[perfbench] session: local[$cores], -Xmx " +
        s"${Runtime.getRuntime.maxMemory / (1 << 20)} MB, confs " +
        sessionConfs(a).map { case (k, v) => s"$k=$v" }.mkString(" ") +
        "; everything else at Spark defaults")
      println(f"[perfbench] setup_s = session $sessionS%.3f + median setup rep " +
        f"${Util.median(setupReps)}%.3f [${setupReps.map(x => f"$x%.3f").mkString(", ")}]" +
        f" + once $onceS%.3f + warm-up $warmupS%.3f (${w.warmupOps} ops: " +
        warm.map(x => f"$x%.2f").mkString(" ") + ")")
      lines.foreach(l => println(s"[perfbench] $l"))
      println(f"[perfbench] measured JVM wall so far " +
        f"${(System.currentTimeMillis() - a.launchMs) / 1000.0}%.1f s, of it " +
        f"output checks $checkS%.1f s and non-median set-up reps " +
        f"${setupReps.sum - Util.median(setupReps)}%.1f s")
      println(s"[perfbench] failed_ops_ratio $failed/$attempted = " +
        f"${failed.toDouble / attempted}%.4f ratio" +
        (if (failed == 0) "" else failures.groupBy(identity)
          .map { case (c, xs) => s"$c x${xs.size}" }.mkString(" (", ", ", ")")))
      if (!a.trace) metrics.foreach { case (n, v, u) =>
        println(f"[perfbench]   $n%-14s $v%16.4f $u") }
      println(resultJson(failed == 0, attempted, failed, metrics))
      0
    } finally {
      heap.close()
      w.close()
      spark.stop()
      Util.deleteTree(dir)
    }
  }

  /** A fixed single-stage Spark job that uses no engine code. */
  private def sentinel(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0L, 8000000L, 1L, 4).select(xxhash64(col("id")).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      "\"metrics\": {" + metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"

  /** The span file and the per-layer table of a traced run. */
  private def writeTrace(a: Args, spans: Seq[Span], sums: Map[String, TaskSums],
      rows: Seq[(String, Double, String)]): Unit = {
    val dir = Files.createDirectories(a.stateDir.resolve("traces"))
    val base = s"${a.workload}-s${a.seed}"
    val empty = new TaskSums
    val spanJson = spans.map { s =>
      val t = sums.getOrElse(s.id, empty)
      s"""{"id": ${str(s.id)}, "layer": ${str(s.layer)}, "parent": ${str(s.parent)}, """ +
        s""""op": ${s.op}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""wall_s": ${num(s.wallS)}, "jobs": ${t.jobs}, "tasks": ${t.tasks}, """ +
        s""""cpu_s": ${num(t.cpuNs / 1e9)}, """ +
        s""""shuffle_write_bytes": ${t.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${t.spillBytes}, "peak_exec_mem_bytes": ${t.peakExecMem}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(dir.resolve(s"$base.spans.json"), spanJson.getBytes(StandardCharsets.UTF_8))
    val table = rows.map { case (n, v, u) => s"$n\t${num(v)}\t$u" }
      .mkString("metric\tvalue\tunit\n", "\n", "\n")
    Files.write(dir.resolve(s"$base.layers.tsv"), table.getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] spans: ${dir.resolve(s"$base.spans.json")}, " +
      s"layers: ${dir.resolve(s"$base.layers.tsv")}")
  }
}
