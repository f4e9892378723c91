package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call of the traced run. `id` is unique per call and is also the
  * Spark job group the call ran under; `layer` is the name the per-layer
  * table reports it as.
  */
final case class Span(id: String, layer: String, parent: String, op: Int,
    startMs: Long, endMs: Long, wallS: Double)

/** Task-metric sums of the Spark work attributed to one span. */
final class TaskSums {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def add(o: TaskSums): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Sums TaskMetrics per stage and remembers which job group (and submit
  * time) every job had, so the sums can be attributed to spans once the
  * bus is drained.
  */
final class TaskListener extends SparkListener {
  final case class JobRec(jobId: Int, group: String, timeMs: Long, stages: Seq[Int])

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentHashMap[Int, TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.add(JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, _ => new TaskSums)
    s.synchronized {
      s.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Records spans around the calls of a traced op. Each span sets the Spark
  * job group to its id for the duration of the call; jobs submitted under
  * a group the bench did not set (the streaming engine sets its own) are
  * attributed to the innermost span open at their submit time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new TaskListener
  sc.addSparkListener(listener)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(String, String)] = Nil // (id, layer), innermost first
  private var seq = 0
  var op = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](layer: String)(body: => T): T = {
    seq += 1
    val id = s"$layer#$seq"
    val parent = open.headOption.map(_._1).getOrElse("")
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(id, layer)
    open = (id, layer) :: open
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      done += Span(id, layer, parent, op, startMs, System.currentTimeMillis(), wall)
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Task sums per span id (work of nested spans is not folded into their
    * parents). Drains the listener bus first.
    */
  def sums(): Map[String, TaskSums] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val ids = done.map(_.id).toSet
    // innermost = the latest-starting span whose interval holds the time
    val byStart = done.sortBy(s => -s.startMs)
    def spanAt(t: Long): Option[String] =
      byStart.find(s => s.startMs <= t && t <= s.endMs).map(_.id)
    val out = mutable.HashMap.empty[String, TaskSums]
    val seenStages = mutable.HashSet.empty[Int]
    listener.jobs.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val owner =
        if (j.group != null && ids(j.group)) Some(j.group) else spanAt(j.timeMs)
      owner.foreach { id =>
        val acc = out.getOrElseUpdate(id, new TaskSums)
        acc.jobs += 1
        j.stages.filter(seenStages.add).foreach { st =>
          Option(listener.stages.get(st)).foreach(s => s.synchronized(acc.add(s)))
        }
      }
    }
    out.toMap
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
