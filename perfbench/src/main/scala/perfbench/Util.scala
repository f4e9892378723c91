package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import com.sun.net.httpserver.{HttpExchange, HttpServer}

object Util {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** (files, bytes) of the regular files under `p`. */
  def tree(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Least-squares slope of ys over 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val xs = ys.indices.map(_.toDouble)
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      num / den
    }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (total collection seconds, total collections) over all collectors. */
  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) when absent. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of CPU time the hypervisor took from this machine since `from`. */
  def stealShare(from: (Long, Long)): Double = {
    val (s, t) = cpuJiffies()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }

  private def statusKb(key: String): Long =
    try Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** The process's resident-set high-water mark in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0
}

/** The largest heap occupancy right after a collection, over the
  * collections since the last `reset`: the live data plus what the
  * collector kept, which the program's allocations drive, unlike the
  * resident set, which a fixed heap holds near -Xmx.
  */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** Loopback alert receiver: answers 200 to every POST and counts requests,
  * body bytes and the distinct `violation_id`s delivered since the last
  * reset.
  */
final class AlertReceiver {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val posts = new AtomicLong
  val bytes = new AtomicLong
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val IdPat = "\"violation_id\"\\s*:\\s*\"([0-9a-f]+)\"".r

  server.createContext("/", (ex: HttpExchange) => {
    val raw = ex.getRequestBody.readAllBytes()
    val body =
      if ("gzip".equalsIgnoreCase(ex.getRequestHeaders.getFirst("Content-Encoding")))
        new GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
      else raw
    posts.incrementAndGet()
    bytes.addAndGet(raw.length.toLong)
    IdPat.findAllMatchIn(new String(body, StandardCharsets.UTF_8))
      .foreach(m => ids.add(m.group(1)))
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/alerts"

  def reset(): Unit = { posts.set(0); bytes.set(0); ids.clear() }
  def distinctIds: Int = ids.size
  def stop(): Unit = server.stop(0)
}
