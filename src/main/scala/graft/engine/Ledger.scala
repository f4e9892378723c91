package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Per-partition lineage + metrics checkpoint ledger (SURVEY §1.4, §2.1 S13).
  *
  * Re-expresses the reference's Status lifecycle (StatusNew/StatusProcessed,
  * metric_model.go:11-16) and bulkLoad recovery (manager.go:312-354): a
  * partition is `pending` while its outputs are written and `done` only
  * after the verdict/violation write commits (ST9 graceful-drain analog).
  * Resume = skip `done`, re-run the rest (`pending`, or never marked because
  * the run stopped inside its pass); outputs are idempotent (deterministic
  * violation ids), so replay is exactly-once in effect.
  *
  * Storage is ONE append-only JSONL log ([[LogLedger]]), last
  * entry per partition wins: one O(line) append per mark and one
  * sequential read per resume, so the cost stays flat at 10⁵+ partitions
  * (--partition-col domain). Crash mid-append leaves at most one torn
  * trailing line, which replay skips — the partition simply stays in its
  * previous state (`pending` → re-run → idempotent outputs, same recovery
  * contract as the reference's bulkLoad).
  *
  * The ledger is driver-side metadata: O(#partitions) entries,
  * never O(rows). At cluster scale the same interface backs onto an Iceberg
  * `ledger` table where the atomic unit is the table commit (SURVEY §7.5
  * risk 4 — partition-atomic semantics preserved).
  */
trait Ledger {

  def write(e: Ledger.Entry): Unit

  def markPending(partition: String, run: String): Unit =
    write(Ledger.Entry(partition, "pending", -1L, -1L, run))

  def markDone(partition: String, rowCnt: Long, nViolations: Long, run: String): Unit =
    write(Ledger.Entry(partition, "done", rowCnt, nViolations, run))

  def read(partition: String): Option[Ledger.Entry]

  /** Every partition's CURRENT entry, sorted by partition. */
  def all(): Seq[Ledger.Entry]

  /** Partitions safe to skip on resume (bulkLoad's Processed branch,
    * manager.go:326-333).
    */
  def donePartitions(): Set[String] =
    all().filter(_.status == "done").map(_.partition).toSet
}

object Ledger {

  final case class Entry(
      partition: String,
      status: String, // "pending" | "done"
      rowCnt: Long,
      nViolations: Long,
      updatedRun: String
  )

  /** Log file name inside a ledger DIRECTORY. */
  val LogName = "ledger.jsonl"

  /** The ledger at `root`: `root` itself when it ends in `.jsonl`, else
    * `<root>/ledger.jsonl`. A directory written by the retired
    * file-per-partition layout (one `<urlencoded-partition>.json` mark per
    * partition, no log) is imported into the log once, so its done
    * partitions stay done; the old marks are left in place and no longer
    * read.
    */
  def apply(root: String): Ledger =
    if (root.endsWith(".jsonl")) new LogLedger(root)
    else {
      val dir = Paths.get(root)
      val log = dir.resolve(LogName)
      if (!Files.exists(log) && Files.isDirectory(dir)) importMarks(dir, log)
      new LogLedger(log.toString)
    }

  /** Write every parseable `*.json` mark under `dir` into a new log at
    * `log` (temp file + atomic move: a crash mid-import leaves no log, and
    * the next open imports again). Unparseable marks are skipped, as the
    * old reader skipped them.
    */
  private def importMarks(dir: Path, log: Path): Unit = {
    val stream = Files.list(dir)
    val entries =
      try stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .flatMap(f => parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
        .toSeq.sortBy(_.partition)
      finally stream.close()
    if (entries.nonEmpty) {
      val tmp = Files.createTempFile(dir, ".ledger", ".tmp")
      Files.write(tmp, entries.map(render).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, log, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** JSON string escape incl. CONTROL characters: an unescaped newline in a
    * partition key (possible via arbitrary --partition-col values) would
    * split a LogLedger JSONL entry across two unparseable lines — that
    * partition's marks silently dropped on replay, re-running it on every
    * resume and omitting it from all()/donePartitions(). Control chars go
    * out as \u00XX and round-trip through [[unescape]].
    */
  private def q(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '\\'          => b.append("\\\\")
      case '"'           => b.append("\\\"")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"')
    b.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** NEVER throws: a malformed `\u` escape (e.g. `\u000{` from a corrupt or
    * hand-edited line) is preserved LITERALLY — backslash included — instead
    * of crashing the whole replay with a NumberFormatException (one bad line
    * must not take all()/donePartitions() down). The preserved-literal key
    * cannot collide with a legitimately-escaped one: [[q]] always emits
    * valid hex, so a round-tripped key never contains a malformed escape.
    */
  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length &&
              (2 to 5).forall(j => isHex(s.charAt(i + j))) =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case 'u' => // malformed: keep the full literal sequence
            b.append('\\').append('u'); i += 2
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private[engine] def render(e: Entry): String =
    s"""{"partition":${q(e.partition)},"status":${q(e.status)},"row_cnt":${e.rowCnt},""" +
      s""""n_violations":${e.nViolations},"updated_run":${q(e.updatedRun)}}"""

  private[engine] def field(json: String, name: String): String = {
    val m = ("\"" + name + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[-0-9.]+)").r
      .findFirstMatchIn(json)
    m.map(_.group(1)).map { v =>
      if (v.startsWith("\"")) unescape(v.substring(1, v.length - 1))
      else v
    }.getOrElse("")
  }

  /** None when the line is structurally unusable (torn append / not JSON) —
    * callers skip it; a torn ledger line only ever un-records the very last
    * mark, which resume semantics already tolerate.
    */
  private[engine] def parse(json: String): Option[Entry] = {
    if (!json.trim.endsWith("}")) return None // torn append
    val p = field(json, "partition")
    val status = field(json, "status")
    if (p.isEmpty || status.isEmpty) None
    else
      try Some(Entry(p, status,
        field(json, "row_cnt").toDouble.toLong,
        field(json, "n_violations").toDouble.toLong,
        field(json, "updated_run")))
      catch { case _: NumberFormatException => None }
  }
}

/** The ledger's storage: an append-only JSONL log, one line per mark,
  * LAST line per partition wins. O(1) I/O ops per mark, one sequential scan
  * per resume.
  *
  * Single writer per run (the scheme's standing assumption, as with
  * TableIO). [[compact]] rewrites the log to one line per
  * partition via temp-file + atomic move; it runs automatically when the log
  * accumulates > [[LogLedger.AutoCompactSlack]] superseded lines, so a
  * long-lived re-validating daemon cannot grow the log without bound.
  */
final class LogLedger(path: String) extends Ledger {

  private val file: Path = Paths.get(path)
  Option(file.getParent).foreach(Files.createDirectories(_))

  // Torn-tail repair: a crash mid-append leaves a partial line with no
  // newline; a subsequent append would MERGE into it, corrupting the first
  // post-crash mark. Terminate the torn line once at open — replay already
  // skips it as unparseable.
  if (Files.exists(file) && Files.size(file) > 0) {
    val ch = java.nio.channels.FileChannel.open(file, StandardOpenOption.READ)
    val lastByte =
      try {
        val buf = java.nio.ByteBuffer.allocate(1)
        ch.read(buf, Files.size(file) - 1)
        buf.get(0)
      } finally ch.close()
    if (lastByte != '\n'.toByte)
      Files.write(file, "\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
  }

  // In-memory counters kept in lockstep with the file so the auto-compact
  // decision is O(1) per write — an earlier revision called replay() (a full
  // file re-read) inside the write-path guard, which made every append past
  // the slack threshold O(log size): exactly the quadratic blowup this
  // log exists to avoid at 10^5+ partitions. `linesInLog` counts RAW
  // lines (incl. superseded and torn ones — the bloat being measured);
  // `knownPartitions` tracks distinct keys (driver-side O(#partitions)
  // strings, the same budget the interface already implies).
  private var linesInLog: Long = 0L
  private val knownPartitions = scala.collection.mutable.HashSet.empty[String]
  if (Files.exists(file)) {
    val lines = Files.readAllLines(file, StandardCharsets.UTF_8).asScala
    linesInLog = lines.size.toLong
    lines.flatMap(Ledger.parse).foreach(e => knownPartitions += e.partition)
    // a bloated log is compacted at OPEN, not lazily: a restarted daemon
    // must not carry a 100×-superseded log for another slack-period
    if (shouldCompact) compact()
  }

  private def shouldCompact: Boolean =
    linesInLog > LogLedger.AutoCompactSlack &&
      linesInLog > 2L * math.max(1, knownPartitions.size)

  private def replayAll(): Seq[Ledger.Entry] =
    if (!Files.exists(file)) Seq.empty
    else {
      val lines = Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      lines.flatMap(Ledger.parse).toSeq
    }

  /** Last entry per partition, in log order. */
  private def replay(): Seq[Ledger.Entry] = {
    val last = scala.collection.mutable.LinkedHashMap.empty[String, Ledger.Entry]
    replayAll().foreach(e => last(e.partition) = e)
    last.values.toSeq
  }

  def write(e: Ledger.Entry): Unit = {
    Files.write(file,
      (Ledger.render(e) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    linesInLog += 1
    knownPartitions += e.partition
    if (shouldCompact) compact()
  }

  def read(partition: String): Option[Ledger.Entry] =
    replay().find(_.partition == partition)

  def all(): Seq[Ledger.Entry] = replay().sortBy(_.partition)

  /** Rewrite the log to one (current) line per partition, atomically. */
  def compact(): Unit = {
    val entries = replay()
    val tmp = Files.createTempFile(
      Option(file.getParent).getOrElse(Paths.get(".")), ".ledger", ".tmp")
    Files.write(tmp,
      entries.map(Ledger.render).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    linesInLog = entries.size.toLong
    knownPartitions.clear()
    entries.foreach(e => knownPartitions += e.partition)
  }
}

object LogLedger {
  /** Appends tolerated beyond one-line-per-partition before auto-compaction
    * considers rewriting (keeps tiny ledgers from compacting constantly).
    */
  val AutoCompactSlack = 10000L
}
