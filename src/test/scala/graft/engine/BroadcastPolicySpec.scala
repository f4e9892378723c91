package graft.engine

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one broadcast policy: [[Broadcasts.ifFits]] decides from a measured
  * size against Spark's own threshold, and no other main-code file forces
  * a join broadcast.
  */
class BroadcastPolicySpec extends SparkSpec {

  import BroadcastPolicySpec._

  private val key = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // 2000 ids × 20 exploded values: Spark estimates the explode at its
  // input's size, far below the 40000 rows it really holds
  private def side = spark.range(0, 2000)
    .select(col("id"), explode(sequence(lit(1), lit(20))).as("x"))
  private def probe = spark.range(0, 50).toDF("x").withColumn("x", col("x").cast("int"))
  private def plan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.toString
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).toSeq.sorted

  test("ifFits: broadcast under the threshold, shuffle join at -1, same rows") {
    assertBroadcastBothWays("BroadcastHashJoin", "ExistingRDD") {
      probe.join(Broadcasts.ifFits(side), Seq("x"))
    }
  }

  test("ifFits: a side measured above the threshold is not broadcast off its stale estimate") {
    val estimate = side.queryExecution.optimizedPlan.stats.sizeInBytes
    // 40000 rows of (long, int) UnsafeRows: 24 bytes each
    val threshold = estimate * 4
    assert(threshold < BigInt(40000L * 24), s"estimate $estimate is not stale")
    withThreshold(threshold.toString) {
      // the hazard: a bare checkpoint keeps the explode's estimate and
      // would be broadcast although it holds 40000 rows (a semi join can
      // only build its right side, so the side is the one measured)
      val bare = probe.join(side.localCheckpoint(true), Seq("x"), "left_semi")
      assert(plan(bare).contains("BroadcastHashJoin"), plan(bare))
      val measured = probe.join(Broadcasts.ifFits(side), Seq("x"), "left_semi")
      assert("Broadcast\\w*Join".r.findFirstIn(plan(measured)).isEmpty, plan(measured))
      assert(rows(measured) == rows(bare))
    }
  }

  test("source scan: no forced join broadcast in src/main outside Broadcasts") {
    val root = new File("src/main/scala")
    val files = scalaFiles(root)
    assert(files.size > 20, s"source tree not found under ${root.getAbsolutePath}")
    val pins = for {
      f <- files if f.getName != "Broadcasts.scala"
      hit <- forcedBroadcasts(new String(Files.readAllBytes(f.toPath), UTF_8))
    } yield s"${f.getPath}: $hit"
    assert(pins.isEmpty, pins.mkString("forced broadcasts:\n", "\n", ""))
    // the one allowed site still exists (the scan is not vacuous)
    val helper = new File(root, "graft/engine/Broadcasts.scala")
    assert(forcedBroadcasts(
      new String(Files.readAllBytes(helper.toPath), UTF_8)).nonEmpty)
  }

  test("source scan: the scanner flags pins and passes variable broadcasts and comments") {
    val pinned = Seq(
      "a.join(broadcast(b), Seq(\"k\"))",
      "a.join(functions.broadcast(b))",
      "a.join(b.hint(\"broadcast\"))",
      "a.join(b.hint(\"MAPJOIN\"))",
      "spark.sql(\"SELECT /*+ BROADCAST(t) */ * FROM t\")",
      "if (c == '\"') a.join(broadcast(b)) else a")
    pinned.foreach(s => assert(forcedBroadcasts(s).nonEmpty, s))
    val clean = Seq(
      "val b = spark.sparkContext.broadcast(centroids)",
      "val b = sc.broadcast(x)",
      "// a comment may say broadcast(x) freely",
      "/** so may scaladoc: hint(\"broadcast\") */ val x = 1",
      "val s = \"http://x\" // broadcast(y)",
      "a.join(b.hint(\"merge\"))")
    clean.foreach(s => assert(forcedBroadcasts(s).isEmpty, s))
  }
}

object BroadcastPolicySpec {

  def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private val functionCall = """(\w+\s*\.\s*)?\bbroadcast\s*\(""".r
  private val variableBroadcast = Set("sparkContext", "sc")
  private val hintCall = """(?i)\.hint\s*\(\s*"(broadcast|broadcastjoin|mapjoin)"""".r
  private val sqlHint = """(?i)/\*\+\s*(broadcast|broadcastjoin|mapjoin)\b""".r

  /** Forced join broadcasts in one Scala source: `functions.broadcast(…)`
    * calls (bare or qualified, but not `sparkContext.broadcast(…)`
    * variable broadcasts), broadcast-family `.hint(…)`s, and SQL
    * `/*+ BROADCAST */` hints. Comments are skipped; string literals are
    * kept, since hints live in them.
    */
  def forcedBroadcasts(src: String): Seq[String] = {
    val code = withoutComments(src)
    val calls = functionCall.findAllMatchIn(code).filter { m =>
      Option(m.group(1)).forall(q => !variableBroadcast(q.replaceAll("""[\s.]""", "")))
    }.map(_.matched)
    (calls ++ hintCall.findAllMatchIn(code).map(_.matched) ++
      sqlHint.findAllMatchIn(code).map(_.matched)).toSeq
  }

  /** `src` with `//` and (nested) `/* */` comments removed, string
    * literals and quote character literals left intact.
    */
  def withoutComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out.append(src.substring(i, stop)); i = stop
      } else if (at("'\"'") || at("'\\\"'")) { // a quote character literal
        val stop = i + (if (at("'\"'")) 3 else 4)
        out.append(src.substring(i, stop)); i = stop
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out.append(src.substring(i, stop)); i = stop
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*") && !at("/*+")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
      } else {
        out.append(src(i)); i += 1
      }
    }
    out.toString
  }
}
