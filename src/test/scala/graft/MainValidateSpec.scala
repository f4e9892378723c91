package graft

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Ledger, TableIO, Validator}
import graft.fixtures.WebGen

/** The `validate` command body ([[Main.validate]]) in-process: every run,
  * with or without a ledger and in both local commit modes, leaves the
  * same partitioned three-table layout, and a ledger-less re-run is a full
  * replace of its outDir.
  */
class MainValidateSpec extends SparkSpec {

  private val Tables = Seq("violations", "verdicts", "column_stats")

  /** 600 rows over five hash partitions of ~120 rows (under KLL's k, so
    * drift scores are reproducible), with null texts that fail NotNull.
    */
  private lazy val wp: DataFrame =
    WebGen.generate(spark, 600L, flags = WebGen.Flags(nullText = true))
      .withColumn("partition", concat(lit("h"), pmod(xxhash64(col("url")), lit(5))))
      .drop("p_day")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def run(frame: DataFrame, out: String,
      ledger: Option[String] = None, runId: Option[String] = None): Long =
    Main.validate(frame, Main.ValidateCmd("", out, ledger, runId, "", None))

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(TableIO.CommitModeConf, mode)
    try body finally spark.conf.unset(TableIO.CommitModeConf)
  }

  /** Each table's live partitions and its rows (binary sketches as hex),
    * in a stable order.
    */
  private def layout(out: String): Seq[(String, Seq[String], Seq[String])] =
    Tables.map { t =>
      val df = TableIO.readTable(spark, s"$out/$t")
      val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType) hex(col(f.name))
        else col(f.name)
      }
      (t, TableIO.livePartitions(spark, s"$out/$t"),
        df.select(cols: _*).collect().map(_.toString).toSeq.sorted)
    }

  /** The ledgered run's failed count and layout, the reference every
    * ledger-less layout must equal.
    */
  private lazy val ledgered: (Long, Seq[(String, Seq[String], Seq[String])]) = {
    val out = tmp("mv_ledger")
    val failed = run(wp, out, ledger = Some(tmp("mv_ledger_l")))
    (failed, layout(out))
  }

  test("ledger-less validate leaves the ledger path's layout in rename and manifest modes; a re-run drops a stale partition") {
    val (failed, want) = ledgered
    assert(failed > 0, "the fixture must fail a check")
    assert(want.forall(_._2.nonEmpty), want.map(t => t._1 -> t._2))
    for (mode <- Seq("rename", "manifest")) withMode(mode) {
      val out = tmp(s"mv_$mode")
      assert(run(wp, out) == failed, mode)
      assert(layout(out) == want, mode)
      // every table is partitioned: no data files at a table root
      Tables.foreach { t =>
        val rootData = Files.list(Paths.get(out, t)).toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        assert(rootData.isEmpty, s"[$mode] $t: ${rootData.toSeq}")
      }
      // a full replace: the partition the input no longer holds is gone
      val before = TableIO.livePartitions(spark, s"$out/column_stats")
      val gone = before.head
      run(wp.where(col("partition") =!= gone), out)
      Tables.foreach { t =>
        val live = TableIO.livePartitions(spark, s"$out/$t")
        assert(!live.contains(gone), s"[$mode] $t still serves $gone: $live")
        assert(TableIO.readTable(spark, s"$out/$t").where(col("partition") === gone)
          .isEmpty, s"[$mode] $t")
      }
      assert(TableIO.livePartitions(spark, s"$out/column_stats") == before.tail, mode)
    }
  }

  test("a ledger-less re-run replaces an outDir in the old flat layout") {
    val out = tmp("mv_flat")
    // the unpartitioned layout earlier ledger-less runs wrote
    val res = Validator.validate(wp)
    try {
      res.violations.write.partitionBy("partition").parquet(s"$out/violations")
      res.verdicts.write.parquet(s"$out/verdicts")
      res.stats.write.parquet(s"$out/column_stats")
    } finally res.unpersist()
    val (failed, want) = ledgered
    assert(run(wp, out) == failed)
    assert(layout(out) == want)
    assert(spark.read.parquet(s"$out/verdicts").where(!col("passed")).count() == failed)
  }

  test("a ledger-less rename run refuses an object-store outDir before the pass") {
    val e = intercept[IllegalArgumentException](run(wp, "s3a://bucket/out"))
    assert(e.getMessage.contains("not atomic on 's3a://' object stores"), e.getMessage)
  }

  test("a ledger dir of old per-partition marks resumes without re-running done partitions") {
    val out = tmp("mv_marks_out")
    val dir = tmp("mv_marks")
    run(wp, out, ledger = Some(dir), runId = Some("r1"))
    val parts = Ledger(dir).all()
    assert(parts.map(_.status).distinct == Seq("done"))
    // rewrite the ledger in the retired layout: one JSON mark per
    // partition, no log; the last partition crashed mid-run (pending)
    Files.delete(Paths.get(dir, Ledger.LogName))
    val pending = parts.last.partition
    parts.foreach { e =>
      val status = if (e.partition == pending) "pending" else e.status
      val mark = s"""{"partition":"${e.partition}","status":"$status",""" +
        s""""row_cnt":${e.rowCnt},"n_violations":${e.nViolations},"updated_run":"r1"}"""
      Files.write(Paths.get(dir,
        URLEncoder.encode(e.partition, StandardCharsets.UTF_8.name()) + ".json"),
        mark.getBytes(StandardCharsets.UTF_8))
    }
    val before = layout(out)
    run(wp, out, ledger = Some(dir), runId = Some("r2"))
    val after = Ledger(dir).all()
    assert(after.map(e => e.partition -> e.status) == parts.map(e => e.partition -> "done"))
    assert(after.filter(_.updatedRun == "r2").map(_.partition) == Seq(pending), after)
    assert(layout(out) == before)
  }
}
