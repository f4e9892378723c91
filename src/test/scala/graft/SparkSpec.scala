package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("sodspark-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The broadcast policy in both directions (see graft.engine.Broadcasts).
    * `build` runs once under the session's threshold, where its physical
    * plan must match every regex in `expect`, and once at
    * `spark.sql.autoBroadcastJoinThreshold=-1`, where the plan must hold
    * no `Broadcast*Join`; both runs must return the same rows. `build` is
    * by-name because a measured side reads the threshold when it is built.
    */
  def assertBroadcastBothWays(expect: String*)(build: => DataFrame): Unit = {
    def run(): (String, Seq[String]) = {
      val df = build
      val plan = df.queryExecution.executedPlan.toString
      (plan, df.collect().map(_.toString).toSeq.sorted)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val (under, rows) = run()
    assert(rows.nonEmpty, "fixture returns no rows: nothing to compare")
    expect.foreach(e => assert(e.r.findFirstIn(under).isDefined,
      s"expected /$e/ under the default threshold:\n$under"))
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (off, offRows) = run()
      assert("Broadcast\\w*Join".r.findFirstIn(off).isEmpty,
        s"broadcast join at threshold -1:\n$off")
      assert(offRows == rows)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
