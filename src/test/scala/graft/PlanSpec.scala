package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.SaltedJoin

/** Physical-plan regression guards: the scale properties claimed in
  * README/COVERAGE must survive refactors — column pruning reaches the scan,
  * global top-k avoids a full sort, the referential join is size-adaptive
  * (broadcast when the parent key set fits, sort-merge above the threshold
  * — r6), the ANN query broadcasts the small side, and every join the
  * broadcast policy (graft.engine.Broadcasts) touches broadcasts under
  * the threshold and shuffles at -1 with the same rows.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_stats scan prunes columns (no html/text payload beyond need)") {
    val p = SparkEntry.queries("q_stats")(spark, dir)
      .queryExecution.executedPlan.toString
    // derived frame needs orderkey/priority/date only — 3 columns at the scan
    assert(p.contains("o_orderkey"))
    assert(!p.contains("o_totalprice"), "unused column not pruned from scan")
  }

  test("salted anti join plans as SortMergeJoin LeftAnti") {
    import spark.implicits._
    val child = (1 to 100).map(i => (s"c$i", i.toLong)).toDF("url", "ck")
    val parent = spark.range(0, 5000).toDF("pk") // above broadcast threshold? force via hint anyway
    val p = SaltedJoin.saltedAntiJoin(child, col("ck"), col("url"), parent, col("pk"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"), p.take(500))
  }

  test("referential check: size-adaptive anti join on distinct keys, parent NOT salt-exploded") {
    val child = Derive.linkChild(spark, dir).withColumnRenamed("part", "partition")
    val parent = spark.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"))
    def p: String = graft.engine.Constraints.Referential("ck", parent, "o_orderkey")
      .violations(child.withColumn("url", col("url")))
      .queryExecution.executedPlan.toString
    // r6: the join strategy is the PLANNER's size-based choice (guide §3.1),
    // not a pinned SMJ — a parent key set under the broadcast threshold must
    // plan as a broadcast LEFT ANTI (no exchange/sort of either side)...
    val small = p
    assert(small.contains("BroadcastHashJoin") && small.contains("LeftAnti"),
      small.take(800))
    // ...and a parent the planner may not broadcast must degrade to exactly
    // the old sort-merge shape, still without salt-exploding the parent
    // (round-1 scale-killer, VERDICT #3).
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val large = p
      assert(large.contains("SortMergeJoin") && large.contains("LeftAnti"),
        large.take(800))
      assert(!large.toLowerCase.contains("explode"),
        "parent side of the referential anti join is salt-exploded again")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("referential check: orphan join-back follows the threshold too, same orphans both ways") {
    val child = Derive.linkChild(spark, dir).withColumnRenamed("part", "partition")
    val parent = spark.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"))
    assertBroadcastBothWays("BroadcastHashJoin.*LeftAnti") {
      graft.engine.Constraints.Referential("ck", parent, "o_orderkey").violations(child)
    }
  }

  test("uniqueness: dup-hash prefilter joins back via broadcast, not a string shuffle") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"https://d${i % 7}.x/p/${i % 200}", i.toLong))
      .toDF("url", "src").withColumn("partition", lit("p"))
    val p = SaltedJoin.dupGroups(df, col("url"))
      .queryExecution.executedPlan.toString
    // the key-carrying side must meet the (tiny) dup-hash set in a broadcast
    // hash join — an SMJ here would shuffle the url strings (the ~1.6 GB/16M
    // rows BENCH_SCALING §4 eliminated)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("e_ann_brute broadcasts the query side") {
    val p = plan("e_ann_brute")
    assert(p.contains("Broadcast"), p.take(500))
  }

  test("ledger scope filter is a broadcast semi-join, not O(#partitions) In literals") {
    import graft.engine.Validator
    val frame = Derive.webPages(spark, dir).withColumnRenamed("part", "partition")
    // high-cardinality scope: 50k pending partitions — the --partition-col
    // domain case. An isin() here builds a 50k-literal In expression whose
    // optimizer traversal alone dwarfs the query; the semi-join keeps the
    // plan size O(1) in partition count.
    val manyParts = (1 to 50000).map(i => s"d$i.example")
    val scoped = Validator.scopeToPartitions(frame, manyParts)
    val p = scoped.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(800))
    assert(!p.contains(" IN ("), "partition scope compiled to literal In list")
    // the scoped plan must stay small — a literal isin would be megabytes
    assert(p.length < 200000, s"scoped plan unexpectedly large: ${p.length} chars")
  }

  test("ledger scope filter: shuffle semi join at -1, same rows") {
    import spark.implicits._
    val frame = Derive.webPages(spark, dir).withColumnRenamed("part", "partition")
      .select("url", "partition")
    val parts = frame.select("partition").distinct().as[String].collect().sorted.take(2)
    assertBroadcastBothWays("BroadcastHashJoin.*LeftSemi") {
      graft.engine.Validator.scopeToPartitions(frame, parts)
    }
  }

  test("verdict grid and zero-fill joins: broadcast under the threshold, shuffle at -1, same verdicts") {
    import graft.engine.Validator
    // a fixture size no other suite caches, so each direction plans afresh
    val wp = graft.fixtures.WebGen.generate(spark, 3001,
        flags = graft.fixtures.WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    var last: Option[Validator.Result] = None
    def verdicts = {
      last.foreach(_.unpersist(blocking = true))
      val res = Validator.validate(wp, Validator.Config(Validator.DefaultChecks))
      last = Some(res)
      // the constraint verdicts are the joined rows; KLL-based drift
      // scores can differ between two runs of the same pass
      res.verdicts.where(!col("check_name").startsWith("drift_"))
    }
    try {
      // drift mode (the default), as the ledgered commit runs it
      assertBroadcastBothWays("BroadcastNestedLoopJoin", "BroadcastHashJoin.*LeftOuter")(verdicts)
    } finally last.foreach(_.unpersist(blocking = true))
  }

  test("fused row checks are a single scan (one parquet relation)") {
    val frame = Derive.webPages(spark, dir).withColumnRenamed("part", "partition")
    val p = graft.engine.Constraints.runRowChecks(frame,
      Seq(graft.engine.Constraints.NotNull("text"),
        graft.engine.Constraints.ByteIdenticalText))
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans")
  }
}
