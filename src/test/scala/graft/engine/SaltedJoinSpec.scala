package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Skew-path ops must be result-identical to their naive equivalents
  * (SURVEY §5.2 property tests — seeded-random cases, no wall-clock RNG).
  */
class SaltedJoinSpec extends SparkSpec {

  import spark.implicits._

  test("hash-prefiltered dup groups ≡ plain groupBy-count (skewed fixture)") {
    // Zipfian-ish: key k appears ~1000/k times → k=1 is a hot key
    val rows = (1 to 60).flatMap(k => Seq.fill(1000 / k)((s"key$k", k.toLong)))
    val df = rows.toDF("key", "salt_src")
    val pref = SaltedJoin.dupGroups(df, col("key"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    val plain = df.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).orderBy("key").as[(String, Long)].collect().toSeq
    assert(pref == plain)
  }

  test("salted anti join ≡ plain left_anti (orphans exact)") {
    val child = (1 to 500).map(i => (s"c$i", (i % 37).toLong)).toDF("url", "ck")
    val parent = (0 to 20).map(_.toLong).toDF("pk")
    val salted = SaltedJoin.saltedAntiJoin(
      child, col("ck"), col("url"), parent, col("pk"), s = 4)
      .select("url").as[String].collect().sorted.toSeq
    val plain = child.join(parent, child("ck") === parent("pk"), "left_anti")
      .select("url").as[String].collect().sorted.toSeq
    assert(salted == plain)
    assert(salted.nonEmpty) // fixture really has orphans (ck 21..36)
  }

  test("dup groups: broadcast under the threshold, shuffle join at -1, identical results") {
    val rows = (1 to 60).flatMap(k => Seq.fill(1000 / k)((s"key$k", k.toLong)))
    val df = rows.toDF("key", "salt_src")
    val plain = df.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).orderBy("key").as[(String, Long)].collect().toSeq
    assertBroadcastBothWays("BroadcastHashJoin") {
      SaltedJoin.dupGroups(df, col("key"))
    }
    val pref = SaltedJoin.dupGroups(df, col("key"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(pref == plain)
  }

  test("property: hash-prefiltered ≡ naive dup detection under seeded random duplication") {
    val rng = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val keys = List.fill(200)(rng.nextInt(50))
      val df = keys.zipWithIndex.map { case (k, i) => (s"k$k", i.toLong) }
        .toDF("key", "src")
      val pref = SaltedJoin.dupGroups(df, col("key"))
        .as[(String, Long)].collect().toMap
      val expected = keys.groupBy(identity).collect {
        case (k, vs) if vs.size > 1 => (s"k$k", vs.size.toLong)
      }.toMap
      assert(pref == expected)
    }
  }

  test("dup groups: exact under a massive hot key, partial agg below the exchange") {
    // one key duplicated 100k× among 50k uniques — the domain-skew shape the
    // old salt defended against. Correctness must hold, and the plan must
    // show the actual defense: a partial HashAggregate on the map side of
    // the exchange, so the hot key reaches the shuffle pre-collapsed.
    val hot = Seq.fill(100000)("https://hot.example.org/")
    val uniq = (1 to 50000).map(i => s"https://d$i.example.org/p/$i")
    val df = (hot ++ uniq).toDF("key")
    val out = SaltedJoin.dupGroups(df, col("key"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("https://hot.example.org/" -> 100000L))
    val plan = SaltedJoin.dupGroups(df, col("key"))
      .queryExecution.executedPlan.toString
    val aggIdx = plan.indexOf("HashAggregate")
    val exIdx = plan.indexOf("Exchange")
    assert(aggIdx >= 0 && exIdx >= 0 && plan.indexOf("HashAggregate", exIdx) >= 0,
      s"expected partial+final HashAggregate around the exchange:\n${plan.take(1200)}")
  }

  test("property: salted anti ≡ plain anti under seeded random keys") {
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val childKeys = List.fill(300)(rng.nextInt(100).toLong)
      val parentKeys = List.fill(40)(rng.nextInt(100).toLong).distinct
      val child = childKeys.zipWithIndex.map { case (k, i) => (s"c$i", k) }
        .toDF("url", "ck")
      val parent = parentKeys.toDF("pk")
      val salted = SaltedJoin.saltedAntiJoin(
        child, col("ck"), col("url"), parent, col("pk"), s = 4)
        .select("url").as[String].collect().sorted.toSeq
      val plain = child.join(parent, child("ck") === parent("pk"), "left_anti")
        .select("url").as[String].collect().sorted.toSeq
      assert(salted == plain)
    }
  }
}
