package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fixtures.WebGen

class StatsPassSpec extends SparkSpec {

  import spark.implicits._

  private def wp = WebGen.generate(spark, 3000)
    .withColumnRenamed("p_day", "partition")

  test("statsAndProfiles: one agg yields counts, profiles and sketches") {
    val s = StatsPass.statsAndProfiles(wp).cache()
    assert(s.agg(sum("row_cnt")).collect().head.getLong(0) == 3000)
    val row = s.orderBy("partition").collect().head
    val lang = row.getSeq[Double](row.fieldIndex("lang_profile"))
    assert(lang.length == 6 && math.abs(lang.sum - 1.0) < 1e-9)
    val sk = row.getAs[Array[Byte]]("len_kll_sketch")
    assert(graft.engine.sketch.KllAgg.count(sk) == row.getAs[Long]("row_cnt"))
    s.unpersist()
  }

  test("per-partition HLL sketches union to the global distinct count (resume path)") {
    val s = StatsPass.statsAndProfiles(wp)
    // union the per-partition sketches without touching the data again —
    // exactly what a ledger-resumed run does to get table-level cardinality
    val merged = s.agg(
      hll_union_agg(col("url_hll_sketch")).as("u"))
      .select(hll_sketch_estimate(col("u"))).collect().head.getLong(0)
    val exact = wp.select(countDistinct(col("url"))).collect().head.getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"HLL union estimate $merged vs exact $exact")
  }

  test("mergeToTable rolls persisted partition stats up without the data") {
    val dirty = WebGen.generate(spark, 3000, flags = WebGen.Flags(nullText = true))
      .withColumnRenamed("p_day", "partition")
    val perPart = StatsPass.statsAndProfiles(dirty)
    val merged = StatsPass.mergeToTable(perPart).collect().head
    // exact counters reconstruct exactly
    assert(merged.getAs[Long]("row_cnt") == 3000)
    val expectedNulls = (0L until 3000L).count(_ % 53 == 0)
    assert(merged.getAs[Long]("null_text") == expectedNulls)
    val direct = dirty.agg(
      min(length(col("text"))).as("min_len"),
      max(length(col("text"))).as("max_len"),
      sum(length(col("text")).cast("long")).as("sum_len"),
      avg(length(col("text"))).as("avg_len")).collect().head
    assert(merged.getAs[Int]("min_len") == direct.getAs[Int]("min_len"))
    assert(merged.getAs[Int]("max_len") == direct.getAs[Int]("max_len"))
    assert(merged.getAs[Long]("sum_len") == direct.getAs[Long]("sum_len"))
    assert(math.abs(merged.getAs[Double]("avg_len") - direct.getAs[Double]("avg_len")) < 1e-9)
    // merged KLL median ≈ whole-table exact median (within rank error)
    val sk = merged.getAs[Array[Byte]]("len_kll_sketch")
    assert(graft.engine.sketch.KllAgg.count(sk) == 3000L - expectedNulls)
    val approxMedian = graft.engine.sketch.KllAgg.quantile(sk, 0.5)
    val exactMedian = dirty.where(col("text").isNotNull)
      .select(expr("percentile(ln(1 + length(text)), 0.5)")).collect().head.getDouble(0)
    assert(math.abs(approxMedian - exactMedian) / exactMedian < 0.05,
      s"merged KLL median $approxMedian vs exact $exactMedian")
    // merged HLL estimate ≈ exact distinct urls
    val estimate = StatsPass.mergeToTable(perPart)
      .select(hll_sketch_estimate(col("url_hll_sketch"))).collect().head.getLong(0)
    val exactDistinct = dirty.select(countDistinct(col("url"))).collect().head.getLong(0)
    assert(math.abs(estimate - exactDistinct).toDouble / exactDistinct < 0.05)
  }

  test("lang profiles have fixed category order") {
    val p = StatsPass.statsAndProfiles(wp).orderBy("partition")
      .select("partition", "lang_profile").collect().head
    val arr = p.getSeq[Double](1)
    assert(arr.length == 6)
    // en is the dominant class in the clean fixture (~0.62)
    assert(arr.head > 0.5, s"p(en)=${arr.head}")
  }
}
