package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-partition column statistics — the engine's analog of the reference's
  * per-entity accumulated dataset state (SURVEY §1.4 `column_stats`;
  * geom/point.go:82-167 reductions, metric/database/metric.go:224-240 counts).
  *
  * ONE wide `groupBy(partition).agg(...)` computes every stat for every
  * monitored column in a single scan (no per-column re-scan — SURVEY §4.2).
  * All aggregates here are partial/final mergeable, so Spark's map-side
  * combine keeps the shuffle at O(#partitions × #stats), independent of row
  * count — this is what makes the pass viable at 10^12 rows.
  *
  * Cardinality uses a mergeable DataSketches HLL sketch (`hll_sketch_agg`,
  * binary, unioned across resumed runs); quantiles use a mergeable KLL
  * sketch. Exact variants exist only in tests/oracle at small SF.
  */
object StatsPass {

  /** Category order of the `lang_profile` drift profile (FIXTURES.md §4):
    * [p(en), p(de), p(fr), p(es), p(ru), p(other)].
    */
  val LangOrder: Seq[String] = Seq("en", "de", "fr", "es", "ru")

  /** Everything the validator needs from the aggregation side in ONE
    * scan/shuffle: the full stats block plus both drift profiles. At 10^12
    * rows every separate groupBy is another full traversal; fusing them makes
    * the whole aggregate side of the pass a single stage pair.
    */
  def statsAndProfiles(df: DataFrame): DataFrame = {
    val len = length(col("text"))
    val loglen = log(lit(1.0) + len.cast("double"))
    val langCols = LangOrder.map(l =>
      (sum((col("lang") === l).cast("long")) / count(lit(1))).cast("double").as(s"p_$l"))
    val other =
      (sum((!col("lang").isin(LangOrder: _*) || col("lang").isNull).cast("long")) /
        count(lit(1))).cast("double").as("p_other")
    val aggs: Seq[Column] = Seq(
      sum(col("url").isNull.cast("long")).as("null_url"),
      sum(col("text").isNull.cast("long")).as("null_text"),
      sum(col("lang").isNull.cast("long")).as("null_lang"),
      sum(col("html").isNull.cast("long")).as("null_html"),
      min(col("warc_ts")).as("min_ts"),
      max(col("warc_ts")).as("max_ts"),
      min(len).as("min_len"),
      max(len).as("max_len"),
      avg(len).as("avg_len"),
      sum(len.cast("long")).as("sum_len"),
      // ONE HLL structure per group: the mergeable DataSketches sketch. The
      // scalar estimate is read off it AFTER the agg (hll_sketch_estimate on
      // O(#partitions) rows) — maintaining a second HLL++ register set via
      // approx_count_distinct doubled the per-row cardinality work in the
      // hottest agg for a number the sketch already carries.
      hll_sketch_agg(col("url")).as("url_hll_sketch"),
      // ONE mergeable KLL sketch (log-scale length) serves both the ledger's
      // persisted stats AND the drift length-profile (quantiles pulled
      // driver-side). percentile_approx was dropped from this hot path: its
      // per-group QuantileSummaries buffer (~80 KB at accuracy 10⁴) ×
      // thousands of partitions × sort-based ObjectHashAggregate fallback
      // (threshold 128 keys) made the agg sort the full input per task —
      // measured superlinear slowdown at 16M rows. KLL is ~2 KB per group.
      sketch.KllAgg.kllSketch(loglen).as("len_kll_sketch")
    ) ++ langCols :+ other
    df.groupBy(col("partition"))
      .agg(count(lit(1)).as("row_cnt"), aggs: _*)
      .withColumn("distinct_url_approx", hll_sketch_estimate(col("url_hll_sketch")))
      .withColumn("lang_profile",
        array((LangOrder.map(l => col(s"p_$l")) :+ col("p_other")): _*))
  }

  /** Table-level stats from PERSISTED per-partition `column_stats` rows —
    * the merge half of the resume story (SURVEY §1.4): counters sum, bounds
    * min/max, and the SKETCHES union (DataSketches HLL via the built-in
    * `hll_union_agg`, KLL via [[sketch.KllAgg.kllSketchMerge]]) — so a later
    * run reads O(#partitions) stats rows, never the data. `avg_len` is
    * reconstructed exactly from sum_len over non-null text rows.
    */
  def mergeToTable(stats: DataFrame): DataFrame =
    stats.agg(
      sum(col("row_cnt")).as("row_cnt"),
      sum(col("null_url")).as("null_url"),
      sum(col("null_text")).as("null_text"),
      sum(col("null_lang")).as("null_lang"),
      sum(col("null_html")).as("null_html"),
      min(col("min_ts")).as("min_ts"),
      max(col("max_ts")).as("max_ts"),
      min(col("min_len")).as("min_len"),
      max(col("max_len")).as("max_len"),
      sum(col("sum_len")).as("sum_len"),
      (sum(col("sum_len")).cast("double") /
        (sum(col("row_cnt")) - sum(col("null_text")))).as("avg_len"),
      hll_union_agg(col("url_hll_sketch")).as("url_hll_sketch"),
      sketch.KllAgg.kllSketchMerge(col("len_kll_sketch")).as("len_kll_sketch"))
}
