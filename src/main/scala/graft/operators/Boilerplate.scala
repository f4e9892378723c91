package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Broadcasts

/** Cross-document boilerplate-line removal — the CCNet/RefinedWeb cleanup
  * stage: a line that recurs (byte-identical) in at least `minDocs`
  * DISTINCT documents is template chrome (nav bars, cookie banners,
  * copyright footers), not content, and is stripped from every document
  * where it appears. Line order is preserved; blank lines (empty after
  * trimming spaces, tabs and carriage returns — so CRLF separator lines
  * count as blank too) are never counted and never stripped; a document
  * whose every line is boilerplate survives with empty text (dropping
  * empties is the quality filter's decision, not this operator's).
  *
  * Scale shape, in pass order:
  *  1. one explode scan (`posexplode(split)`) — linear, no shuffle;
  *  2. one distinct-line aggregation (`groupBy(line)` +
  *     `countDistinct(doc)`) — the only row-scale shuffle, with map-side
  *     partial aggregation so a hot line (the whole point: boilerplate IS
  *     hot) leaves each map task once per doc-partial, not once per row;
  *  3. an anti join against the frequent set. `minDocs` bounds each
  *     line's FREQUENCY, not the set's CARDINALITY: a web-scale crawl can
  *     clear the threshold with tens of millions of distinct template
  *     lines, and after the explode Spark's size estimate says nothing,
  *     so the set is sized by [[graft.engine.Broadcasts.ifFits]] — one
  *     materialize-and-measure job when the plan is built — and broadcast
  *     only when it fits `spark.sql.autoBroadcastJoinThreshold`, else the
  *     anti join shuffles on the line key;
  *  4. one `groupBy(doc)` rebuild shuffle over surviving lines
  *     (`collect_list(struct(pos, line))` + `array_sort` — per-doc state
  *     is one document's lines, never a global sort).
  * At 10^12 rows, step 2's shuffle carries one (line, partial) row per
  * distinct line per map task; hash the line to an 8-byte key first (the
  * q_unique_url idiom) when average line length makes strings the
  * bottleneck — semantics identical modulo 64-bit collisions.
  *
  * Within-document repeats are a different, row-local problem — see
  * `graft.functions.TextFunctions.dedupLinesInDoc`.
  */
object Boilerplate {

  /** Blank under the operator's rule: empty after trimming spaces, tabs
    * and carriage returns (tolerates CRLF input split on `\n`, where every
    * separator line is `"\r"` — content, and near-universal, under a
    * space-only trim).
    */
  private[operators] def isBlankLine(x: Column): Column =
    x.rlike(graft.functions.TextFunctions.BlankLineRe)

  /** Strip every line occurring in >= `minDocs` distinct documents.
    * Returns the input frame with `textCol` rebuilt (column moves to the
    * end); all other columns ride through. Null text is treated as empty
    * (rebuilt as `""`).
    *
    * PRECONDITION: `idCol` must be unique and non-null — it is the rebuild
    * key. Rows sharing an id would have their lines interleaved into one
    * merged text on every such row; null ids would rebuild as `""`. This
    * is the same per-document contract as every dedup/sampling operator
    * here; run the uniqueness check first if the corpus can't promise it.
    */
  def stripFrequentLines(docs: DataFrame, idCol: String, textCol: String,
                         minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.select(col(idCol).as("__bp_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
        .as(Seq("__bp_pos", "__bp_line")))
    val frequent = lines
      .where(!isBlankLine(col("__bp_line")))
      .groupBy(col("__bp_line"))
      .agg(countDistinct(col("__bp_id")).as("__bp_ndocs"))
      .where(col("__bp_ndocs") >= minDocs)
      .select(col("__bp_line"))
    val kept = lines.join(Broadcasts.ifFits(frequent), Seq("__bp_line"), "left_anti")
    val rebuilt = kept
      .groupBy(col("__bp_id"))
      .agg(concat_ws("\n",
        transform(
          array_sort(collect_list(struct(col("__bp_pos"), col("__bp_line")))),
          x => x.getField("__bp_line"))).as("__bp_text"))
      .withColumnRenamed("__bp_id", idCol)
    docs.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__bp_text"), lit("")))
      .drop("__bp_text")
  }
}
