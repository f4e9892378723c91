package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Broadcasts
import graft.functions.TextFunctions

/** Corpus-level frequency statistics over web text — the "what is actually
  * in this crawl" questions a training-data pipeline asks before filtering:
  * dominant boilerplate n-grams, over-represented phrases, template spam.
  *
  * Scale shape: one explode + one hash aggregation. The groupBy is the
  * single unavoidable shuffle, and partial aggregation (map-side combine)
  * means the exchange carries one row per DISTINCT n-gram per task — not
  * one per occurrence. The global top-k plans as TakeOrderedAndProject
  * (per-partition heap of k, then a k-row merge on the driver), never a
  * full sort of the frequency table. `minCount` prunes the long singleton
  * tail BEFORE the limit so the heap never sees it; at web scale the
  * singleton tail is most of the distinct mass, so this is the difference
  * between a k-row result and an n-gram-cardinality-sized one feeding the
  * TakeOrdered.
  */
object CorpusStats {

  /** Top `k` most frequent word `n`-grams ([[TextFunctions.shingles]]
    * semantics: docs with fewer than n words contribute their single
    * all-words shingle; blank/null docs contribute nothing). Ties break on
    * the n-gram string ascending — a total order, so the result set is
    * deterministic. Returns (`ngram`, `cnt`), most frequent first.
    */
  def topNgrams(df: DataFrame, text: Column, n: Int, k: Int,
      minCount: Long = 1L): DataFrame =
    df.select(explode(TextFunctions.shingles(text, n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  /** CCNet-style language-model quality signal WITHOUT an external model:
    * each document's mean unigram surprisal `−ln p(word)` under the
    * corpus's OWN unigram distribution (p = corpus count / total tokens).
    * High surprisal = rare/garbled vocabulary (junk candidate); low =
    * common fluent words — the same ranking CCNet gets from a KenLM
    * perplexity, trained here on nothing but the corpus itself, so it is
    * fully deterministic and SQL-oracle-reproducible.
    *
    * Exactly specified: words = [[TextFunctions.words]]; the per-doc mean
    * folds surprisals in word-POSITION order (sorted list + sequential
    * fold — the q_entropy device — so float summation order cannot
    * diverge between engines); docs with no words get a NULL score (no
    * evidence), never a silent drop. The cross-engine reproducibility
    * contract holds for documents within `maxWordsPerDoc`; a doc beyond
    * the cap is DELIBERATELY truncated on the Spark side (memory bound,
    * see the parameter doc) and an oracle computing over the full word
    * array will diverge on it — raise the cap if byte parity on
    * million-word pathologies matters more than the bounded buffer.
    *
    * Scale: the vocabulary count is one hash aggregation (map-side
    * partials absorb the Zipf head — the count of "the" leaves each task
    * as one row); the one-row token total joins unhinted (Spark estimates
    * a global aggregate as one row). The vocabulary is built after an
    * explode, where Spark's size estimate says nothing, so it is sized by
    * [[graft.engine.Broadcasts.ifFits]] — materialized and measured once
    * when the plan is built, which also lets the total sum the small
    * materialized table — and the doc↔vocab join broadcasts only when it
    * fits `spark.sql.autoBroadcastJoinThreshold`; real web vocab at 10^12
    * docs does not, and the join then shuffles on the word key.
    * The rebuild groupBy is the same shape as every dedup rebuild.
    */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column,
      /** Upper bound on the words of ONE document that enter the pass —
        * vocabulary counts AND the per-doc mean (r6, guide §5): the
        * position-ordered float fold buffers O(doc words) structs in one
        * agg buffer (the q_entropy device — the price of cross-engine
        * bit-stable summation), so an unbounded 10^8-word doc concentrates
        * its whole payload in a single task's memory. Words beyond the cap
        * are truncated — documented, deterministic, and far above any real
        * document at the default (2^20 ≈ 1M words ≈ 4x the longest novel);
        * the same guard protects the vocab-mining explode from a
        * single-doc row blowup. The truncated words also never reach the
        * GLOBAL vocab counts and token total, so truncating one document
        * shifts every word probability and therefore EVERY document's
        * score, not only the truncated document's.
        */
      maxWordsPerDoc: Int = 1 << 20): DataFrame = {
    require(maxWordsPerDoc > 0, s"maxWordsPerDoc must be > 0, got $maxWordsPerDoc")
    // the plan traverses the input more than once (vocab mining, the
    // per-doc probe, the final left join) — standard multi-eval guard
    val in = Caching.multiEvalGuard(df)
    val w = in.select(id.as("__us_id"),
      posexplode(slice(TextFunctions.words(text), 1, maxWordsPerDoc))
        .as(Seq("__us_pos", "__us_w")))
    val vocab = Broadcasts.ifFits(
      w.groupBy(col("__us_w")).agg(count(lit(1)).as("__us_cnt")))
    val tot = vocab.agg(sum(col("__us_cnt")).cast("double").as("__us_total"))
    val perDoc = w.join(vocab, Seq("__us_w"))
      .crossJoin(tot)
      .select(col("__us_id"), col("__us_pos"),
        (-log(col("__us_cnt").cast("double") / col("__us_total")))
          .as("__us_s"))
      .groupBy(col("__us_id"))
      .agg(
        (aggregate(
          sort_array(collect_list(struct(col("__us_pos"), col("__us_s")))),
          lit(0.0), (acc, x) => acc + x.getField("__us_s"))
          / count(lit(1))).as("__us_m"))
    in.select(id.as("__us_id"))
      .join(perDoc, Seq("__us_id"), "left")
      .select(col("__us_id").as("id"), col("__us_m").as("surprisal"))
  }
}
