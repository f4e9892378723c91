package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Broadcasts
import graft.functions.TextFunctions

/** Benchmark decontamination — the pretraining hygiene step: find corpus
  * documents whose text overlaps an evaluation/benchmark set, so eval
  * prompts and answers can be EXCLUDED from training data (the n-gram
  * overlap rule popularized by the GPT-3/PaLM training reports, exactly
  * specified here so a SQL oracle can replicate it).
  *
  * Rule: a (corpus doc, benchmark doc) pair is contaminated when the two
  * share at least `minShared` DISTINCT word `n`-gram shingles
  * ([[TextFunctions.shingles]] semantics: fewer than n words → one
  * all-words shingle). Matching is on the shingle STRING — deterministic,
  * engine-portable, no hashing step to diverge on.
  *
  * Scale: the benchmark side is an eval set — thousands of rows, not
  * billions — but small only by contract, and after the explode Spark's
  * size estimate says nothing, so its shingle set is sized by
  * [[graft.engine.Broadcasts.ifFits]] (one materialize-and-measure job
  * when the plan is built). When it fits
  * `spark.sql.autoBroadcastJoinThreshold` the corpus side is ONE scan + a
  * broadcast hash probe (no corpus-wide shuffle), and only the matching
  * (corpus_id, bench_id, shingle) rows — bounded by the benchmark's size
  * times the contamination rate — enter the count-distinct exchange; an
  * oversized benchmark falls back to a shuffle join instead of OOMing the
  * driver.
  */
object Decontaminate {

  /** All contaminated (corpus, benchmark) pairs with their shared-shingle
    * counts: `(corpus_id, bench_id, shared_shingles)`, shared >= minShared.
    */
  def contaminatedPairs(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      shingleN: Int = 5, minShared: Int = 3): DataFrame = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val corpusTok = corpus.select(corpusId.as("corpus_id"),
        explode(array_distinct(TextFunctions.shingles(corpusText, shingleN)))
          .as("sh"))
    val benchTok = bench.select(benchId.as("bench_id"),
        explode(array_distinct(TextFunctions.shingles(benchText, shingleN)))
          .as("sh"))
    corpusTok
      .join(Broadcasts.ifFits(benchTok), Seq("sh"))
      .groupBy(col("corpus_id"), col("bench_id"))
      // shingles are distinct per side pre-join, so each shared shingle
      // contributes exactly one row — a plain count IS the distinct count
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
  }

  /** The corpus minus every doc contaminated against `bench` — one anti
    * join on the flagged ids.
    */
  def dropContaminated(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      shingleN: Int = 5, minShared: Int = 3): DataFrame = {
    // flagged is bounded by |benchmark| × contamination rate — the same
    // by-contract smallness as the probe side, and after the join its size
    // estimate is no bound at all — so it is sized the same way: measured,
    // the anti join broadcasts it when it fits instead of shuffling the
    // whole corpus by id. No distinct: left_anti ignores duplicate keys.
    val flagged = Broadcasts.ifFits(contaminatedPairs(corpus, corpusId,
        corpusText, bench, benchId, benchText, shingleN, minShared)
      .select(col("corpus_id").as("__contaminated_id")))
    corpus.join(flagged, corpusId === col("__contaminated_id"), "left_anti")
  }
}
