package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Benchmark decontamination: the shared-shingle rule, the minShared
  * threshold, corpus preservation, and the broadcast plan contract.
  */
class DecontaminateSpec extends SparkSpec {

  import spark.implicits._

  // benchmark prompt: 8 words → four 5-gram shingles
  private val prompt = "the capital of france is paris of course"

  private val corpus = Seq(
    // verbatim inclusion → shares all 4 prompt shingles (>= 3: flagged)
    (1L, s"some intro then $prompt and a conclusion"),
    // shares exactly two 5-grams ("the capital of france is",
    // "capital of france is paris") → below minShared=3: clean
    (2L, "we know the capital of france is paris dont we"),
    // no overlap at all
    (3L, "completely unrelated text about spark shuffles and parquet"),
    // short doc (< 5 words) → single all-words shingle, no match
    (4L, "tiny doc here")
  ).toDF("doc_id", "text")

  private val bench = Seq((100L, prompt)).toDF("bench_id", "btext")

  test("pairs flagged at >= minShared distinct shared shingles, counted exactly") {
    val pairs = Decontaminate.contaminatedPairs(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"), shingleN = 5, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 100L, 4L)), pairs.toString)
    // lowering the threshold surfaces the partial overlap with its count
    val loose = Decontaminate.contaminatedPairs(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"), shingleN = 5, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(loose == Set((1L, 100L, 4L), (2L, 100L, 2L)), loose.toString)
  }

  test("dropContaminated removes flagged docs only") {
    val kept = Decontaminate.dropContaminated(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"), shingleN = 5, minShared = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), kept.toString)
  }

  test("the benchmark side is broadcast — the corpus never shuffles for the join") {
    // both sides that are small only by contract are measured (checkpointed:
    // ExistingRDD) and broadcast under the threshold; at -1 both joins
    // become shuffle joins with the same results
    assertBroadcastBothWays("BroadcastHashJoin", "ExistingRDD") {
      Decontaminate.contaminatedPairs(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"))
    }
    assertBroadcastBothWays("BroadcastHashJoin.*LeftAnti", "ExistingRDD") {
      Decontaminate.dropContaminated(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"))
    }
    val dropPlan = Decontaminate.dropContaminated(
        corpus, col("doc_id"), col("text"),
        bench, col("bench_id"), col("btext"))
      .queryExecution.executedPlan.toString
    assert(!dropPlan.contains("SortMergeJoin"),
      s"anti join must broadcast the flagged ids, not shuffle the corpus:\n$dropPlan")
  }
}
