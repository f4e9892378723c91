package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("topNgrams: exact counts, ties break on the ngram string") {
    val docs = Seq(
      "a b c a b c",   // "a b": 2? bigrams: a b, b c, c a, a b, b c
      "a b",           // short doc → its single all-words shingle "a b"
      "",              // nothing
      null             // nothing
    ).toDF("text")
    val r = CorpusStats.topNgrams(docs, col("text"), n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    // counts: "a b" -> 3 (2 + short doc), "b c" -> 2, "c a" -> 1
    assert(r == Seq(("a b", 3L), ("b c", 2L), ("c a", 1L)), r.toString)
  }

  test("minCount prunes below-threshold ngrams before the limit") {
    val docs = Seq("x y x y", "z w").toDF("text")
    val r = CorpusStats.topNgrams(docs, col("text"), 2, 10, minCount = 2L)
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("x y", 2L)), r.toString)
  }

  test("plan: global top-k is TakeOrderedAndProject, not a full sort") {
    val docs = Seq("a b c").toDF("text")
    val plan = CorpusStats.topNgrams(docs, col("text"), 2, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("unigramSurprisal: exact hand math; wordless docs score NULL") {
    val docs = Seq(
      (1L, Some("a b")),
      (2L, Some("a")),
      (3L, Some("")),
      (4L, Option.empty[String])).toDF("doc_id", "text")
    val got = CorpusStats.unigramSurprisal(docs, col("doc_id"), col("text"))
      .as[(Long, Option[Double])].collect().toMap
    // corpus counts: a=2, b=1, total=3
    val sA = -math.log(2.0 / 3.0)
    val sB = -math.log(1.0 / 3.0)
    assert(math.abs(got(1L).get - (sA + sB) / 2) < 1e-12)
    assert(math.abs(got(2L).get - sA) < 1e-12)
    assert(got(3L).isEmpty && got(4L).isEmpty)
    // the ranking is the point: the doc of rare words scores strictly higher
    val ranked = Seq((10L, Some("the the the common words")),
      (11L, Some("zxqv flurble gnarp"))).toDF("doc_id", "text")
    val r = CorpusStats.unigramSurprisal(
        docs.unionByName(ranked), col("doc_id"), col("text"))
      .as[(Long, Option[Double])].collect().toMap
    assert(r(11L).get > r(10L).get)
  }

  test("unigramSurprisal: vocab and total joins broadcast under the threshold, shuffle at -1, same scores") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a")).toDF("doc_id", "text")
    // the vocabulary is measured (checkpointed: ExistingRDD) and hash-joined,
    // the one-row total nested-loop-joined; at -1 neither is broadcast
    assertBroadcastBothWays("BroadcastHashJoin", "BroadcastNestedLoopJoin", "ExistingRDD") {
      CorpusStats.unigramSurprisal(docs, col("doc_id"), col("text"))
    }
  }

  test("unigramSurprisal: maxWordsPerDoc truncates a pathological doc, bounded buffer (r6)") {
    // a 10k-word doc under a 100-word cap: only the first 100 words enter
    // the vocab AND the mean; a normal doc in the same corpus is untouched
    val mega = ("w " * 10000).trim
    val docs = Seq((1L, Some(mega)), (2L, Some("w x"))).toDF("doc_id", "text")
    val got = CorpusStats.unigramSurprisal(docs, col("doc_id"), col("text"),
        maxWordsPerDoc = 100)
      .as[(Long, Option[Double])].collect().toMap
    // corpus counts under the cap: w=101, x=1, total=102
    val sW = -math.log(101.0 / 102.0)
    val sX = -math.log(1.0 / 102.0)
    assert(math.abs(got(1L).get - sW) < 1e-12)
    assert(math.abs(got(2L).get - (sW + sX) / 2) < 1e-12)
    // the default cap leaves every sane doc's math identical
    val full = CorpusStats.unigramSurprisal(docs, col("doc_id"), col("text"))
      .as[(Long, Option[Double])].collect().toMap
    val sW2 = -math.log(10001.0 / 10002.0)
    assert(math.abs(full(1L).get - sW2) < 1e-12)
    intercept[IllegalArgumentException] {
      CorpusStats.unigramSurprisal(docs, col("doc_id"), col("text"),
        maxWordsPerDoc = 0)
    }
  }
}
