package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-document boilerplate-line stripping: frequency threshold on
  * DISTINCT docs, order preservation, blank-line immunity, all-boilerplate
  * documents, column passthrough, and the broadcast-anti-join plan shape.
  */
class BoilerplateSpec extends SparkSpec {

  import spark.implicits._

  // footer in 3 of 4 docs; "body N" unique; doc 4 is ONLY boilerplate;
  // doc 2 repeats the footer twice (must still count as ONE doc, and both
  // occurrences must be stripped); blank lines ride through untouched.
  private val docs = Seq(
    (1L, "body 1\nFOOTER\n\nbody 1 tail", "en"),
    (2L, "FOOTER\nbody 2\nFOOTER", "de"),
    (3L, "body 3", "en"),
    (4L, "FOOTER", "fr"),
    (5L, null.asInstanceOf[String], "en")
  ).toDF("doc_id", "text", "lang")

  test("lines in >= minDocs distinct docs are stripped; order and blanks kept") {
    val out = Boilerplate.stripFrequentLines(docs, "doc_id", "text", minDocs = 3L)
      .orderBy("doc_id")
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "body 1\n\nbody 1 tail", "en"),   // footer gone, blank line kept
      (2L, "body 2", "de"),                  // BOTH footer occurrences gone
      (3L, "body 3", "en"),                  // untouched
      (4L, "", "fr"),                        // all-boilerplate doc survives empty
      (5L, "", "en")                         // null text rebuilt as ""
    ), out.toString)
  }

  test("within-one-doc repeats do not cross the distinct-doc threshold") {
    // FOOTER appears 4 times but only in 2 distinct docs → minDocs=3 keeps it
    val d = Seq(
      (1L, "FOOTER\nFOOTER\nFOOTER\na"),
      (2L, "FOOTER\nb"),
      (3L, "c")
    ).toDF("doc_id", "text")
    val out = Boilerplate.stripFrequentLines(d, "doc_id", "text", minDocs = 3L)
      .orderBy("doc_id").select($"text").as[String].collect().toSeq
    assert(out == Seq("FOOTER\nFOOTER\nFOOTER\na", "FOOTER\nb", "c"), out.toString)
  }

  test("blank lines never strip, even when universal") {
    val d = Seq((1L, "a\n\nx"), (2L, "b\n\ny"), (3L, "c\n\nz"))
      .toDF("doc_id", "text")
    val out = Boilerplate.stripFrequentLines(d, "doc_id", "text", minDocs = 2L)
      .orderBy("doc_id").select($"text").as[String].collect().toSeq
    assert(out == Seq("a\n\nx", "b\n\ny", "c\n\nz"), out.toString)
  }

  test("CRLF input: '\\r' separator lines are blank — kept, never counted") {
    // split on \n leaves \r on every line; the separator line IS "\r".
    // Under a space-only trim it would be near-universal "content" and
    // every paragraph break would be stripped corpus-wide.
    val d = Seq(
      (1L, "body 1\r\n\r\nFOOT\r"),
      (2L, "body 2\r\n\r\nFOOT\r"),
      (3L, "body 3\r\n\r\nFOOT\r")
    ).toDF("doc_id", "text")
    val out = Boilerplate.stripFrequentLines(d, "doc_id", "text", minDocs = 3L)
      .orderBy("doc_id").select($"text").as[String].collect().toSeq
    assert(out == Seq("body 1\r\n\r", "body 2\r\n\r", "body 3\r\n\r"), out.toString)
  }

  test("frequent-line anti join: broadcast under the threshold, shuffled at -1, same text") {
    // the frequent set is built after an explode, so it is measured
    // (checkpointed: ExistingRDD) and broadcast only when it fits; at -1
    // the anti join shuffles on the line key instead of broadcasting
    assertBroadcastBothWays("BroadcastHashJoin.*LeftAnti", "ExistingRDD") {
      Boilerplate.stripFrequentLines(docs, "doc_id", "text", 3L)
    }
  }

  test("plan: the frequent-line anti join broadcasts the small side") {
    val plan = Boilerplate.stripFrequentLines(docs, "doc_id", "text", 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }
}
