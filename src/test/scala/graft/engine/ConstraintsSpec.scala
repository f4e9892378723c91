package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fixtures.WebGen

/** Dirty-variant fixtures → exact expected violation counts (FIXTURES.md §1). */
class ConstraintsSpec extends SparkSpec {

  private val N = 2000L

  private def frame(flags: WebGen.Flags) =
    WebGen.generate(spark, N, flags = flags).withColumnRenamed("p_day", "partition")

  test("schema gate accepts the declared shape and rejects others") {
    val good = WebGen.generate(spark, 10)
      .select("url", "warc_ts", "html", "text", "lang")
    assert(WebSchema.validate(good).isRight)
    assert(WebSchema.validate(good.drop("lang")).isLeft)
    assert(WebSchema.validate(good.withColumn("lang", lit(1))).isLeft)
  }

  test("clean fixture: zero violations from default checks") {
    val v = Constraints.runAll(frame(WebGen.Flags()),
      Seq(Constraints.NotNull("text"), Constraints.Unique("url"),
        Constraints.ByteIdenticalText))
    assert(v.count() == 0)
  }

  test("dup_urls: exactly floor((n-1)/97) duplicate groups") {
    val v = Constraints.Unique("url")
      .violations(frame(WebGen.Flags(dupUrls = true)))
    // rows 97, 194, ... reuse the previous row's url (row 0 excluded)
    val expected = (N - 1) / 97
    assert(v.count() == expected)
    assert(v.select("check_name").distinct().collect().head.getString(0) == "unique_url")
  }

  test("unique: dup-hash join broadcasts under the threshold, shuffles at -1, same violations") {
    // no conf and no per-check flag decide the join: Spark's threshold
    // does, from the dup-hash aggregate's upper-bound estimate
    assertBroadcastBothWays("BroadcastHashJoin") {
      Constraints.Unique("url").violations(frame(WebGen.Flags(dupUrls = true)))
    }
    val v = Constraints.Unique("url").violations(frame(WebGen.Flags(dupUrls = true)))
    assert(v.count() == (N - 1) / 97)
  }

  test("null_text: exactly ceil(n/53) not-null violations") {
    val v = Constraints.NotNull("text")
      .violations(frame(WebGen.Flags(nullText = true)))
    val expected = (0L until N).count(_ % 53 == 0)
    assert(v.count() == expected)
  }

  test("bad_extract: exactly ceil(n/71) byte-identical-text violations") {
    val v = Constraints.ByteIdenticalText
      .violations(frame(WebGen.Flags(badExtract = true)))
    val expected = (0L until N).count(_ % 71 == 0)
    assert(v.count() == expected)
    // observed = text (with trailing space), expected = extracted
    val row = v.orderBy(col("url")).select("observed", "expected").collect().head
    assert(row.getString(0) == row.getString(1) + " ")
  }

  test("violation ids are deterministic across runs") {
    val a = Constraints.NotNull("text")
      .violations(frame(WebGen.Flags(nullText = true)))
      .orderBy("violation_id").select("violation_id").collect().map(_.getString(0))
    val b = Constraints.NotNull("text")
      .violations(frame(WebGen.Flags(nullText = true)))
      .orderBy("violation_id").select("violation_id").collect().map(_.getString(0))
    assert(a.sameElements(b))
  }

  test("referential: orphan links flagged, valid links pass") {
    val pages = frame(WebGen.Flags())
    val links = WebGen.links(spark, 500, pages = N)
      .select(lit("<links>").as("partition"), col("dst_url").as("url"),
        lit(null).cast("timestamp").as("warc_ts"), col("dst_url").as("dst"))
    val check = Constraints.Referential("dst", pages.select(col("url")), "url")
    val v = check.violations(links)
    val expected = (0L until 500L).count(_ % 31 == 0)
    assert(v.count() == expected)
  }

  test("extra JSON passthrough rides into row-scoped violations end-to-end") {
    import spark.implicits._
    val wp = frame(WebGen.Flags(nullText = true))
      .withColumn("extra", concat(lit("""{"crawl":""""), col("url"), lit("\"}")))
    val v = Constraints.runAll(wp,
      Seq(Constraints.NotNull("text"), Constraints.Unique("url")))
    assert(v.columns.contains("extra"))
    val rowScoped = v.where(col("check_name") === "not_null_text")
      .select("extra").as[String].collect()
    assert(rowScoped.nonEmpty && rowScoped.forall(_.startsWith("""{"crawl":""")))
    // aggregate-scoped (no single source row) and extra-less inputs → null
    val without = Constraints.NotNull("text")
      .violations(frame(WebGen.Flags(nullText = true)))
    assert(without.columns.contains("extra"))
    assert(without.select("extra").as[String].collect().forall(_ == null))
  }

  test("array-dim constraint flags wrong-dimension vectors") {
    import spark.implicits._
    val df = Seq(
      ("p1", "u1", Seq(1.0, 2.0)),
      ("p1", "u2", Seq(1.0, 2.0, 3.0)),
      ("p1", "u3", Seq(0.0, 0.0))
    ).toDF("partition", "url", "vec")
    val v = Constraints.ArrayDim("vec", 2).violations(df)
    assert(v.select("url").as[String].collect().toSeq == Seq("u2"))
  }

  test("range constraint: both bounds inclusive, nulls pass, out-of-range rows flagged") {
    import spark.implicits._
    val df = Seq(
      ("p1", "in", Some(5)),
      ("p1", "at_lo", Some(1)),
      ("p1", "at_hi", Some(10)),
      ("p1", "null", None),
      ("p1", "below", Some(0)),
      ("p1", "above", Some(11))
    ).toDF("partition", "url", "n")
    val check = Constraints.InRange("n", lit(1), lit(10))
    assert(check.name == "range_n")
    val v = check.violations(df)
      .select("url", "check_name", "observed", "expected").as[(String, String, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(v == Seq(
      ("above", "range_n", "11", "[1, 10]"),
      ("below", "range_n", "0", "[1, 10]")))
  }

  test("extractTextFast == extractTextCol byte-for-byte on valid UTF-8 (r6 property pin)") {
    import spark.implicits._
    import graft.engine.TextExtract
    val rng = new scala.util.Random(11)
    val toks = Vector("<p>", "</p>", "<a href=x>", "text", "<", ">", "<>",
      "\u00e9\u00fc\u2026", "tail<", "a<b<c>d", "\n", " ", "<<>>", "plain words")
    val cases: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray) ++
      (1 to 200).map(_ => (1 to rng.nextInt(12)).map(_ => toks(rng.nextInt(toks.size)))
        .mkString.getBytes("UTF-8"))
    val df = cases.map(Tuple1(_)).toDF("html")
    val rows = df.select(TextExtract.extractTextCol(col("html")).as("a"),
      TextExtract.extractTextFastCol(col("html")).as("b")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getString(0) == r.getString(1),
        s"'${r.getString(0)}' != '${r.getString(1)}'")
    }
    // malformed UTF-8: BOTH twins fail the job (Spark 4 decode raises
    // MALFORMED_CHARACTER_CODING; the fast twin a CharacterCodingException)
    val bad = Seq(Tuple1(Array[Byte](0x41, 0xC3.toByte, 0x28))).toDF("html")
    intercept[Exception] {
      bad.select(TextExtract.extractTextCol(col("html")).as("a")).collect()
    }
    intercept[Exception] {
      bad.select(TextExtract.extractTextFastCol(col("html")).as("b")).collect()
    }
  }
}
