package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end curation chain: each stage drops exactly its target rows,
  * counts audit the chain, and the stage list drives both paths.
  */
class CurateSpec extends SparkSpec {

  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")

  /** 55 words, 4 terminal-mark lines of >= 5 words, stop words present —
    * passes both the C4 and Gopher page gates; `tag` makes it unique.
    */
  private def goodText(tag: String): String = Seq(
    s"The quick brown fox named $tag jumps over the lazy dog in the field today.",
    "Many people walk along the river and watch the water move slowly past them.",
    "Every sentence here contains plenty of ordinary words that keep the metrics happy.",
    "Some final words arrive at the end of this small test document now."
  ).mkString("\n")

  private def row(url: String, text: String,
      html: String = "<html><body>x</body></html>") =
    (url, ts, html.getBytes("UTF-8"), text, "en")

  private def frame(rows: Seq[(String, Timestamp, Array[Byte], String, String)]): DataFrame =
    rows.toDF("url", "warc_ts", "html", "text", "lang")

  test("default chain: each content stage drops exactly its target") {
    val in = frame(Seq(
      row("https://a1.good.org/1", goodText("one")),                  // survives
      row("https://a2.bad.example/2", goodText("two")),               // url_blocklist
      row("https://a3.good.org/3", goodText("three"),
        "<html><head><meta name=\"robots\" content=\"noindex\"></head></html>"), // noindex
      row("https://a4.good.org/4", goodText("four") + " {"),          // c4 page poison
      row("https://a5.good.org/5",
        "Just one short sentence lives here today.\nAnother small one follows right behind it.\nAnd a third brings the total to three."), // c4-clean but < 50 words → gopher
      // a6 shares its first paragraph with a1 (stripped by the dedup —
      // a1's url sorts first) and keeps a full second paragraph of its own
      row("https://a6.good.org/6", goodText("one") + "\n\n" + goodText("six"))
    ))
    val (out, counts) = Curate.curateWithCounts(in,
      Curate.Config(blocklist = Seq("bad.example")))
    val got = out.select("url", "text").as[(String, String)].collect().toMap
    assert(got.keySet == Set("https://a1.good.org/1", "https://a6.good.org/6"),
      got.keySet.toString)
    assert(got("https://a1.good.org/1") == goodText("one"))
    // a6 keeps ONLY its own paragraph; the shared one lives on in a1
    assert(got("https://a6.good.org/6") == goodText("six"))
    assert(counts == Seq(
      "input" -> 6L, "url_blocklist" -> 5L, "noindex" -> 4L,
      "paragraph_dedup" -> 4L, "c4" -> 3L, "gopher" -> 2L,
      "exact_text_dedup" -> 2L),
      counts.toString)
  }

  test("exact-text dedup keeps the min-url twin (fingerprint-normalized match)") {
    // content stages off: texts differ byte-wise but share the normalized
    // fingerprint (lowercase + whitespace collapse)
    val in = frame(Seq(
      row("https://h1.org/b", "Shared   Body Text."),
      row("https://h1.org/a", "shared body text."),
      row("https://h2.org/c", "a different document entirely.")))
    val cfg = Curate.Config(dropNoindexPages = false, c4 = false,
      gopher = false, paragraphDedup = false)
    val kept = Curate.curate(in, cfg).select("url").as[String].collect().toSet
    assert(kept == Set("https://h1.org/a", "https://h2.org/c"), kept.toString)
  }

  test("optional stages: NFC before dedup collapses twins; boilerplate keeps \\n\\n; PII redacts last") {
    val base = Curate.Config(dropNoindexPages = false, c4 = false,
      gopher = false, paragraphDedup = false, exactTextDedup = false)
    // NFC: composed vs decomposed é are distinct paragraphs raw, one after
    val composed = "café paragraph body"
    val decomposed = "café paragraph body"
    val nfcIn = frame(Seq(
      row("https://n.org/a", composed), row("https://n.org/b", decomposed)))
    val rawKept = Curate.curate(nfcIn, base.copy(paragraphDedup = true))
    assert(rawKept.count() == 2L) // distinct bytes → both survive
    val nfcKept = Curate.curate(nfcIn,
      base.copy(unicodeNfc = true, paragraphDedup = true))
    assert(nfcKept.count() == 1L) // normalized twins collapse
    // boilerplate stripping preserves the paragraph boundary blank line
    val bpIn = frame((1 to 40).map(i =>
      row(s"https://b.org/$i", s"NAV | HOME\n\nbody of document $i")))
    val stripped = Curate.curate(bpIn, base.copy(stripBoilerplateMinDocs = 30L))
      .select("text").as[String].collect()
    assert(stripped.length == 40)
    stripped.foreach(t =>
      assert(t.startsWith("\n") && t.contains("body of document"), t))
    intercept[IllegalArgumentException](
      Curate.stages(base.copy(stripBoilerplateMinDocs = 1L)))
    // PII redaction runs last and rewrites in place
    val piiIn = frame(Seq(row("https://p.org/1", "mail me at a@b.example now")))
    val red = Curate.curate(piiIn, base.copy(redactPii = true))
      .select("text").as[String].head()
    assert(!red.contains("a@b.example") && red.contains("<EMAIL>"), red)
  }

  test("surprisal cap: the garbled-vocabulary doc drops, common docs stay") {
    val base = Curate.Config(dropNoindexPages = false, c4 = false,
      gopher = false, paragraphDedup = false, exactTextDedup = false)
    val in = frame(Seq(
      row("https://s.org/1", "the common words appear here"),
      row("https://s.org/2", "the common words appear again"),
      row("https://s.org/3", "zxqv flurble gnarp wibble"), // all-singleton vocab
      row("https://s.org/4", "")))                          // wordless → no evidence
    // every word in doc 3 is a corpus singleton, so its mean surprisal is
    // the max possible, ln(total); a cap just below that keeps only the
    // common docs (their repeated words pull the mean well under it)
    val total = 5 + 5 + 4 // words in docs 1-3
    val cap = math.log(total.toDouble) - 0.2
    val kept = Curate.curate(in, base.copy(maxSurprisal = cap))
      .select("url").as[String].collect().toSet
    assert(kept == Set("https://s.org/1", "https://s.org/2"), kept.toString)
    // the shuffle-join vocab path (a vocabulary over the broadcast
    // threshold, forced here with -1) selects the same docs
    assertBroadcastBothWays("BroadcastHashJoin") {
      Curate.curate(in, base.copy(maxSurprisal = cap)).select("url")
    }
    intercept[IllegalArgumentException](
      Curate.stages(base.copy(maxSurprisal = -1.0)))
    intercept[IllegalArgumentException](
      Curate.stages(base.copy(maxSurprisal = Double.PositiveInfinity)))
  }

  test("near-dup stage: one canonical survivor per component; bad thresholds rejected") {
    val base = Curate.Config(dropNoindexPages = false, c4 = false,
      gopher = false, paragraphDedup = false, exactTextDedup = false)
    val in = frame(Seq(
      row("https://n.org/1", "the quick brown fox jumps over the lazy dog"),
      row("https://n.org/2", "the quick brown fox jumps over the lazy cat"), // near dup of 1
      row("https://n.org/3", "completely different text about spark engines and shuffles"),
      row("https://n.org/4", "another unrelated document mentioning parquet and arrow")))
    val kept = Curate.curate(in, base.copy(nearDupJaccard = 0.5))
      .select("url").as[String].collect().toSet
    assert(kept == Set("https://n.org/1", "https://n.org/3", "https://n.org/4"),
      kept.toString)
    intercept[IllegalArgumentException](
      Curate.stages(base.copy(nearDupJaccard = 1.5)))
  }

  test("host cap and quality sampling engage only when dialed on") {
    val in = frame((1 to 6).map(i => row(s"https://one.host/$i", s"doc $i body")))
    val base = Curate.Config(dropNoindexPages = false, c4 = false,
      gopher = false, paragraphDedup = false, exactTextDedup = false)
    assert(Curate.curate(in, base).count() == 6L)
    assert(Curate.stages(base).isEmpty) // nothing enabled → no stages at all
    val capped = Curate.curate(in, base.copy(maxPerHost = 2))
    assert(capped.count() == 2L)
    // sampling with near-zero quality (tiny texts) thins aggressively and
    // deterministically: two runs agree
    val s1 = Curate.curate(in, base.copy(qualitySample = true))
      .select("url").as[String].collect().toSet
    val s2 = Curate.curate(in, base.copy(qualitySample = true))
      .select("url").as[String].collect().toSet
    assert(s1 == s2)
  }
}
