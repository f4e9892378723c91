package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{C4Rules, TextFunctions}

/** The end-to-end training-data curation pipeline: every webtext operator
  * in this package chained into ONE job (`graft.Main curate`), the way a
  * pipeline team would actually run them — a user of the reference system
  * who adopts this library gets crawl → clean corpus as one spark-submit.
  *
  * Stage order is cost-ordered for 100 TB — row-local filters first (they
  * push toward the scan and thin the corpus before anything shuffles) —
  * with ONE correctness-forced exception: paragraph dedup must run BEFORE
  * the C4 line cleaning, because C4's rebuild joins kept lines with a
  * single `\n` (blank lines fail its terminal-mark rule), which collapses
  * every `\n\n` paragraph boundary and would leave the span dedup nothing
  * to match on. Running it early also matches what the operator needs:
  * raw crawl structure, not cleaned prose:
  *
  *   1. url_blocklist      row-local (arrays_overlap predicate)
  *   2. noindex            row-local (robots meta token test)
  *   3. unicode_nfc        row-local NFC normalization (off by default:
  *                         it rewrites bytes, and the engine's flagship
  *                         invariant is byte-identical text — dial it on
  *                         where composed/decomposed twins must collapse
  *                         before the dedups)
  *   4. strip_boilerplate  cross-doc frequent-line stripping (off by
  *                         default; blank lines are immune in
  *                         [[Boilerplate.stripFrequentLines]], so `\n\n`
  *                         paragraph boundaries SURVIVE it and it can
  *                         precede the span dedup)
  *   5. paragraph_dedup    cross-doc span dedup on the RAW text
  *                         (WindowGroupLimit rank); docs rebuilt empty drop
  *   6. c4                 row-local: text := C4 clean_text, drop pages
  *                         failing the C4 page rules (a doc thinned under
  *                         3 sentences by the dedup correctly dies here)
  *   7. gopher             row-local keep conjunction over the CLEANED text
  *   7b. surprisal         corpus-trained unigram-surprisal cap (off by
  *                         default): drop docs whose mean −ln p(word)
  *                         under the corpus's own unigram distribution
  *                         exceeds the dial — the CCNet perplexity filter
  *                         without an external model; wordless docs have
  *                         no evidence and drop too
  *   8. exact_text_dedup   keep the min-url doc per identical normalized
  *                         text fingerprint (same WindowGroupLimit idiom) —
  *                         late on purpose: it also catches docs made
  *                         identical BY the cleaning stages
  *   9. near_dup           MinHash+LSH near-duplicate resolution (off by
  *                         default): banded candidate pairs at the dialed
  *                         Jaccard threshold → connected components →
  *                         only each component's canonical min-url doc
  *                         survives. NOTE: component resolution is
  *                         iterative, so with this dial on, curate() runs
  *                         its label-propagation jobs when the plan is
  *                         BUILT (strip_boilerplate and surprisal likewise
  *                         size their broadcast side when built)
  *  10. host_cap           at most k docs per host (md5-ranked)
  *  11. quality_sample     keep with probability qualityScore(text)
  *  12. redact_pii         row-local typed-placeholder redaction, LAST
  *                         (off by default): redacting after the dedups
  *                         means docs differing only in their PII do NOT
  *                         collapse — redact upstream yourself if they
  *                         should
  *
  * Determinism: every stage is a pure function of row content (+ salt) —
  * two runs, two engines, or two cluster sizes produce the identical
  * surviving corpus. PRECONDITION (same as [[Dedup.dedupParagraphs]]):
  * `url` must be unique and non-null — it is the rebuild key, the exact-
  * dedup tie-break, and the sampling key. Run the validator's uniqueness
  * check (or [[UrlFilter.capPerHost]] at k=1 on canonicalized urls) first
  * on corpora that cannot promise it.
  */
object Curate {

  /** Stage dials. Defaults run the content stages and skip the two that
    * need corpus-specific tuning (blocklist entries, host cap size).
    */
  case class Config(
      blocklist: Seq[String] = Nil,
      dropNoindexPages: Boolean = true,
      unicodeNfc: Boolean = false,
      stripBoilerplateMinDocs: Long = 0L, // 0 = off; 1 is rejected loudly
      c4: Boolean = true,
      gopher: Boolean = true,
      paragraphDedup: Boolean = true,
      maxSurprisal: Double = 0.0, // 0 = off; > 0 = drop docs above the cap
      exactTextDedup: Boolean = true,
      nearDupJaccard: Double = 0.0, // 0 = off; (0,1] = MinHash+LSH threshold
      maxPerHost: Int = 0, // 0 = off
      qualitySample: Boolean = false,
      redactPii: Boolean = false,
      salt: String = "curate")

  /** The enabled stages, in execution order — ONE list drives both
    * [[curate]] and [[curateWithCounts]] so execution and audit cannot
    * drift apart.
    */
  def stages(cfg: Config): Seq[(String, DataFrame => DataFrame)] = {
    val b = Seq.newBuilder[(String, DataFrame => DataFrame)]
    if (cfg.blocklist.nonEmpty)
      b += ("url_blocklist" -> ((d: DataFrame) =>
        UrlFilter.dropBlockedDomains(d, col("url"), cfg.blocklist)))
    if (cfg.dropNoindexPages)
      b += ("noindex" -> ((d: DataFrame) => HtmlMeta.dropNoindex(d, col("html"))))
    if (cfg.unicodeNfc)
      b += ("unicode_nfc" -> ((d: DataFrame) =>
        d.withColumn("text",
          graft.functions.UnicodeNorm.unicodeNormalize(col("text"), "NFC"))))
    require(cfg.stripBoilerplateMinDocs != 1L,
      "stripBoilerplateMinDocs must be 0 (off) or >= 2")
    // loud rejection of sign bugs, symmetric with the nearDupJaccard /
    // maxSurprisal checks: a negative dial silently disabling a cleaning
    // stage is a correctness trap for library callers (CLI validates too)
    require(cfg.stripBoilerplateMinDocs >= 0L,
      s"stripBoilerplateMinDocs must be >= 0, got ${cfg.stripBoilerplateMinDocs}")
    require(cfg.maxPerHost >= 0,
      s"maxPerHost must be >= 0, got ${cfg.maxPerHost}")
    if (cfg.stripBoilerplateMinDocs > 0L)
      b += ("strip_boilerplate" -> ((d: DataFrame) =>
        Boilerplate.stripFrequentLines(multiEvalGuard(d), "url", "text",
          cfg.stripBoilerplateMinDocs)))
    if (cfg.paragraphDedup)
      b += ("paragraph_dedup" -> ((d: DataFrame) =>
        Dedup.dedupParagraphs(multiEvalGuard(d), "url", "text")
          .where(length(col("text")) > 0)))
    if (cfg.c4)
      b += ("c4" -> ((d: DataFrame) => {
        val m = C4Rules.c4Metrics(col("text"))
        d.withColumn("__c4", m)
          .where(col("__c4").getField("keep"))
          .withColumn("text", col("__c4").getField("clean_text"))
          .drop("__c4")
      }))
    if (cfg.gopher)
      b += ("gopher" -> ((d: DataFrame) =>
        d.where(TextFunctions.gopherMetrics(col("text")).getField("keep"))))
    require(cfg.maxSurprisal >= 0.0 && !cfg.maxSurprisal.isNaN &&
      !cfg.maxSurprisal.isInfinity,
      s"maxSurprisal must be a finite value >= 0, got ${cfg.maxSurprisal}")
    if (cfg.maxSurprisal > 0.0)
      b += ("surprisal" -> ((d: DataFrame) => {
        // vocab mining + the keep-set semi join each traverse the input
        val in = multiEvalGuard(d)
        val keep = CorpusStats.unigramSurprisal(in, col("url"), col("text"))
          .where(col("surprisal").isNotNull &&
            col("surprisal") <= cfg.maxSurprisal)
          .select(col("id").as("__cs_keep"))
        in.join(keep, in("url") === col("__cs_keep"), "left_semi")
      }))
    if (cfg.exactTextDedup)
      b += ("exact_text_dedup" -> ((d: DataFrame) =>
        // min-url survivor per identical normalized-text fingerprint, via
        // the one home of the rank-n idiom; the rank <= 1 filter runs as
        // WindowGroupLimit, so even a corpus that is 90% one template page
        // never concentrates on a reducer
        Retention.topKPerGroup(d, TextFunctions.fingerprint(col("text")),
          col("url"), col("url"), 1)))
    require(cfg.nearDupJaccard >= 0.0 && cfg.nearDupJaccard <= 1.0,
      s"nearDupJaccard must be in [0,1], got ${cfg.nearDupJaccard}")
    if (cfg.nearDupJaccard > 0.0)
      b += ("near_dup" -> ((d: DataFrame) => {
        // the pair mining and the loser anti join each traverse the input
        val in = multiEvalGuard(d)
        val pairs = Dedup.minhashLshPairs(in, col("url"), col("text"),
          threshold = cfg.nearDupJaccard)
        Dedup.dropNearDupLosers(in, pairs, col("url"),
          col("id_a"), col("id_b"))
      }))
    if (cfg.maxPerHost > 0)
      b += ("host_cap" -> ((d: DataFrame) =>
        UrlFilter.capPerHost(d, col("url"), cfg.maxPerHost)))
    if (cfg.qualitySample)
      b += ("quality_sample" -> ((d: DataFrame) =>
        Sampling.byScore(d, col("url"),
          TextFunctions.qualityScore(col("text")), cfg.salt)))
    if (cfg.redactPii)
      b += ("redact_pii" -> ((d: DataFrame) =>
        d.withColumn("text", TextFunctions.redactPii(col("text")))))
    b.result()
  }

  /** The [[Caching.multiEvalGuard]] convention, applied to the inputs of
    * every MULTI-EVALUATING stage (strip_boilerplate evaluates its input
    * three times — frequent-line mining, line filtering, the rebuild join;
    * paragraph dedup, near-dup, and the surprisal cap twice each).
    */
  private def multiEvalGuard(d: DataFrame): DataFrame =
    Caching.multiEvalGuard(d)

  /** The cleaned corpus as ONE plan — no intermediate actions beyond the
    * multi-eval persist hints, except where a stage must size or resolve
    * something when it is built: strip_boilerplate and surprisal each
    * materialize and measure their join's small side once for the
    * broadcast decision ([[graft.engine.Broadcasts.ifFits]]), and near_dup
    * runs its label-propagation jobs. All three are off by default. At
    * full scale this is the call to use (write it, count the write).
    */
  def curate(df: DataFrame, cfg: Config = Config()): DataFrame =
    stages(cfg).foldLeft(df) { case (d, (_, f)) => f(d) }

  /** Audit mode: the cleaned corpus plus per-stage survivor counts. The
    * input and each intermediate are persisted (MEMORY_AND_DISK) before
    * their count and released once their successor is materialized, so the
    * raw table is READ once and every stage EXECUTES once — the price is
    * one action per stage and the spill footprint of one intermediate
    * corpus, which is why this is the dial-up audit path and [[curate]] is
    * the default. The returned frame is still persisted: write it, then
    * unpersist.
    */
  def curateWithCounts(df: DataFrame,
      cfg: Config = Config()): (DataFrame, Seq[(String, Long)]) = {
    val counts = Seq.newBuilder[(String, Long)]
    var cur = df.persist(StorageLevel.MEMORY_AND_DISK)
    counts += ("input" -> cur.count())
    var prev = cur
    for ((name, f) <- stages(cfg)) {
      val next = f(cur).persist(StorageLevel.MEMORY_AND_DISK)
      counts += (name -> next.count()) // materializes `next` off the cache
      prev.unpersist(false)
      prev = next
      cur = next
    }
    (cur, counts.result())
  }
}
