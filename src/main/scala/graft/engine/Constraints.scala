package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Constraint checks over a partitioned web-pages frame.
  *
  * Each check emits rows in the standard violation schema
  * (SURVEY §1.4 `violations` table, mirroring the reference's Metric/alert
  * payload fields, internal/metric/model/metric_model.go:32-41):
  *
  *   partition STRING | url STRING | check_name STRING |
  *   observed STRING  | expected STRING | violation_id STRING
  *
  * `violation_id` is deterministic — sha2(url || check_name) — so re-runs and
  * ledger-resumed runs produce byte-identical rows (north_rule; replaces the
  * reference's nondeterministic uuid row ids, metric_model.go:20).
  */
object Constraints {

  val ViolationCols: Seq[String] =
    Seq("partition", "url", "check_name", "observed", "expected", "violation_id",
      "extra")

  /** Opaque JSON passthrough (reference `Extra interface{}`,
    * metric_model.go:40, echoed into alerts alert/alert.go:56-61): when the
    * input frame carries an `extra` string column it rides along into every
    * row-scoped violation; aggregate-scoped violations (Unique) have no
    * single source row and carry null.
    */
  private def extraCol(df: DataFrame): Column =
    if (df.columns.contains("extra")) col("extra").cast("string")
    else lit(null).cast("string")

  private def finish(df: DataFrame): DataFrame =
    (if (df.columns.contains("extra")) df
     else df.withColumn("extra", lit(null).cast("string")))
      .withColumn(
        "violation_id",
        sha2(concat_ws("\u0000", col("url"), col("check_name")), 256))
      .select(ViolationCols.map(col): _*)

  sealed trait Check {
    def name: String

    /** True when violations are a property of the WHOLE table rather than a
      * single partition (rows scoped partition="<global>"). Ledger-resumed
      * runs evaluate global checks over the full frame, never the pending
      * subset — any new cross-partition check MUST override this or its
      * violations silently shrink to the subset on resume.
      */
    def globalScope: Boolean = false

    /** df must carry a `partition` string column plus the WebPage columns. */
    def violations(df: DataFrame): DataFrame
  }

  /** A check whose violation condition is evaluable per row (no shuffle).
    * All row checks in a suite are fused into ONE scan by [[runAll]]: at
    * 10^12 rows every extra input traversal is hours of cluster time, so the
    * union-of-filters shape (one scan per check) is replaced by a single
    * projection emitting an array of violated-check structs, filtered and
    * exploded. `prepare` may add helper columns shared between condition and
    * expected (e.g. the extracted text, so the regex runs once).
    */
  sealed trait RowCheck extends Check {
    def prepare(df: DataFrame): DataFrame = df
    def condition: Column
    def observed: Column
    def expected: Column

    def violations(df: DataFrame): DataFrame = {
      val prepared = prepare(df)
      finish(
        prepared.where(condition)
          .select(col("partition"), col("url"), lit(name).as("check_name"),
            observed.as("observed"), expected.as("expected"),
            extraCol(prepared).as("extra")))
    }
  }

  /** Not-null constraint on one column (reference analog: required JSON
    * fields rejected at decode, internal/httputil/util.go:15-38).
    */
  final case class NotNull(column: String) extends RowCheck {
    val name = s"not_null_$column"
    def condition: Column = col(column).isNull
    def observed: Column = lit("NULL")
    def expected: Column = lit("NOT NULL")
  }

  /** Uniqueness on a key column via the hash-prefiltered count
    * (SURVEY §2.3 J5). Emits one violation per duplicated key value.
    * Skew note: the count aggregates map-side (partial agg collapses a hot
    * key to one row per map task before the exchange), so no salt is needed
    * here — see [[SaltedJoin.dupGroups]]; salting remains on the join-shaped
    * referential check.
    */
  final case class Unique(column: String) extends Check {
    val name = s"unique_$column"
    override def globalScope: Boolean = true // duplicates may span partitions
    def violations(df: DataFrame): DataFrame = {
      val dups = SaltedJoin.dupGroups(df.select(col(column)), col(column))
      // one row per duplicated value; partition of the violation = "<global>"
      // (a duplicate may span partitions).
      finish(
        dups.select(
          lit("<global>").as("partition"),
          col("k").cast("string").as("url"),
          lit(name).as("check_name"),
          concat(lit("count="), col("cnt")).as("observed"),
          lit("count=1").as("expected")))
    }
  }

  /** Value-range constraint (reference analog: the kd-tree orthogonal range
    * predicate, pkg/kdtree/node.go:61-84, re-expressed as a conjunctive
    * between() predicate — SURVEY §2.3 J3).
    */
  final case class InRange(column: String, lo: Column, hi: Column) extends RowCheck {
    val name = s"range_$column"
    def condition: Column = col(column).isNotNull && !col(column).between(lo, hi)
    def observed: Column = col(column).cast("string")
    def expected: Column =
      concat(lit("["), lo.cast("string"), lit(", "), hi.cast("string"), lit("]"))
  }

  /** The per-row invariant from `input_hint`: text must be byte-identical to
    * the deterministic extraction of html. NULL text is NotNull's business,
    * not this check's.
    */
  case object ByteIdenticalText extends RowCheck {
    val name = "byte_identical_text"
    // the extraction runs ONCE per row via prepare, shared between
    // condition and expected. r6: the single-pass extractTextFast twin
    // (byte-equal, property-pinned) replaces the regex column on this hot
    // path — measured 1.7× faster per scan; extractTextCol remains the
    // spec (and the Bench noise sentinel's unchanged implementation).
    override def prepare(df: DataFrame): DataFrame =
      df.withColumn("__extracted", TextExtract.extractTextFastCol(col("html")))
    def condition: Column = col("text").isNotNull && col("html").isNotNull &&
      col("text") =!= col("__extracted")
    def observed: Column = col("text")
    def expected: Column = col("__extracted")
  }

  /** Streaming-side half of cross-batch uniqueness (SURVEY J5; the
    * reference's model state is CROSS-batch, manager.go:232-234): rows
    * whose url was already ingested by an EARLIER micro-batch arrive
    * carrying a boolean marker column set by the ingest sink's
    * reconciliation join against the accumulated pages table
    * (StreamingValidate.withSeenPriorFlag); this check turns the marker
    * into a standard violation row. Within-batch duplicates remain
    * [[Unique]]'s business (the two checks are disjoint by construction),
    * and the table-wide answer remains the batch validator's (same
    * division of labor as ledger-resume's globalFrame).
    */
  case object SeenPriorBatch extends RowCheck {
    /** The marker column the ingest sink attaches (and strips again before
      * writing pages).
      */
    val flagColumn = "__seen_prior_batch"
    val name = "unique_url_cross_batch"
    def condition: Column = col(flagColumn)
    def observed: Column = lit("url seen in a prior micro-batch")
    def expected: Column = lit("first occurrence")
  }

  /** Fixed-dimension constraint for array columns (reference analog: distance
    * dim-equality errors, internal/geom/distance.go:12-14 — re-expressed as a
    * violation instead of a runtime error, SURVEY §2.2 F8).
    */
  final case class ArrayDim(column: String, dim: Int) extends RowCheck {
    val name = s"dim_${column}_$dim"
    def condition: Column = col(column).isNotNull && size(col(column)) =!= dim
    def observed: Column = concat(lit("dim="), size(col(column)))
    def expected: Column = lit(s"dim=$dim")
  }

  /** Referential integrity: every `childKey` in df must exist in
    * `parent(parentKey)` — salted left-anti sort-merge join (SURVEY §2.3 J6).
    */
  final case class Referential(
      childKeyCol: String,
      parent: DataFrame,
      parentKeyCol: String
  ) extends Check {
    val name = s"ref_${childKeyCol}"
    def violations(df: DataFrame): DataFrame = {
      // Distinct child keys first: the anti join then runs over |distinct ck|
      // rows instead of |child| (often ≫ smaller — fact tables repeat their
      // foreign keys), and the rare orphan keys join back to pick up the
      // violating child rows. The distinct ALSO kills skew — after it,
      // every key appears exactly once, so there is no hot key left for
      // salting to defuse; exploding the parent ×S salts here would just
      // multiply the dominant shuffle by S for nothing. Plain left-anti SMJ
      // on the distinct keys is the scale-correct plan (SURVEY §2.3 J6);
      // [[SaltedJoin.saltedAntiJoin]] remains for the no-distinct path where
      // per-row key skew is real.
      val distinctKeys = df.select(col(childKeyCol).as("ref_key")).distinct()
      val parentKeys = parent.select(col(parentKeyCol).as("__pk"))
      // No join-strategy hint (r6): the former `hint("merge")` pinned a
      // sort-merge join even when the single-column parent key set fits a
      // broadcast — guide §3.1 says pick by size, and the size-estimate /
      // AQE path does exactly that: small parent → broadcast LEFT ANTI (no
      // exchange, no sort on either side); parent beyond
      // autoBroadcastJoinThreshold → the same SMJ as before. Skew needs no
      // salt here either way: the child side is distinct, so no key appears
      // twice (see scaladoc above).
      val orphanKeys = distinctKeys
        .join(parentKeys,
          distinctKeys("ref_key") === parentKeys("__pk"), "left_anti")
      // The join-back carries no hint either ([[Broadcasts]] rule 1): a
      // left-anti join never outputs more than its left side, so the
      // orphan set's estimate is the distinct-key estimate — an upper
      // bound. It broadcasts while that bound fits and shuffles beyond it,
      // and the check stays lazy (no sizing job at plan time).
      val orphans = df.join(orphanKeys, df(childKeyCol) === orphanKeys("ref_key"))
      finish(
        orphans.select(
          col("partition"),
          col("url"),
          lit(name).as("check_name"),
          col(childKeyCol).cast("string").as("observed"),
          lit(s"exists in parent.$parentKeyCol").as("expected"),
          extraCol(df).as("extra")))
    }
  }

  /** All row-level checks of a suite in ONE scan: prefilter on the cheap
    * boolean disjunction of the conditions, THEN project an array of
    * per-check structs for the (rare, by the validation contract) violating
    * rows, keep the violated ones, explode.
    *
    * The prefilter matters at every scale: without it each CLEAN row pays
    * the struct-array materialization — copying its full text/observed/
    * expected strings into per-check structs that the filter immediately
    * throws away (measured 10× the cost of the condition evaluation itself).
    * With it, clean rows cost one boolean per check and only violating rows
    * build strings. Helper columns from `prepare` (e.g. the extracted text)
    * are plan columns, so condition and struct share them.
    */
  def runRowChecks(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    val prepared = checks.foldLeft(df)((d, c) => c.prepare(d))
    val anyBad = checks.map(c => coalesce(c.condition, lit(false))).reduce(_ || _)
    val entries = checks.map { c =>
      struct(
        lit(c.name).as("check_name"),
        c.condition.as("bad"),
        c.observed.cast("string").as("observed"),
        c.expected.cast("string").as("expected"))
    }
    finish(
      prepared
        .where(anyBad)
        .select(
          col("partition"), col("url"), extraCol(prepared).as("extra"),
          explode(filter(array(entries: _*), e => coalesce(e("bad"), lit(false))))
            .as("v"))
        .select(col("partition"), col("url"), col("extra"),
          col("v.check_name").as("check_name"),
          col("v.observed").as("observed"),
          col("v.expected").as("expected")))
  }

  /** Run a suite of checks and union their violations (SURVEY §2.6 —
    * unionByName is the engine's only set op). Row-level checks are fused
    * into a single scan (see [[runRowChecks]]); shuffle-bearing checks
    * (Unique, Referential) contribute their own branches.
    *
    * `globalDf`: the frame GLOBAL-scoped checks (those whose violations are
    * a property of the whole table, i.e. [[Unique]]'s cross-partition
    * "<global>" rows) evaluate against. Defaults to `df`. A ledger-resumed
    * run must pass the FULL table here while scoping partition-local checks
    * to the pending subset — otherwise the resumed subset's global rows
    * silently replace (or go stale against) the table-wide answer.
    */
  def runAll(df: DataFrame, checks: Seq[Check],
      globalDf: Option[DataFrame] = None): DataFrame = {
    val (rowChecks, rest) = checks.partition(_.isInstanceOf[RowCheck])
    val branches =
      (if (rowChecks.nonEmpty)
         Seq(runRowChecks(df, rowChecks.map(_.asInstanceOf[RowCheck])))
       else Seq.empty) ++
        rest.map { c =>
          c.violations(if (c.globalScope) globalDf.getOrElse(df) else df)
        }
    branches.reduce(_.unionByName(_))
  }
}
