package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Top-level (encoder-friendly) verdict row. */
final case class VerdictRow(
    partition: String,
    check_name: String,
    status: String,
    passed: Boolean,
    score: Double,
    n_violations: Long)

/** Orchestration of one validation pass — the engine's flagship DAG
  * (SURVEY §3.1 re-expression):
  *
  *   read → stats agg → constraint checks → drift score vs baseline →
  *   violations union → verdict agg → (optional) ledger-gated write
  *
  * All row-scale work is declarative DataFrame code over ALL partitions at
  * once (one DAG, shuffles only where semantics demand: the stats/profile
  * groupBys and the salted uniqueness/referential shuffles). Only the drift
  * scoring runs driver-side — deliberately, over O(#partitions) profile
  * vectors, never rows (SURVEY §7.4).
  */
object Validator {

  /** Partition key assigned to rows whose key expression evaluates to null
    * (e.g. a null `warc_ts` under the CLI's date derivation, or nulls in a
    * custom --partition-col). Normalized ONCE at the validator entry points
    * so a null key never reaches the driver-side profile sorts, the
    * ledger's filename encoding, or the alert entityId. The sentinel is
    * EXCLUDED from drift baseline models ([[saveBaseline]], the streaming
    * fold): it is a catch-all bucket whose mixed profile would pollute the
    * peer pool and, sorting above every date key, permanently survive the
    * store's recency cap.
    */
  val UnknownPartition = "<unknown>"

  /** Null partition keys → [[UnknownPartition]]; applied at every entry. */
  private[graft] def normalizePartitionKey(df: DataFrame): DataFrame =
    df.withColumn("partition",
      coalesce(col("partition").cast("string"), lit(UnknownPartition)))

  final case class Config(
      checks: Seq[Constraints.Check],
      lofK: Int = Lof.MinKNum,
      zThreshold: Double = 3.0,
      ksThreshold: Double = 0.25,
      /** warm-up guard: partitions with fewer rows are `skipped` not scored
        * (reference skipItems, manager.go:374-379 / SURVEY F7).
        */
      minRowsToScore: Long = 3L,
      /** minimum baseline partitions for LOF (brute k-NN errors below k). */
      driftEnabled: Boolean = true,
      /** Cap on the implicit (leave-one-out) baseline size. Drift scoring is
        * deliberately driver-side over O(#partitions) profiles (SURVEY §7.4);
        * an uncapped leave-one-out baseline makes that loop O(P²) — a serial
        * Amdahl term that destroys cluster scaling once P is large. Baselines
        * are sampled with a deterministic stride over the sorted partition
        * list instead.
        */
      maxBaseline: Int = 64,
      /** Override the drift scorer suite (U1 Predictor injection — the
        * reference swaps predictors via config, setup.go). None = the
        * default LOF + z-score + KS triple built from the thresholds above.
        */
      scorers: Option[Seq[Drift.Scorer]] = None
  )

  /** Quantile ranks of the text-length drift profile (FIXTURES.md §4). */
  val ProfileQs: Array[Double] = Array(0.05, 0.25, 0.5, 0.75, 0.95)

  /** Text-length profile vector off a KLL sketch row, evaluated
    * executor-side so only the 5 doubles travel to the driver.
    */
  private val lenProfile =
    udf((sk: Array[Byte]) => ProfileQs.map(q => sketch.KllAgg.quantile(sk, q)))

  val DefaultChecks: Seq[Constraints.Check] = Seq(
    Constraints.NotNull("url"),
    Constraints.NotNull("text"),
    Constraints.NotNull("lang"),
    Constraints.Unique("url"),
    Constraints.ByteIdenticalText
  )

  final case class Result(
      stats: DataFrame,
      violations: DataFrame,
      verdicts: DataFrame
  ) {
    /** Release the pass's cached frames. [[validate]] caches `stats` and
      * `violations` because both are consumed more than once within one
      * pass; a long-lived driver running many passes (the reference's
      * `ingest` loop shape) MUST call this once the result is consumed or
      * each pass pins executor memory forever. [[Validator.runWithLedger]]
      * and the CLI do it. Non-blocking by default: the cache registry is
      * deregistered immediately (so nothing re-caches against it) and the
      * blocks free asynchronously — a blocking release costs ~1 s of
      * synchronous block-removal RPCs per pass (measured in the bench),
      * bought nothing, and sat inside the timed path.
      */
    def unpersist(blocking: Boolean = false): Unit = {
      stats.unpersist(blocking)
      violations.unpersist(blocking)
      ()
    }
  }

  /** One full pass over `wp` (must carry `partition` + WebPage columns).
    *
    * `baselineProfiles`: profile vectors of a reference snapshot keyed by
    * profile kind ("lang" / "text_length"). When empty, each partition is
    * scored leave-one-out against all other partitions of this run — the
    * deterministic batch analog of the reference's "model = everything seen so
    * far" (ST7 snapshot semantics).
    */
  def validate(
      wpRaw: DataFrame,
      config: Config = Config(DefaultChecks),
      baselineProfiles: Map[String, IndexedSeq[Array[Double]]] = Map.empty,
      /** Frame for GLOBAL-scoped checks (cross-partition uniqueness) when it
        * must differ from `wp` — a ledger resume scopes `wp` to pending
        * partitions but global properties are only correct over the full
        * table (see [[Constraints.runAll]]).
        */
      globalFrame: Option[DataFrame] = None,
      /** Stats rows (StatsPass schema) of partitions NOT in `wp` whose
        * profiles must still be leave-one-out drift PEERS — a ledger resume
        * passes the persisted `column_stats` of done partitions here, so a
        * resumed partition is scored against the same peer set as an
        * unresumed run (drift-vs-peers is a cross-partition property, same
        * argument as globalFrame) at ZERO extra input scans: this is exactly
        * what the mergeable per-partition stats rows are persisted for.
        * These partitions are never (re)scored themselves.
        */
      baselinePeerStats: Option[DataFrame] = None
  ): Result = {
    val wp = normalizePartitionKey(wpRaw)
    val spark = wp.sparkSession
    import spark.implicits._

    // one scan+shuffle covers stats AND both drift profiles
    val stats = StatsPass.statsAndProfiles(wp).cache()

    // Violations are consumed twice (verdict aggregation + caller's write /
    // count). They are small by contract — a fraction of the input — so
    // caching avoids re-traversing the full input DAG (incl. the regex-heavy
    // byte-identical check) per consumer.
    val violations = Constraints.runAll(wp, config.checks, globalFrame).cache()

    // Overlap the pass's two heavy, INDEPENDENT jobs (guide §2.6): in drift
    // mode the stats collect below must run inside validate() anyway, and
    // every caller consumes violations afterwards — serially that is
    // (stats scan) + (row-check/uniqueness scans) of wall clock. Filling the
    // violations cache from a second driver thread runs both jobs
    // concurrently, so validate() costs ~max of the two scans instead of
    // their sum (r6: this overlap + the extractTextFast hot path took the
    // bench full-suite pass from 2.06 s to 1.40 s at sf0.1/local[32]).
    // The warm job runs under its own job tag, so a drift failure cancels
    // it (below) instead of waiting for a full-input scan to finish.
    // Without drift there is no in-validate job to overlap with, so stay
    // fully lazy rather than force an extra eager action.
    val violationsWarm =
      if (!config.driftEnabled) None
      else Some(TaggedJobs.start(spark.sparkContext, "violation evaluation") {
        violations.count(); ()
      })

    // --- constraint verdicts: (partition × check) grid, zero-fill, pass/fail.
    // ONE aggregation over the cached violations covers both scopes (the
    // "<global>" rows are just another partition value of the same groupBy —
    // the former where-split ran the agg twice), and the per-scope frames are
    // cheap filters of it. Neither join carries a hint ([[Broadcasts]] rule
    // 1): the check-name grid is a driver-local frame and the counts side
    // an aggregate over the cached violations, so both size estimates are
    // upper bounds — they broadcast under the threshold (a map-side hash
    // join instead of two small-stage shuffle exchanges; r6 measured the
    // verdict agg at 0.46 s of pure stage overhead) and a 10^7-partition
    // table plans shuffle joins instead of OOMing the driver.
    val allCounts = violations
      .groupBy(col("partition"), col("check_name"))
      .agg(count(lit(1)).as("n_violations"))
    val perPartCounts = allCounts.where(col("partition") =!= "<global>")
    val globalCounts = allCounts.where(col("partition") === "<global>")
    val checkNames = config.checks.map(_.name).toDF("check_name")
    val grid = stats.select(col("partition")).crossJoin(checkNames)
    val constraintVerdicts = grid
      .join(perPartCounts, Seq("partition", "check_name"), "left")
      .na.fill(0L, Seq("n_violations"))
      .unionByName(globalCounts)
      .select(
        col("partition"),
        col("check_name"),
        lit("scored").as("status"),
        (col("n_violations") === 0L).as("passed"),
        lit(Double.NaN).as("score"),
        col("n_violations"))

    // --- drift verdicts (driver-side over O(#partitions) profiles).
    // A drift-scorer or collect failure must not leave the warm job
    // scanning behind the caller's back (a retry would race it): it is
    // cancelled and joined, and the pass's caches released, before the
    // failure propagates.
    val driftVerdicts: DataFrame = try {
      if (!config.driftEnabled) spark.emptyDataset[VerdictRow].toDF()
      else {
        // warm counts + both profile kinds come from the ONE cached stats
        // frame — the drift stage adds zero extra input scans. The length
        // quantiles are extracted from each partition's KLL sketch
        // EXECUTOR-side (small UDF over the stats frame): the driver
        // receives (partition, 5 doubles), not the raw sketch bytes —
        // at 10^6 partitions that is KBs of transfer instead of GBs of
        // driver heap for 40 needed doubles per sketch.
        def profileRows(src: DataFrame) = src
          .select(col("partition"), col("row_cnt"), col("lang_profile"),
            lenProfile(col("len_kll_sketch")).as("len_profile"))
          .as[(String, Long, Array[Double], Array[Double])]
          .collect()
        val scoredRows = profileRows(stats)
        val scoredSet = scoredRows.map(_._1).toSet
        // peer-only rows (done partitions on resume) join the baseline pool
        // but are not scored; sort the merged pool so a fresh run and a
        // resumed run stride-sample IDENTICAL baselines per partition.
        // A peer row whose partition is ALSO in `wp` would otherwise enter
        // the pool twice — double-weighting itself in the stride-sampled
        // baseline and emitting duplicate skip rows — so enforce the
        // disjointness validate()'s contract assumes rather than trusting it.
        val profRows = (scoredRows ++
          baselinePeerStats.map(profileRows).getOrElse(Array.empty)
            .filterNot(t => scoredSet(t._1)))
          .toSeq.sortBy(t => Option(t._1))
        val warm: Map[String, Long] = profRows.map(t => (t._1, t._2)).toMap
        val profKinds: Seq[(String, Seq[(String, Array[Double])])] = Seq(
          "lang" -> profRows.map(t => (t._1, t._3)),
          "text_length" -> profRows.map(t => (t._1, t._4)))
        val rows = profKinds.flatMap { case (kind, profiles) =>
          val scorers: Seq[Drift.Scorer] = config.scorers.getOrElse(Seq(
            Drift.LofScorer(config.lofK),
            Drift.ZScoreScorer(config.zThreshold),
            Drift.KsScorer(config.ksThreshold)))
          val profArr = profiles.toArray
          // Scored in parallel on the driver (pure functions over immutable
          // profiles; output order restored by index) — single-threaded this
          // loop is a data-proportional Amdahl term at many partitions.
          val out = new Array[Seq[VerdictRow]](profArr.length)
          val parallelism = math.max(1, Runtime.getRuntime.availableProcessors)
          // A scorer that throws must fail the PASS with its own cause — an
          // unhandled worker death would leave null out(i) slots and surface
          // later as a bare NPE that hides the real error (or, worse, a
          // refactor could make the loss silent). First throwable wins;
          // rethrown after join() below.
          val firstError =
            new java.util.concurrent.atomic.AtomicReference[Throwable](null)
          val threads = (0 until parallelism).map { t =>
            new Thread(() => try {
              var i = t
              while (i < profArr.length) {
                val (p, vec) = profArr(i)
                if (!scoredSet(p)) { out(i) = Seq.empty; i += parallelism }
                else {
                val baseline: IndexedSeq[Array[Double]] =
                  baselineProfiles.getOrElse(kind, {
                    val stride = math.max(1, (profArr.length - 1) / config.maxBaseline)
                    val b = IndexedSeq.newBuilder[Array[Double]]
                    var j = 0
                    var taken = 0
                    while (j < profArr.length && taken < config.maxBaseline) {
                      // the null-key catch-all is scored but never a
                      // PEER: its mixed profile is not an entity's
                      // distribution (same exclusion as the saved models).
                      // The null spelling cannot occur here (validate
                      // normalizes keys at entry) — guarded anyway so the
                      // rule holds even if a caller feeds raw profiles.
                      if (profArr(j)._1 != p && profArr(j)._1 != null &&
                          profArr(j)._1 != UnknownPartition &&
                          (j % stride == 0)) {
                        b += profArr(j)._2; taken += 1
                      }
                      j += 1
                    }
                    b.result()
                  })
                val belowWarmup = warm.getOrElse(p, 0L) < config.minRowsToScore
                out(i) = scorers.map { s =>
                  val v =
                    if (belowWarmup) Drift.DriftSkipped
                    else s.score(vec, baseline)
                  v match {
                    case Drift.DriftSkipped =>
                      VerdictRow(p, s"${s.name}_$kind", "skipped", passed = true,
                        Double.NaN, 0L)
                    case Drift.DriftScored(score, drifted) =>
                      VerdictRow(p, s"${s.name}_$kind", "scored", passed = !drifted,
                        score, if (drifted) 1L else 0L)
                  }
                }
                i += parallelism
                }
              }
            } catch {
              case e: Throwable => firstError.compareAndSet(null, e)
            })
          }
          threads.foreach(_.start())
          threads.foreach(_.join())
          Option(firstError.get()).foreach { e =>
            throw new RuntimeException(
              s"drift scorer failed while scoring the '$kind' profiles: " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}", e)
          }
          out.toSeq.flatten
        }
        rows.toDF()
      }

    } catch {
      case e: Throwable =>
        violationsWarm.foreach(_.cancelAndJoin())
        stats.unpersist()
        violations.unpersist()
        throw e
    }

    // surface the warm job's own failure with its cause instead of a later
    // half-cached mystery at the caller's first violations consumer
    violationsWarm.foreach(_.await())

    // no global orderBy here: verdict order is presentation, not semantics —
    // consumers that need one sort the (tiny) frame themselves
    val verdicts = constraintVerdicts.unionByName(driftVerdicts)

    Result(stats, violations, verdicts)
  }

  /** Persist the profile vectors of a (clean) snapshot as the drift baseline
    * — the "green" immutable model of ST7 (gbkd.go:41-62 green/blue swap):
    * later runs score against this snapshot instead of leave-one-out.
    * Profiles use the SAME estimators as the scoring side (lang fractions +
    * KLL quantiles) so baseline and current vectors are bias-compatible.
    */
  def saveBaseline(wp: DataFrame, path: String): Unit = {
    val spark = wp.sparkSession
    import spark.implicits._
    // the "<unknown>" bucket never enters the model: its mixed profile is
    // not a real entity's distribution (see UnknownPartition scaladoc)
    val rows = profileRowsOf(
      StatsPass.statsAndProfiles(normalizePartitionKey(wp)))
      .filterNot(_._1 == UnknownPartition)
    rows.toDF("partition", "lang_profile", "len_profile")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** (partition, lang_profile, len_profile) rows off a stats frame — the
    * baseline's persisted shape, sorted by partition; length quantiles are
    * extracted executor-side so only the doubles travel to the driver.
    */
  private[graft] def profileRowsOf(
      stats: DataFrame): Seq[(String, Array[Double], Array[Double])] = {
    val spark = stats.sparkSession
    import spark.implicits._
    stats.select(col("partition"), col("lang_profile"),
        lenProfile(col("len_kll_sketch")).as("len_profile"))
      // Option-sort: a null key (library callers bypassing the CLI's
      // "<unknown>" coalesce) must not NPE the whole pass
      .as[(String, Array[Double], Array[Double])].collect()
      .sortBy(t => Option(t._1)).toSeq
  }

  /** MERGEABLE per-partition model rows off a stats frame — (partition,
    * row_cnt, lang_profile, len_kll_sketch), [[BaselineStore.merge]]'s
    * input shape: the count weights lang-fraction accumulation and the
    * sketch unions, so a day split across micro-batches folds into a
    * whole-day model instead of a last-slice estimate.
    */
  private[graft] def mergeRowsOf(
      stats: DataFrame): Seq[(String, Long, Array[Double], Array[Byte])] = {
    val spark = stats.sparkSession
    import spark.implicits._
    stats.select(col("partition"), col("row_cnt"), col("lang_profile"),
        col("len_kll_sketch"))
      .as[(String, Long, Array[Double], Array[Byte])]
      .collect().sortBy(t => Option(t._1)).toSeq
  }

  /** ST5 append policy (reference manager.go:409-418, allowAppendOutlier):
    * the reference optionally EXCLUDES outliers from the model it
    * accumulates. Batch analog: build the baseline snapshot only from rows
    * that pass the given row checks — violating rows never enter the model
    * the next run scores against.
    */
  def saveBaseline(
      wp: DataFrame,
      path: String,
      excludeViolating: Seq[Constraints.RowCheck]): Unit = {
    if (excludeViolating.isEmpty) { saveBaseline(wp, path); return }
    val prepared = excludeViolating.foldLeft(wp)((d, c) => c.prepare(d))
    val bad = excludeViolating
      .map(c => coalesce(c.condition, lit(false)))
      .reduce(_ || _)
    saveBaseline(prepared.where(!bad).select(wp.columns.map(col): _*), path)
  }

  /** Resolves BOTH baseline layouts through one reader: a flat
    * [[saveBaseline]] snapshot, or a [[BaselineStore]] versioned store
    * (continuous streaming maintenance) — newest complete version wins.
    */
  def loadBaseline(spark: SparkSession, path: String): Map[String, IndexedSeq[Array[Double]]] = {
    require(BaselineStore.currentDir(spark, path).isDefined,
      s"no baseline snapshot at $path (neither baseline-v* version dirs " +
        "nor flat parquet) — run save-baseline first")
    BaselineStore.loadMap(spark, path)
  }

  /** Restrict `df` to rows whose `partition` value is in `parts` — via a
    * LEFT SEMI join against a one-column driver-local frame (unhinted,
    * [[Broadcasts]] rule 1: it broadcasts under the threshold), never an
    * `isin(parts: _*)` literal list: the plan stays O(1) in |parts| (an
    * In-expression over 10^5 domain partitions is a multi-megabyte tree the
    * optimizer walks on every rule pass), and on physically-partitioned
    * tables Spark's dynamic partition pruning still prunes the scan off the
    * broadcast side, so nothing is lost vs static literals.
    */
  private[graft] def scopeToPartitions(df: DataFrame, parts: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keys = parts.toDF("partition")
    df.join(keys, Seq("partition"), "left_semi")
  }

  /** Commit a pass's three output tables with partition-atomic semantics —
    * THE one copy of the commit protocol (shared by the ledger path and
    * the manifest-mode CLI path, so the `<global>` sentinel convention and
    * per-table computed sets cannot drift between them). Returns the
    * verdict rows it wrote.
    *
    * `computed`: partitions this run evaluated; computed-but-empty ones
    * have their stale outputs deleted. "<global>" is appended for the two
    * tables that carry cross-partition rows (violations, verdicts) — never
    * for column_stats, which is strictly per-partition.
    *
    * The three writes are independent and run concurrently, one driver
    * thread and one job tag each ([[TaggedJobs.runAll]]): the first failure
    * cancels the other two and propagates before any caller marks a
    * partition done. Each partition value lands in one file per table
    * (unless AQE splits a skewed violations partition):
    *   - violations are rebalanced by partition, then ordered within each
    *     write task (W1, ingest sort, collect/handler.go:75-77) —
    *     deterministic file contents + better parquet RLE/dict compression
    *     on url/check_name at scale;
    *   - verdicts are materialized once on the driver: O(#partitions ×
    *     #checks) rows, the order the ledger marks already hold there, so
    *     the caller reads its per-partition counts off them without another
    *     job;
    *   - stats rows come out of their groupBy one partition per task. They
    *     are the ledger's metrics side (SURVEY §1.4 column_stats):
    *     mergeable HLL/KLL sketches a resumed or later run can roll up to
    *     table level without touching the data.
    */
  private[graft] def commitResults(
      res: Result, outDir: String, computed: Seq[String]): Seq[Row] = {
    val spark = res.stats.sparkSession
    val withGlobal = Some(computed :+ "<global>")
    def write(df: DataFrame, table: String, parts: Option[Seq[String]]) =
      TableIO.writePartitionsAtomic(df, s"$outDir/$table", computed = parts)
    TaggedJobs.runAll(spark.sparkContext, Seq[(String, () => Seq[Row])](
      "violations commit" -> { () =>
        write(res.violations.hint("rebalance", col("partition"))
          .sortWithinPartitions(col("partition"), col("check_name"), col("url")),
          "violations", withGlobal)
        Seq.empty
      },
      "verdicts commit" -> { () =>
        val rows = res.verdicts.collect().toSeq
        write(onePartitionPerTask(spark, rows, res.verdicts.schema),
          "verdicts", withGlobal)
        rows
      },
      "column_stats commit" -> { () =>
        write(res.stats, "column_stats", Some(computed))
        Seq.empty
      }))(1)
  }

  /** Driver-side rows as a frame in which every `partition` value sits in
    * exactly one task, so a partitioned write leaves one file per partition
    * directory.
    */
  private def onePartitionPerTask(
      spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val groups = rows.groupBy(_.getAs[String]("partition")).values.toSeq
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(groups.size, sc.defaultParallelism))
    spark.createDataFrame(sc.parallelize(groups, slices).flatMap(identity), schema)
  }

  /** Ledger-gated run: skip partitions already `done`, run the pass, mark
    * the processed partitions `pending` before the first output write and
    * `done` after all outputs are written (ST9/S13 semantics). A crash
    * before the pending marks leaves those partitions without a `done`
    * mark too, so either way the next call re-runs them. Returns the
    * partitions actually processed this run.
    */
  def runWithLedger(
      wpRaw: DataFrame,
      ledger: Ledger,
      runId: String,
      outDir: String,
      config: Config = Config(DefaultChecks),
      baselineProfiles: Map[String, IndexedSeq[Array[Double]]] = Map.empty
  ): Seq[String] = {
    val wp = normalizePartitionKey(wpRaw)
    val spark = wp.sparkSession
    import spark.implicits._
    val done = ledger.donePartitions()
    // A fresh ledger runs every input partition: the pass's own stats rows
    // name them afterwards, so no pre-scan of the partition column. With
    // done partitions the input list is needed up front — the pending ones
    // scope the pass, and the done ones present in the input form the
    // drift peer pool below.
    val resumed: Option[(Seq[String], Seq[String])] =
      if (done.isEmpty) None
      else {
        val (doneParts, todo) = wp.select(col("partition")).distinct()
          .as[String].collect().toSeq.sorted.partition(done)
        if (todo.isEmpty) return Seq.empty
        Some((todo, doneParts))
      }
    // Partition pruning: one pass over only the pending partitions (S5) —
    // EXCEPT global-scoped checks (cross-partition uniqueness), which run
    // over the full frame: a global property computed on the pending subset
    // would silently replace the table-wide answer on resume (a duplicate
    // spanning a done and a pending partition would vanish). Cost: a resume
    // re-scans the key column of all partitions for the uniqueness pass
    // (hash-shuffled 8-byte digests) — correctness of a global invariant
    // cannot be had cheaper.
    //
    // The scope filter is a SEMI-JOIN against a one-column todo
    // frame, not `isin(todo: _*)`: --partition-col accepts any column, and
    // at high cardinality (domain, not day) an In-expression with one
    // literal per partition becomes a multi-megabyte plan tree that the
    // optimizer itself chokes on. The semi-join keeps the plan O(1) in
    // partition count; at day scale the broadcast is a few KB either way.
    val scoped = resumed.fold(wp) { case (todo, _) => scopeToPartitions(wp, todo) }
    // Done partitions' persisted stats rows rejoin the drift baseline pool:
    // without them a resumed partition would be scored leave-one-out against
    // the PENDING SUBSET's peers only — different verdicts than an unresumed
    // run (observed: a drift failure silently vanishing on resume). Reading
    // column_stats back costs one tiny metadata-scale scan, not an input
    // rescan — this is precisely what the mergeable stats rows are for.
    val donePeerStats: Option[DataFrame] = resumed.flatMap { case (_, doneParts) =>
      val statsPath = new org.apache.hadoop.fs.Path(s"$outDir/column_stats")
      val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (doneParts.isEmpty || !fs.exists(statsPath)) None
      // readTable, not read.parquet: under the manifest commit mode the
      // data lives in dot-hidden snapshot dirs a plain read cannot see —
      // a plain read here would silently return an EMPTY peer pool and
      // resumed drift verdicts would diverge from unresumed runs
      else Some(scopeToPartitions(
        TableIO.readTable(spark, statsPath.toString), doneParts))
    }
    val res = validate(scoped, config, baselineProfiles, globalFrame = Some(wp),
      baselinePeerStats = donePeerStats)
    try {
      val rowCnt = res.stats.select(col("partition"), col("row_cnt"))
        .as[(String, Long)].collect().toMap
      val todo = resumed.fold(rowCnt.keys.toSeq.sorted)(_._1)
      if (todo.isEmpty) return Seq.empty
      todo.foreach(p => ledger.markPending(p, runId))
      // Resume-safe, partition-ATOMIC commit (TableIO — the Parquet stand-in
      // for an Iceberg snapshot commit): a resumed run stages its output and
      // atomically swaps in ONLY the partitions it actually processed — prior
      // `done` partitions' files survive byte-identical, and a concurrent
      // reader never observes a half-written partition. (A plain whole-dir
      // overwrite would silently delete done partitions' outputs while the
      // ledger still says done — the write-side half of the reference's
      // Status/bulkLoad contract, manager.go:312-354.) Rows scoped
      // partition="<global>" (cross-partition uniqueness) are recomputed
      // over the FULL frame (`globalFrame = wp`, never the pending subset)
      // and atomically REPLACE the previous run's <global> partition.
      // `computed` lists every partition this run evaluated — including
      // ones whose result is now EMPTY — so a partition whose violations
      // disappeared has its stale directory deleted instead of silently
      // surviving the swap. Replay of a `pending` partition is idempotent
      // because all row content is deterministic (no uuid/now()).
      val verdicts = commitResults(res, outDir, todo)
      // a partition's violation count is the sum of its constraint-check
      // verdicts' counts (drift verdicts are not violation rows); keyed by
      // (partition, check) first so a check listed twice counts once per
      // violation row, exactly as its rows do
      val checkNames = config.checks.map(_.name).toSet
      val nViolations = verdicts
        .filter(r => checkNames(r.getAs[String]("check_name")))
        .map(r => (r.getAs[String]("partition"), r.getAs[String]("check_name")) ->
          r.getAs[Long]("n_violations"))
        .toMap
        .groupMapReduce(_._1._1)(_._2)(_ + _)
      todo.foreach { p =>
        ledger.markDone(p, rowCnt.getOrElse(p, 0L), nViolations.getOrElse(p, 0L), runId)
      }
      todo
    } finally res.unpersist()
  }
}
