package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-defused shuffles for the hot-key (Zipfian domain) case — SURVEY §4.2.
  *
  * At 10^12 rows a referential JOIN hot-keys on the head domains: every row
  * of a hot key meets the same reducer, so [[saltedAntiJoin]] splits it
  * across S salted partitions (AQE's skew handling composes at runtime).
  * Duplicate COUNTING ([[dupGroups]]) needs no salt: an algebraic aggregate
  * partial-aggregates map-side, so a hot key reaches the exchange as at most
  * one row per map task already — there, the scale lever is shuffling 8-byte
  * key hashes instead of key strings. Both are pure DataFrame code (no
  * custom Strategy).
  */
object SaltedJoin {

  /** Deterministic per-row salt in [0, s). Derived from a row-dependent column
    * (NOT the group key — same-key rows must spread across salts).
    */
  def rowSalt(rowDependent: Column, s: Int): Column =
    pmod(xxhash64(rowDependent), lit(s)).cast("int")

  /** Duplicate-group detection, hash-prefiltered. Result: (key, cnt)
    * with cnt > 1 only — equivalent to `groupBy(key).count.where(cnt > 1)`
    * (property-tested), but the row-scale shuffle carries 8-byte xxhash64
    * values instead of full key strings (~60 B urls → ~130 MB instead of
    * ~1.6 GB per 16M rows):
    *
    *   1. count over the 64-bit key hash → duplicate hashes. ONE exchange:
    *      for an ALGEBRAIC aggregate Catalyst's map-side partial aggregation
    *      is already the skew defense — a key duplicated 10^7 times leaves
    *      each map task as ONE (hash, partial_cnt) row, so no reducer ever
    *      sees more than #mapTasks rows of a hot key and salting buys
    *      nothing. (An earlier two-stage salted variant paid the
    *      full-cardinality agg + exchange TWICE on a ~unique key; dropping
    *      it measured ~7% off the WHOLE validation pass at 32M rows,
    *      interleaved A/B at 8 cores. Salting remains essential for JOINS,
    *      where a hot key genuinely lands on one reducer:
    *      [[saltedAntiJoin]].)
    *   2. join the (rare, by validation contract) duplicate hashes back
    *      over a key-column-only scan; exact per-key counts on that small
    *      subset both produce the violation keys and eliminate hash
    *      collisions. The join carries no hint ([[Broadcasts]] rule 1):
    *      the dup-hash side is an aggregate over the key scan, so its size
    *      estimate is an upper bound: it broadcasts while that bound fits
    *      `spark.sql.autoBroadcastJoinThreshold` and plans a shuffle join
    *      beyond it — no extra job, and no driver OOM however many
    *      duplicates the input holds.
    */
  def dupGroups(df: DataFrame, key: Column): DataFrame = {
    val keyed = df.select(key.as("k"))
    val dupHashes = keyed
      .groupBy(xxhash64(col("k")).as("h"))
      .agg(count(lit(1)).as("hcnt"))
      .where(col("hcnt") > 1)
      .select(col("h"))
    keyed
      .select(col("k"), xxhash64(col("k")).as("h"))
      .join(dupHashes, Seq("h"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("k"), col("cnt"))
  }

  /** Salted left-anti referential check: rows of `child` whose `childKey` has
    * no match in `parent(parentKey)`. The parent side is exploded over all S
    * salts so every (key, salt) a child row can carry finds its partner;
    * orphans survive the anti join. `hint("merge")` pins sort-merge join (the
    * north_rule's "salted sort-merge joins") — at scale the parent side is too
    * large to broadcast, and SMJ + salting spreads a hot child key over S
    * sorted partitions.
    */
  def saltedAntiJoin(
      child: DataFrame,
      childKey: Column,
      childSaltSource: Column,
      parent: DataFrame,
      parentKey: Column,
      s: Int = 16
  ): DataFrame = {
    val salted = child
      .withColumn("__ck", childKey)
      .withColumn("__salt", rowSalt(childSaltSource, s))
    val exploded = parent
      .select(parentKey.as("__pk"))
      .distinct()
      .withColumn("__salt", explode(lit((0 until s).toArray)))
    salted
      .join(
        exploded.hint("merge"),
        salted("__ck") === exploded("__pk") && salted("__salt") === exploded("__salt"),
        "left_anti")
      .drop("__ck", "__salt")
  }
}
