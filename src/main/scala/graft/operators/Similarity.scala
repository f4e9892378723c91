package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Broadcasts

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths (SURVEY-adjacent training-data ops):
  *  - [[bruteTopK]]: exact cosine top-k via a join against the query set
  *    (broadcast when it fits, [[graft.engine.Broadcasts]]) — the correctness
  *    baseline; right when the query set is small (queries × corpus scan).
  *  - [[lshTopK]]: random-hyperplane LSH buckets — the 100 TB scale path: the
  *    corpus is bucketed once (shuffle on a 32-bit bucket key), each query
  *    probes only its bucket, so cost is corpus/2^bits per query instead of
  *    the full corpus.
  *
  * Per-pair/per-row math (cosine, hyperplane sketches) runs as tight Scala
  * loops behind `udf` — higher-order-function column expressions interpret
  * their lambdas per element and are NOT whole-stage-codegen'd (measured;
  * BENCH_SCALING.md §6/§12) — each loop bit-equality-pinned against the
  * original expression by spec. Hyperplanes are pseudo-random but fully
  * deterministic: component d of plane p is ±1 by the bit parity of
  * xxhash64(p, d) — reproducible anywhere.
  */
object Similarity {

  /** One traversal: (Σ v²  in ascending order, any-null?). */
  private def sumSqScan(v: Seq[java.lang.Double]): (Double, Boolean) = {
    var s = 0.0
    var hasNull = false
    val it = v.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e == null) hasNull = true
      else { val d = e.doubleValue; s += d * d }
    }
    (s, hasNull)
  }

  /** Cosine similarity of two double-array columns.
    *
    * Tight-loop UDF, not zip_with/aggregate: higher-order-function column
    * expressions interpret their lambda per ELEMENT (no codegen), which
    * made this ~18 µs per candidate pair at 64 dims — and cosine runs per
    * PAIR in every ANN ranking and dedup verify stage. Same medicine as
    * MinHash/SimHash/hyperplanes (BENCH_SCALING.md §6, §11). Casts its own
    * inputs; no boxing-copy allocations on the pair path.
    *
    * Result semantics replicate the original expression EXACTLY, including
    * its three-valued `when(na === 0 || nb === 0, 0).otherwise(...)` guard
    * (pinned by spec): if either side is a VALID all-zero vector → 0.0 even
    * when the other side is null/dirty (null OR true is true); otherwise
    * null when either side is null / has null elements / lengths differ;
    * else dot/(‖a‖·‖b‖) with ascending multiply-add fold order.
    */
  def cosine(a: Column, b: Column): Column = {
    val f = udf((x: Seq[java.lang.Double], y: Seq[java.lang.Double]) => {
      val xs = if (x == null) null else sumSqScan(x)
      val ys = if (y == null) null else sumSqScan(y)
      // sqrt(s) == 0 ⟺ s == 0 for a non-negative sum of squares
      val xZero = xs != null && !xs._2 && xs._1 == 0.0
      val yZero = ys != null && !ys._2 && ys._1 == 0.0
      if (xZero || yZero) Some(0.0)
      else if (xs == null || ys == null || xs._2 || ys._2 || x.length != y.length)
        None
      else {
        var dot = 0.0
        val ix = x.iterator
        val iy = y.iterator
        while (ix.hasNext) dot += ix.next().doubleValue * iy.next().doubleValue
        Some(dot / (math.sqrt(xs._1) * math.sqrt(ys._1)))
      }
    })
    f(a.cast("array<double>"), b.cast("array<double>"))
  }

  /** Drop null vectors and vectors with null ELEMENTS before any similarity
    * math: a null-element dot/cosine is null, which would otherwise ride
    * into ranking windows as sim=null rows (and a null vec would NPE the
    * IVF assignment UDF). Dirty vectors are the dim-check's business
    * (Constraints.ArrayDim), not the ANN operators'.
    */
  private[operators] def cleanVecs(df: DataFrame, vecCol: String): DataFrame =
    df.where(col(vecCol).isNotNull && !exists(col(vecCol), x => x.isNull))

  /** Per-query top-k of (qid, cid, sim) rows: sim descending, then cid. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Multi-probe buckets: the sketch's own bucket and every 1-bit flip. */
  private[operators] def multiProbe(sketch: Column, bits: Int): Column =
    flatten(array(array(sketch), transform(sequence(lit(0), lit(bits - 1)),
      b => sketch.bitwiseXOR(call_function("shiftleft", lit(1), b)))))

  /** Exact top-k by cosine for each query row.
    * `queries(qid, qvec)`, `corpus(cid, cvec)` → (qid, cid, sim, rank).
    * The query side is small by contract, so it is sized by
    * [[graft.engine.Broadcasts.ifFits]] and broadcast when it fits: the
    * corpus is then scanned once with no shuffle of the corpus itself;
    * per-query top-k is a ranking window over (query, candidate) pairs.
    */
  def bruteTopK(
      queries: DataFrame, qid: Column, qvec: Column,
      corpus: DataFrame, cid: Column, cvec: Column,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = cleanVecs(queries.select(qid.as("qid"), qvec.as("qvec")), "qvec")
    val c = cleanVecs(corpus.select(cid.as("cid"), cvec.as("cvec")), "cvec")
    val pairs = c.join(Broadcasts.ifFits(q),
      if (excludeSelf) col("qid") =!= col("cid") else lit(true))
    topK(pairs.select(
      col("qid"), col("cid"),
      cosine(col("qvec"), col("cvec")).as("sim")), k)
  }

  /** ±1 sign matrix of the deterministic hyperplanes, precomputed ONCE per
    * (bits, dim) and cached per executor. Sign of plane p, component d is the
    * parity of Spark's `xxhash64(p, d)` (seed 42 chained over two ints —
    * reproduced via the same catalyst XXH64 primitive), so buckets are
    * byte-compatible with the previous in-plan expression. The matrix is
    * data-INDEPENDENT; the old nested-HOF expression recomputed all
    * bits×dim hashes per row in interpreted lambdas — measured as the
    * dominant cost of the LSH paths (same lesson as MinHash/SimHash,
    * BENCH_SCALING.md §6).
    */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private[operators] def signMatrix(bits: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((bits, dim), { key =>
      val (b, n) = key
      Array.tabulate(b, n) { (p, d) =>
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val h = XXH64.hashInt(d, XXH64.hashInt(p, 42L))
        if ((h & 1L) == 1L) 1.0 else -1.0
      }
    })

  /** Scala twin of the sketch (tight loop, same float-op order as the old
    * zip_with/aggregate fold: acc + v[d]*sign, d ascending — equality is
    * asserted in SimilaritySpec).
    */
  def hyperplaneSketchScala(v: Array[Double], bits: Int): Int = {
    val m = signMatrix(bits, v.length)
    var sketch = 0
    var p = 0
    while (p < bits) {
      val row = m(p)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * row(d); d += 1 }
      if (dot > 0.0) sketch |= (1 << p)
      p += 1
    }
    sketch
  }

  /** Deterministic random-hyperplane sign sketch: bit p of the sketch is 1
    * iff Σ_d (±1 from xxhash64(p,d) parity) · v[d] > 0. `bits` ≤ 31.
    * Scala-loop UDF over the precomputed sign matrix. Null semantics match
    * the original in-plan expression exactly (spec-pinned): a null vec or a
    * null ELEMENT made every plane's dot null, and
    * `when(null > 0, 1).otherwise(0)` zeroed every bit → sketch 0 (the
    * outer transform ran over `sequence(0, bits-1)`, so even a null array
    * produced 0, not null). The ANN/dedup operators filter null vectors out
    * BEFORE sketching (see cleanVecs), so bucket 0 never fills with them.
    */
  def hyperplaneSketch(vec: Column, bits: Int): Column = {
    val f = udf((v: Seq[java.lang.Double]) =>
      if (v == null || v.contains(null)) 0
      else hyperplaneSketchScala(v.map(_.doubleValue).toArray, bits))
    f(vec.cast("array<double>"))
  }

  /** IVF-style ANN (inverted-file with a k-means coarse quantizer) — the
    * second scale path: the corpus is assigned once to its nearest centroid
    * (one shuffle on a small int key); each query probes only the `nProbe`
    * nearest cells. Centroids come from a deterministic Lloyd refinement over
    * a hash-uniform corpus sample (no RNG, reproducible, unbiased by id
    * layout — the quantizer must represent the whole corpus the way the
    * reference's model does by construction, predictor.go:28-34).
    *
    * At 10^12 rows the assignment is a broadcast-join scan (centroids are
    * tiny) and the probe-side join touches corpus/nCells per cell probed.
    */
  def ivfTopK(
      queries: DataFrame, qid: Column, qvec: Column,
      corpus: DataFrame, cid: Column, cvec: Column,
      k: Int, nCells: Int = 16, nProbe: Int = 3, iters: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = cleanVecs(
      corpus.select(cid.as("cid"), cvec.cast("array<double>").as("cvec")), "cvec")

    // --- deterministic coarse quantizer (driver-side Lloyd over a sample)
    // UNIFORM sample: the 4096 smallest xxhash64(cid) values — one
    // TakeOrderedAndProject (per-partition top-k, no extra count job, no full
    // shuffle), deterministic, and content/layout-INDEPENDENT. The previous
    // `orderBy(cid).limit(4096)` trained the quantizer on the 4096 smallest
    // ids; on a corpus where id order correlates with content (crawl order,
    // shard order, time) the centroids cover one corner of the embedding
    // space and probed queries silently lose recall at scale (invisible at
    // small SF — pinned by the adversarial cluster-ordered SimilaritySpec).
    val sample: Array[(Long, Array[Double])] =
      c.orderBy(xxhash64(col("cid")), col("cid")).limit(4096)
        .as[(Long, Array[Double])].collect()
    if (sample.isEmpty) {
      // corpus empty (possibly emptied by cleanVecs on all-dirty vectors):
      // degrade to an empty result like bruteTopK/lshTopK, don't abort
      return queries.select(qid.as("qid"))
        .join(c.select(col("cid")), lit(false))
        .select(col("qid"), col("cid"), lit(0.0).as("sim"), lit(1).as("rank"))
        .where(lit(false))
    }
    val stride = math.max(1, sample.length / nCells)
    var centroids: Array[Array[Double]] =
      (0 until math.min(nCells, sample.length)).map(i => sample(i * stride % sample.length)._2).toArray
    def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue; var i = 0
      while (i < cs.length) {
        var d = 0.0; var j = 0
        while (j < v.length) { val x = v(j) - cs(i)(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head._2.length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { case (_, v) =>
        val n = nearest(v, centroids)
        counts(n) += 1
        var j = 0; while (j < v.length) { sums(n)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    val bCentroids = spark.sparkContext.broadcast(centroids)
    val cellOf = udf((v: Seq[Double]) => nearest(v.toArray, bCentroids.value))
    val probesOf = udf((v: Seq[Double]) => {
      val cs = bCentroids.value
      val arr = v.toArray
      cs.indices.map { i =>
        var d = 0.0; var j = 0
        while (j < arr.length) { val x = arr(j) - cs(i)(j); d += x * x; j += 1 }
        (d, i)
      }.sorted.take(nProbe).map(_._2)
    })

    val assigned = c.withColumn("cell", cellOf(col("cvec")))
    val q = cleanVecs(
      queries.select(qid.as("qid"), qvec.cast("array<double>").as("qvec")), "qvec")
      .withColumn("cell", explode(probesOf(col("qvec"))))
    val pairs = assigned.join(Broadcasts.ifFits(q), Seq("cell"))
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
    topK(pairs
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("sim"))
      .dropDuplicates("qid", "cid"), k)
  }

  /** LSH-bucketed ANN: corpus and queries sketched with `bits` hyperplanes;
    * candidates share a bucket (multi-probe: exact bucket plus all 1-bit
    * flips, recovering near misses); exact cosine re-rank, top-k.
    */
  def lshTopK(
      queries: DataFrame, qid: Column, qvec: Column,
      corpus: DataFrame, cid: Column, cvec: Column,
      k: Int, bits: Int = 12, excludeSelf: Boolean = true): DataFrame = {
    val c = cleanVecs(corpus.select(cid.as("cid"), cvec.as("cvec")), "cvec")
      .withColumn("bucket", hyperplaneSketch(col("cvec"), bits))
    // multi-probe: query probes its own bucket and each 1-bit neighbor
    val q = cleanVecs(queries.select(qid.as("qid"), qvec.as("qvec")), "qvec")
      .withColumn("qsketch", hyperplaneSketch(col("qvec"), bits))
      .select(col("qid"), col("qvec"), explode(multiProbe(col("qsketch"), bits)).as("bucket"))
    val pairs = c.join(Broadcasts.ifFits(q), Seq("bucket"))
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
    topK(pairs.select(
      col("qid"), col("cid"),
      cosine(col("qvec"), col("cvec")).as("sim"))
      .dropDuplicates("qid", "cid"), k)
  }
}
