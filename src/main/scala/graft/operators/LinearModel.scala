package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.exactSum

/** Trained linear text classifier — hashed-feature ridge regression fit by
  * conjugate gradient on the normal equations, the quality-filter shape of
  * large-corpus curation (CCNet's fastText LM filter, DCLM's fastText
  * quality classifier: bootstrap a cheap linear model from rule or source
  * labels, then score the whole corpus with one map-only pass).
  *
  * Design for 100 TB and for the oracle at once:
  *  - FEATURES are hashed binary token presence (md5 60-bit buckets, the
  *    [[graft.operators.Dedup]] / ta16 / cur2 hash convention) — map-only,
  *    bit-identical in Spark and DuckDB, and the fixed bucket count `k`
  *    makes every model object metadata-scale.
  *  - TRAINING is conjugate gradient on (XᵀX/n + λI)w = Xᵀy/n. Each CG
  *    iteration is ONE aggregation pass over the feature table (q = Xp
  *    folded per doc row, s = Xᵀq grouped by bucket) — the
  *    one-scan-per-step shape distributed linear solvers actually use
  *    (LSQR/CG, e.g. Spark MLlib's normal-equation ridge) — and converges
  *    in ~√κ iterations,
  *    measured exact on the registered corpus by iteration 6. Gradient
  *    descent at the same operating point needs hundreds of passes
  *    (measured; the tf-feature conditioning is that poor), which is the
  *    difference between 16 corpus scans and 500 at 100 TB.
  *  - DETERMINISM is total: every distributed sum is a fixed-point decimal
  *    ([[graft.functions.exactSum]] — exact, associative, partition-order
  *    free), every driver-side dot product quantizes through the same
  *    decimal(38,10) grid, and CG itself is division/multiply/add — no
  *    transcendentals anywhere (the reason this trainer's every iteration
  *    can be replayed in oracle SQL, where a logistic loss' exp() has no
  *    cross-engine bit contract).
  *
  * The weight vector (k buckets + bias) is the model; it rides a literal
  * column into the scoring pass, so serving is one map-only scan.
  */
object LinearModel {

  // compiled once — localScorer runs per row in the stream_classify_lr UDF
  private val wsSplitRe = java.util.regex.Pattern.compile("\\s+")

  /** Hashed binary presence features as one per-doc DISTINCT bucket
    * ARRAY `bs`: the buckets present in the doc's whitespace-lowercased
    * token stream, bucket = first 60 bits of md5("b:" ++ token) mod k —
    * positive, so the modulus agrees across engines. Binary presence
    * (not tf) is the measured conditioning fix: tf scales each signal
    * token by 1/|doc|, which pushes the ridge optimum toward the prior
    * and needs hundreds of GD passes to escape; presence features put
    * every token vote at unit scale. Map-only: array_distinct over each
    * row's own tokens, no corpus-wide shuffle (guide §2.4).
    */
  def hashedPresenceArrays(docs: DataFrame, k: Int, textCol: String = "text")
      : DataFrame = {
    require(k >= 2 && k <= (1 << 20), s"bucket count out of range: $k")
    docs.select(col("doc_id"),
      array_distinct(transform(
        split(lower(trim(col(textCol))), "\\s+"),
        t => (conv(substring(md5(concat(lit("b:"), t)), 1, 15), 16, 10)
          .cast("long") % k).cast("int"))).as("bs"))
  }

  /** The k bucket weights on the decimal(38,10) grid as UNSCALED longs
    * (HALF_UP) — the one rounding both scorers ride. `valueOf`, NOT
    * `new BigDecimal(v)`: Spark's double->decimal cast goes through the
    * SHORTEST string representation (BigDecimal.valueOf), while the
    * exact binary expansion can land on the other side of a .5 rounding
    * boundary (1.5e-10 rounds to 2e-10 one way, 1e-10 the other).
    * Deliberately a LOUD guard (r14 advice weighed a silent fallback): a
    * CG run whose weights overflow the exact-long fold bound has
    * diverged — failing here names the defect instead of serving an
    * extreme-but-plausible score.
    */
  private def gridWeights(weights: Array[Double]): Array[Long] = {
    val k = weights.length - 1
    val unscaled = weights.take(k).map(v =>
      java.math.BigDecimal.valueOf(v)
        .setScale(10, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact())
    val bound = (1L << 52) / math.max(1, k)
    require(unscaled.forall(u => math.abs(u) <= bound),
      s"foldWeights: weight magnitude exceeds the exact-long fold bound " +
        s"(max |w| ~ ${bound / 1e10} at k=$k)")
    unscaled
  }

  /** The decimal(38,10)-grid weight sum over a per-doc bucket array, as a
    * single codegen expression with no Exchange. The grid ride is
    * INTEGER: each weight is pre-rounded on the driver to its unscaled
    * long ([[gridWeights]]), the fold adds longs (exact, and immune to
    * Spark's decimal-Add precision-loss rescale, which would quietly move
    * (38,10)+(38,10) onto a (38,9) grid), and the final unscaled→double
    * division is correctly rounded — identical bits to
    * decimal(38,10).cast(double) while |sum| < 2^53, which the magnitude
    * guard enforces. The bias is added after in double; a null `bs`
    * (null text) folds as the empty bucket set (score = bias).
    */
  private def foldWeights(bs: Column, weights: Array[Double]): Column = {
    val wArr: Column = array(gridWeights(weights).map(lit(_)): _*)
    (aggregate(coalesce(bs, array().cast("array<int>")), lit(0L),
      (acc, b) => acc + element_at(wArr, b + 1))
      .cast("double") / lit(1.0e10)) + weights(weights.length - 1)
  }

  /** Driver-side dot product on the decimal(38,10) grid — each elementwise
    * product rounds to 10 decimal places (HALF_UP, the Spark cast-to-
    * decimal convention exactSum rides), then sums exactly. Mirrors the
    * oracle's SUM(CAST(a*b AS DECIMAL(38,10))) so the CG scalars are the
    * same doubles in both engines.
    */
  private[graft] def dotDec(a: Array[Double], b: Array[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < a.length) {
      acc = acc.add(new java.math.BigDecimal(a(i) * b(i))
        .setScale(10, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue
  }

  /** Ridge weights by `iterations` CG steps from w=0 over
    * [[hashedPresenceArrays]] features. Returns k bucket weights plus the
    * bias at index k. `labels` must be (doc_id, y) with y ∈ {−1, +1} (the
    * ±1 coding makes the intercept the class prior and the decision
    * threshold exactly 0). α/β guard their zero denominators to 0, so an
    * exactly-converged (or degenerate) system idles instead of dividing
    * by zero — the oracle replays the same CASE. Fixed iteration count,
    * no data-dependent control flow: the whole trainer unrolls into
    * static SQL. Each iteration is ONE map-side-aggregated job
    * (guide §1.2/§2.4):
    *
    *  - the training table materializes ONCE as one row per labeled doc
    *    (bucket array + y) — no corpus-wide explode+distinct, no per-
    *    iteration re-join of features with labels;
    *  - q_d = Σ_{j∈d} p_j + bias is a per-row decimal fold (map-only);
    *  - the k bucket cells AND the bias cell of s = Xᵀq/n + λp come from
    *    one groupBy over the exploded cells — partial aggregation reduces
    *    each partition to ≤ k+1 rows before the only Exchange, so the
    *    shuffle is metadata-scale at any corpus size;
    *  - b = Xᵀy/n and n ride the same one-pass shape (sum + count per
    *    cell, divided on the driver).
    */
  def trainCgRidgeArrays(featsArr: DataFrame, labels: DataFrame, k: Int,
      iterations: Int = 8, lambda: Double = 0.01): Array[Double] = {
    require(iterations >= 1 && iterations <= 64, s"iterations: $iterations")
    require(lambda >= 0.0, s"lambda: $lambda")
    val spark = featsArr.sparkSession
    import spark.implicits._
    // one row per LABELED doc; a label with no feature row trains as an
    // empty bucket set (q = p_bias)
    val f = Materialize(labels
      .select(col("doc_id"), col("y").cast("double").as("y"))
      .join(featsArr.select(col("doc_id"), col("bs")), Seq("doc_id"), "left")
      .select(coalesce(col("bs"), array().cast("array<int>")).as("bs"),
        col("y")))

    // cells 0..k-1 = Σ y over docs containing the bucket; cell k (bias,
    // present once per doc) = Σ y over all docs and carries n = doc count
    val bCells = f
      .select(explode(concat(col("bs"), array(lit(k)))).as("cell"), col("y"))
      .groupBy(col("cell"))
      .agg(exactSum(col("y")).as("s"), count(lit(1)).as("c"))
      .as[(Int, Double, Long)].collect()
    val n = bCells.collectFirst { case (c, _, cnt) if c == k => cnt }
      .getOrElse(0L).toDouble
    require(n > 0, "trainCgRidgeArrays: empty label set")
    val bMap = bCells.map { case (c, s, _) => c -> s / n }.toMap
    val b = Array.tabulate(k + 1)(j => bMap.getOrElse(j, 0.0))

    val w = new Array[Double](k + 1)
    val r = b.clone()
    val p = b.clone()
    var rr = dotDec(r, r)
    for (_ <- 0 until iterations) {
      // q per doc (map-only fold), then every cell of s in one aggregate:
      // buckets get Σ q over containing docs, the bias cell Σ q over ALL
      val sCells = f
        .select(col("bs"), foldWeights(col("bs"), p).as("q"))
        .select(explode(concat(col("bs"), array(lit(k)))).as("cell"),
          col("q"))
        .groupBy(col("cell"))
        .agg((exactSum(col("q")) / n).as("v"))
        .as[(Int, Double)].collect().toMap
      val s = Array.tabulate(k + 1)(j =>
        sCells.getOrElse(j, 0.0) + lambda * p(j))
      val ps = dotDec(p, s)
      val alpha = if (ps == 0.0) 0.0 else rr / ps
      var j = 0
      while (j <= k) {
        w(j) = w(j) + alpha * p(j)
        r(j) = r(j) - alpha * s(j)
        j += 1
      }
      val rr2 = dotDec(r, r)
      val beta = if (rr == 0.0) 0.0 else rr2 / rr
      rr = rr2
      j = 0
      while (j <= k) { p(j) = r(j) + beta * p(j); j += 1 }
    }
    f.unpersist(blocking = false)
    w
  }

  /** Model as a DataFrame: (feature, weight) with feature k = the bias —
    * the persistable/inspectable form.
    */
  def weightsDf(spark: SparkSession, w: Array[Double]): DataFrame = {
    import spark.implicits._
    w.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toSeq
      .toDF("feature", "weight")
  }

  /** Executor-local per-doc scorer — the stateless-projection serving
    * form for STREAMS: tokenization (trim/lowercase/whitespace split),
    * the md5-60-bit bucket hash, per-bucket DISTINCT, and the
    * decimal(38,10)-grid weight sum ([[gridWeights]], bias added after)
    * replicate [[scoreArrays]]'s column expressions term for term, so a
    * stream scored row-by-row is hash-identical to the batch scores (the
    * stream_classify train-batch/score-stream invisibility contract).
    * Weights ride the closure — metadata-scale (k+1 numbers).
    */
  def localScorer(w: Array[Double]): String => Double = {
    val k = w.length - 1
    val unscaled = gridWeights(w)
    val bias = w(k)
    (text: String) => {
      val toks = wsSplitRe.split(text.trim.toLowerCase(java.util.Locale.ROOT))
      val md = java.security.MessageDigest.getInstance("MD5")
      val buckets = scala.collection.mutable.SortedSet.empty[Int]
      toks.foreach { t =>
        md.reset()
        val hex = md.digest(("b:" + t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        buckets += (java.lang.Long.parseLong(hex.take(15), 16) % k).toInt
      }
      var acc = 0L
      buckets.foreach(b => acc += unscaled(b))
      acc.toDouble / 1.0e10 + bias
    }
  }

  /** Score docs with a trained weight vector over [[hashedPresenceArrays]]
    * features: (doc_id, score, pred) where score = Σ_{j∈d} w_j + bias on
    * the decimal(38,10) grid and pred = 1 iff score ≥ 0. MAP-ONLY — the
    * doc's buckets already sit on its own row and the weights ride a
    * literal column, so serving is one scan, never a shuffle. Callers
    * filter `featsArr` to the doc set they want scored.
    */
  def scoreArrays(featsArr: DataFrame, w: Array[Double]): DataFrame =
    featsArr
      .select(col("doc_id"), foldWeights(col("bs"), w).as("score"))
      .select(col("doc_id"), col("score"),
        (col("score") >= 0.0).cast("int").as("pred"))
}
