package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{cosineSimilarityF, r4}

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — the vector-similarity primitive grown from the
  * reference's embed-cosine metric (SURVEY.md §2.9 M3, §7.4.8).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus, rank per query. Correctness baseline; linear
  *    scan of the corpus, never quadratic.
  *  - [[lshTopK]]: sign-random-projection LSH — bucket both sides on the
  *    hyperplane sign bits, join within buckets (with multi-probe via
  *    several tables), rerank exactly inside buckets. The 100 TB path:
  *    candidate generation is an equi-join on compact keys.
  */
object Similarity {

  /** Fail-loudly cap on the broadcast query side of the exact-scan family
    * — the [[Pq.ivfPqSearch]] `maxQueries` contract applied to
    * [[bruteForceTopK]] / [[hardNegatives]] / [[mmrTopK]]: an exact scan
    * is O(|corpus| x |queries|) flops and the query side is BROADCAST, so
    * an unbounded query table would go quadratic (and blow the broadcast)
    * SILENTLY. `limit(cap+1).count()` short-circuits, so the check costs
    * one bounded job, never a full scan of a large query table.
    */
  private[operators] def requireQueryCap(queries: DataFrame, maxQueries: Int,
      op: String): Unit = {
    require(maxQueries >= 1, s"maxQueries must be >= 1: $maxQueries")
    // maxQueries = Int.MaxValue (cap effectively off) must not overflow
    // the +1 into a negative limit
    val lim = if (maxQueries == Int.MaxValue) Int.MaxValue else maxQueries + 1
    val n = queries.limit(lim).count()
    require(n <= maxQueries,
      s"$op: query set exceeds maxQueries=$maxQueries — the exact scan is" +
        " O(|corpus| x |queries|) with a broadcast query side; for large" +
        " query sets use the ANN paths (lshTopK / ivfTopK / Pq.ivfPqSearch)" +
        " or chunk the queries; raise maxQueries only deliberately")
  }

  /** Exact cosine top-k neighbors for each query vector.
    * `queries`: (query_id, embedding); `corpus`: (vec_id, embedding).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      maxQueries: Int = 100000): DataFrame = {
    requireQueryCap(queries, maxQueries, "bruteForceTopK")
    bruteForceTopKUnchecked(corpus, queries, k)
  }

  private def bruteForceTopKUnchecked(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{vecDotF, vecNormF}
    // split cosine (see Dedup.embeddingCosinePairs): norms once per corpus
    // row / query row, dot per pair — bit-identical, a third of the flops
    val denom = col("norm_c") * col("norm_q")
    val scored = corpus.select(col("vec_id"), col("embedding").as("emb_c"),
        vecNormF(col("embedding")).as("norm_c"))
      .crossJoin(broadcast(
        queries.select(col("query_id"), col("embedding").as("emb_q"),
          vecNormF(col("embedding")).as("norm_q"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        r4(when(denom === 0.0, 0.0)
          .otherwise(vecDotF(col("emb_q"), col("emb_c")) / denom)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc) // deterministic ties
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SS11: MMR-diversified top-k retrieval (Carbonell & Goldstein 1998
    * applied to search): greedy rerank of the exact top-`shortlist` —
    * each pick maximizes λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s),
    * ties to the lowest vec_id — so near-duplicate hits stop crowding
    * out coverage (q8 applies the same principle to summary sentences;
    * this is the retrieval-side form).
    *
    * Exactness: both cosine tables ride the 4dp r4 snap, λ and (1−λ) are
    * computed ONCE in Scala and interpolated into the oracle as double
    * literals (1−0.7 is 0.30000000000000004 — a DECIMAL-parsing SQL
    * literal would diverge, the OracleSqlGen double-literal rule), and
    * the greedy argmax scans candidates in ascending vec_id with strict
    * `>` so ties resolve identically to the oracle's (score DESC, vec_id
    * ASC) rank.
    *
    * Scale shape: the shortlist is the bounded rerank set (the qz6b/ss8
    * discipline) — m rows and m² pair sims per query, computed
    * distributed; the greedy walk runs per query over collected
    * metadata-scale arrays (m=20 → 380 pair rows), never the corpus.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int = 20, lambda: Double = 0.7,
      maxQueries: Int = 100000): DataFrame = {
    import graft.functions.{r4, vecDotF, vecNormF}
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1: k=$k shortlist=$shortlist")
    require(lambda > 0 && lambda <= 1, s"lambda in (0,1]: $lambda")
    requireQueryCap(queries, maxQueries, "mmrTopK")
    val spark = corpus.sparkSession
    import spark.implicits._
    val top = Materialize(bruteForceTopKUnchecked(corpus, queries, shortlist)
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cosine"),
        col("embedding"), vecNormF(col("embedding")).as("norm")))
    val a = top.select(col("query_id"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = top.select(col("query_id"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val denom = col("na") * col("nb")
    // a < b once per unordered pair — cosine is symmetric, so the (b, a)
    // half would double both the dot products and the collected payload
    val pairs = a.join(b, Seq("query_id")).filter(col("a") < col("b"))
      .select(col("query_id"), col("a"), col("b"),
        r4(when(denom === 0.0, 0.0)
          .otherwise(vecDotF(col("ea"), col("eb")) / denom)).as("cs"))
    val packed = top.groupBy(col("query_id"))
      .agg(collect_list(struct(col("vec_id"), col("cosine"))).as("cands"))
      .join(pairs.groupBy(col("query_id"))
        .agg(collect_list(struct(col("a"), col("b"), col("cs"))).as("sims")),
        Seq("query_id"), "left")
    val lam = lambda
    val oneMinusLam = 1.0 - lambda // ONE subtraction, shared with the oracle
    packed
      .select(col("query_id"), col("cands"), col("sims"))
      .as[(Long, Seq[(Long, Double)], Option[Seq[(Long, Long, Double)]])]
      .flatMap { case (qid, cands, simsOpt) =>
        val sims = simsOpt.getOrElse(Seq.empty)
          .map { case (x, y, c) => (x, y) -> c }.toMap
        def sim(x: Long, y: Long): Double =
          sims.getOrElse(if (x < y) (x, y) else (y, x), 0.0)
        val remaining = scala.collection.mutable.TreeMap.empty[Long, Double]
        cands.foreach { case (id, cq) => remaining.update(id, cq) }
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = Seq.newBuilder[(Long, Int, Long, Double)]
        var rank = 1
        var exhausted = false
        while (rank <= k && remaining.nonEmpty && !exhausted) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          remaining.foreach { case (id, cq) => // ascending id: ties -> lowest
            val red =
              if (picked.isEmpty) 0.0
              else picked.iterator.map(s => sim(id, s)).max
            val score = lam * cq - oneMinusLam * red
            if (score > bestScore) { bestScore = score; bestId = id }
          }
          // no finite-scored candidate left (NaN cosines): stop, never
          // emit the -1 sentinel
          if (bestId < 0) exhausted = true
          else {
            out += ((qid, rank, bestId, bestScore))
            picked += bestId
            remaining.remove(bestId)
            rank += 1
          }
        }
        out.result()
      }
      .toDF("query_id", "rank", "vec_id", "mmr_score")
      .drop("mmr_score") // discrete picks are the contract; scores are
                         // derivable from the oracled cosine tables
  }

  /** Mean-center an embedding column — step 1 of All-but-the-top (Mu &
    * Viswanath 2018), the standard fix for ANISOTROPIC embeddings
    * (pooled transformer vectors concentrate in a narrow cone, so raw
    * cosines are uniformly high and thresholds stop discriminating —
    * measured on this repo's tx embeddings: 27% of ALL doc pairs above
    * cosine 0.93 before centering, see ProbeDd13 / SCALE.md). Centering
    * subtracts the corpus mean so cosine measures direction AROUND the
    * cone axis.
    *
    * Exactness: per-dim means are decimal-exact sums (summation-order-
    * proof) divided as doubles; the subtraction re-rounds to FLOAT so
    * the centered corpus drops into the float-array ANN family
    * (brute/LSH/IVF/PQ) unchanged — and the whole transform is
    * SQL-replayable, so queries over centered tables keep full oracles.
    *
    * Scale shape: one partial-aggregated per-dim mean (dim rows), one
    * broadcast of the dim-length mean vector, one map-side zip_with —
    * the corpus is scanned twice and shuffled only by the dim-row agg.
    */
  def centerEmbeddings(emb: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val mu = emb
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      // float -> double -> decimal: the q1 exactSum convention's input
      // domain (double→decimal parity is what the oracles validated)
      .agg((sum(col("x").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(38, 10)))
        .cast("double") / count(lit(1))).as("mu"))
    val muArr = mu.agg(
      transform(array_sort(collect_list(struct(col("i"), col("mu")))),
        s => s.getField("mu")).as("__muv"))
    emb.crossJoin(broadcast(muArr))
      .withColumn(vecCol,
        zip_with(col(vecCol), col("__muv"),
          (x, m) => (x.cast("double") - m).cast("float")))
      .drop("__muv")
  }

  /** SS9: hard-negative mining for contrastive training — per query, the
    * top-k highest-cosine corpus items with a DIFFERENT label (Karpukhin
    * et al. 2020's hard negatives), excluding candidates at or above
    * `denoiseCosine`: a different-label item nearly identical to the
    * query is overwhelmingly a labeling error — a FALSE negative — and
    * training on it poisons the contrastive loss (RocketQA's denoising
    * rule, Qu et al. 2021). Inputs carry (vec_id|query_id, embedding,
    * label).
    *
    * Scale shape: the ss1 broadcast-query contract (queries are
    * metadata-scale; the corpus scans once, map-side), split cosine
    * (norms once per row, dot per pair), 4dp snap, per-query top-k via a
    * query-partitioned window over the label-filtered candidates. Every
    * step is SQL-replayable, so the mined triplets carry a full oracle.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      denoiseCosine: Double, maxQueries: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{vecDotF, vecNormF}
    require(k >= 1, s"k must be >= 1: $k")
    requireQueryCap(queries, maxQueries, "hardNegatives")
    val denom = col("norm_c") * col("norm_q")
    val scored = corpus.select(col("vec_id"), col("label").as("c_label"),
        col("embedding").as("emb_c"), vecNormF(col("embedding")).as("norm_c"))
      .crossJoin(broadcast(
        queries.select(col("query_id"), col("label").as("q_label"),
          col("embedding").as("emb_q"), vecNormF(col("embedding")).as("norm_q"))))
      .filter(col("vec_id") =!= col("query_id") &&
        col("c_label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"),
        r4(when(denom === 0.0, 0.0)
          .otherwise(vecDotF(col("emb_q"), col("emb_c")) / denom)).as("cosine"))
      .filter(col("cosine") < denoiseCosine)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select("query_id", "neg_rank", "vec_id", "cosine")
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim): hash-derived value in [-1, 1). Seeds are static so plans are
    * reproducible across runs and engines.
    */
  private[graft] def planeComponent(table: Int, plane: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.caseClassHash((table, plane, d))
    (h.toDouble / Int.MaxValue)
  }

  /** All `tables` sign-LSH bucket keys in one pass over the vector. A UDF
    * (not an unrolled Column expression): the unrolled form is
    * dim x planes x tables ~ 6k expression nodes per side, which bloats the
    * plan to tens of MiB of task binary and dominates wall time with
    * codegen; the UDF closure carries the hyperplanes as one small array.
    */
  private def lshKeysUdf(dim: Int, tables: Int, planes: Int) = {
    val hp = Array.tabulate(tables, planes, dim)((t, p, d) => planeComponent(t, p, d))
    udf { (emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = emb.toArray
        val n = math.min(dim, v.length)
        Array.tabulate(tables) { t =>
          var key = 0L
          var p = 0
          while (p < planes) {
            var dot = 0.0
            var d = 0
            while (d < n) { dot += v(d) * hp(t)(p)(d); d += 1 }
            if (dot >= 0) key |= (1L << p)
            p += 1
          }
          key
        }
      }
    }
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign-projection
    * tables of `planes` bits each; candidates = bucket collisions in any
    * table; exact cosine rerank inside candidates.
    *
    * `multiProbe1` additionally probes, PER QUERY, every bucket whose key
    * differs from the query's in one bit (1+planes probes per table) —
    * query-side only, so the corpus index stays one row per (vector,
    * table). Standard multiprobe LSH: near-miss sign flips are the dominant
    * failure mode when the neighbor angle is wide, and probing the Hamming-1
    * shell recovers most of them for a planes-fold probe cost that is
    * amortized over |corpus|/2^planes bucket sizes. Defaults (8 planes,
    * 16 tables, multiprobe on) are the measured operating point on the
    * synthetic corpus — see ss2_recall and SCALE.md (the corpus is an LSH
    * worst case: near-uniform vectors, top-5 neighbor cosines 0.25-0.42).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      tables: Int = 16, planes: Int = 8, multiProbe1: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = lshBucketed(corpus.select(col("vec_id"), col("embedding")),
      dim, tables, planes)
    val q = lshBucketed(queries.select(col("query_id"), col("embedding")),
      dim, tables, planes, probe1Bit = if (multiProbe1) Some(planes) else None)
      .withColumnRenamed("embedding", "emb_q")
    val cands = c.join(q, Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("emb_q"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cands
      .select(col("query_id"), col("vec_id"),
        r4(cosineSimilarityF(col("emb_q"), col("embedding"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Explode each row into its `tables` LSH bucket rows (all input columns
    * kept + `tbl`/`bkt`) — shared by the approximate top-k search and the
    * near-dup prefilter ([[graft.operators.Dedup.embeddingCosinePairsLsh]]).
    * With `probe1Bit = Some(planes)` each (tbl, key) additionally emits the
    * `planes` Hamming-1 neighbor keys (query-side multiprobe).
    */
  private[graft] def lshBucketed(df: DataFrame, dim: Int,
      tables: Int, planes: Int, vecCol: String = "embedding",
      probe1Bit: Option[Int] = None): DataFrame = {
    val keysOf = lshKeysUdf(dim, tables, planes)
    val base = df.select(col("*"), posexplode(keysOf(col(vecCol))).as(Seq("tbl", "bkt")))
    probe1Bit.fold(base) { p =>
      base.select(col("*"),
          explode(concat(array(col("bkt")),
            transform(sequence(lit(0), lit(p - 1)),
              b => col("bkt").bitwiseXOR(pow(lit(2.0), b).cast("long"))))).as("bkt_p"))
        .drop("bkt").withColumnRenamed("bkt_p", "bkt")
    }
  }

  private[operators] def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    i = 0
    while (i < a.length) { val v = a(i).toDouble; na += v * v; i += 1 }
    i = 0
    while (i < b.length) { val v = b(i).toDouble; nb += v * v; i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Nearest-centroid assignment UDF (cosine, ties to the lowest cell id) —
    * shared by IVF search and [[Clustering]]. The centroid index ships as a
    * `SparkContext.broadcast` (one copy per executor over the torrent
    * protocol), NOT closure capture (re-serialized with every task binary —
    * ~200 MB per task batch at the 65536-cell clamp with d=768); the UDF
    * closure carries only the broadcast handle. Assignment itself is the
    * coarse-pruned two-level search of [[CentroidIndex]] — O(√k·d) typical
    * per row instead of the flat O(k·d) scan, with a conservative bound
    * that makes the result provably identical to the flat scan.
    */
  /** `assignGroups = 0` (default) keeps the provably-exact search;
    * `> 0` caps the per-row scan at that many coarse groups
    * ([[CentroidIndex.searchApprox]] — the ANN-assisted assignment for
    * auto-k clustering, where exact assignment is the measured O(n·k)
    * scale wall).
    */
  private[operators] def bestCellUdf(spark: org.apache.spark.sql.SparkSession,
      cs: Array[Array[Float]], assignGroups: Int = 0) = {
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cs))
    val g = assignGroups
    udf { (emb: Seq[Float]) =>
      if (emb == null) -1
      else if (g > 0) bc.value.searchApprox(emb.toArray, 1, g)(0)
      else bc.value.search(emb.toArray, 1)(0)
    }
  }

  /** Top-`n` nearest-centroid assignment UDF (cosine, deterministic
    * tie-break by cell id) — the multi-assignment form behind SemDeDup's
    * boundary recovery ([[Clustering.semDedupPairs]] `nAssign`): a vector
    * near a centroid boundary belongs to both cells, the same near-miss
    * fix as [[lshTopK]]'s multiprobe shell. Broadcast + two-level pruned,
    * like [[bestCellUdf]].
    */
  private[operators] def bestCellsUdf(spark: org.apache.spark.sql.SparkSession,
      cs: Array[Array[Float]], n: Int, assignGroups: Int = 0) = {
    val bc = spark.sparkContext.broadcast(CentroidIndex.build(cs))
    val g = assignGroups
    udf { (emb: Seq[Float]) =>
      if (emb == null) Array.empty[Int]
      else if (g > 0) bc.value.searchApprox(emb.toArray, n, g)
      else bc.value.search(emb.toArray, n)
    }
  }

  /** Deterministic cosine k-means training (seeding by lowest vec_id,
    * `iterations` Lloyd rounds run as DataFrame jobs) — the coarse
    * quantizer behind [[ivfTopK]] and the cluster model behind
    * [[Clustering]]. Training runs on a deterministic 1/trainSampleMod
    * sample (vec_id mod — stable across runs and partitionings). At corpus
    * scale this is how such models are always built: Lloyd rounds over the
    * full 100 TB corpus would cost a full scan per iteration for centroids
    * whose quality saturates on a small sample.
    *
    * Centroids are metadata-scale (nCells x dim doubles) and travel in UDF
    * closures; the corpus itself is never collected. Per Lloyd round the
    * driver collects exactly nCells mean vectors (decimal-exact elementwise
    * means, so centroid evolution is partition-order-deterministic).
    */
  /** Absolute ceiling on Lloyd training vectors. `trainSampleMod` is a
    * FRACTION knob, so at corpus scale the training set would grow with n
    * and dominate (the 100x probe measured training+assignment at the
    * n^1.5 transitional curve — SCALE.md §scale-probe-100x). Lloyd quality
    * needs a bounded number of points per centroid, not a corpus fraction:
    * past the ceiling the modulus is raised deterministically (still keyed
    * on vec_id — layout/retry-independent), capping training cost at
    * ceiling·√k regardless of n. 2^20 ≈ 16 points/centroid at the 65536-cell
    * clamp, and far more below it.
    */
  private[operators] val MaxTrainVectors: Long = 1L << 20

  /** `assignGroups > 0` caps the Lloyd rounds' per-row assignment scan at
    * that many coarse groups (the same ANN-assist as the final
    * assignment — each Lloyd round IS an assignment pass, so at auto-k
    * the training rounds hit the same O(n·k) wall).
    */
  private[operators] def trainKmeans(corpus: DataFrame, nCells: Int,
      iterations: Int, trainSampleMod: Int = 1,
      knownCount: Option[Long] = None,
      assignGroups: Int = 0): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(nCells > 0 && iterations >= 0 && trainSampleMod >= 1)
    // Ceiling decision from ONE corpus count — `knownCount` lets auto-k
    // callers reuse the count resolveK already ran, so the default
    // clustering path never pays a second scan just to size training.
    // Expected training rows are n/mod (integer div — deterministic);
    // past the ceiling the modulus is raised, still keyed on vec_id.
    val n = knownCount.getOrElse(corpus.count())
    val expectTrain = n / trainSampleMod
    val mod: Long =
      if (expectTrain <= MaxTrainVectors) trainSampleMod.toLong
      else trainSampleMod.toLong *
        ((expectTrain + MaxTrainVectors - 1) / MaxTrainVectors)
    // a null embedding among the lowest-id seeds would NPE centroid
    // construction (found by the hostile sweep) — train on real rows only
    val nonNull = corpus.filter(col("embedding").isNotNull)
    // The training sample is BOUNDED (<= MaxTrainVectors rows), and the
    // seed scan plus every Lloyd round re-reads it — persist once so
    // training pays ONE corpus scan instead of (1 + iterations): at 100 TB
    // each avoided scan is a full pass over the corpus just to re-apply
    // the sample filter. Unpersisted before returning; same rows either
    // way, so centroid evolution is unchanged.
    val train = (
      if (mod == 1L) nonNull
      else nonNull.filter(pmod(col("vec_id"), lit(mod)) === 0))
      .select(col("vec_id"), col("embedding"))
      .persist()
    try {
      var centroids: Array[Array[Float]] = train
        .orderBy(col("vec_id")).limit(nCells)
        .as[(Long, Array[Float])].collect().map(_._2)

      for (_ <- 0 until iterations) {
        // Two selects, NOT one: a single select(udf(...), posexplode(...))
        // analyzes to Project(udf) ABOVE the Generate, so the centroid
        // search would run once per exploded ELEMENT — a silent dim-times
        // amplification (measured: the whole Lloyd-round CPU at d=64;
        // 768x at production dims). Assigning the cell in its own select
        // keeps the UDF below the Generate: once per vector.
        val means = train
          .select(bestCellUdf(spark, centroids, assignGroups)(
            col("embedding")).as("cell"), col("embedding"))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg((graft.functions.exactSum(col("x")) / count(lit(1))).as("m"))
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
            s => s.getField("m").cast("float")).as("centroid"))
          .as[(Int, Array[Float])].collect().toMap
        centroids = Array.tabulate(centroids.length)(c =>
          means.getOrElse(c, centroids(c))) // empty cells keep their centroid
      }
      centroids
    } finally train.unpersist(blocking = false)
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * [[lshTopK]]: a coarse quantizer ([[trainKmeans]]) partitions the
    * corpus into `nCells` cells; each query probes its `nProbe` nearest
    * centroids and reranks exactly within those cells only — the scanned
    * fraction is ~nProbe/nCells of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 6, iterations: Int = 2,
      trainSampleMod: Int = 1): DataFrame = {
    require(nCells > 0 && nProbe > 0 && nProbe <= nCells)
    val centroids = trainKmeans(corpus, nCells, iterations, trainSampleMod)
    ivfSearch(ivfAssign(corpus, centroids), centroids, queries, k, nProbe)
  }

  /** The corpus half of an IVF index — each vector with its precomputed
    * norm and nearest-centroid cell (the "inverted file"). Split out of
    * [[ivfTopK]] so the assignment can be built ONCE and persisted
    * ([[saveIvfIndex]]): at corpus scale the index outlives any single
    * query batch, and reloading it skips both retraining and the full
    * reassignment scan.
    */
  def ivfAssign(corpus: DataFrame, centroids: Array[Array[Float]],
      assignGroups: Int = 0): DataFrame = {
    import graft.functions.vecNormF
    corpus.select(col("vec_id"), col("embedding").as("emb_c"),
      vecNormF(col("embedding")).as("norm_c"),
      bestCellUdf(corpus.sparkSession, centroids, assignGroups)(
        col("embedding")).as("cell"))
  }

  /** Serve approximate top-k from a prebuilt IVF index ([[ivfAssign]]
    * output + centroid model): each query probes its `nProbe` nearest
    * centroids and reranks exactly within those cells.
    */
  def ivfSearch(cells: DataFrame, centroids: Array[Array[Float]],
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbe > 0 && nProbe <= centroids.length)
    val spark = cells.sparkSession
    // query-side probe = the same two-level top-n search as assignment
    val probeUdf = bestCellsUdf(spark, centroids, nProbe)
    import graft.functions.{r4, vecDotF, vecNormF}
    val probes = queries.select(col("query_id"), col("embedding").as("emb_q"),
      vecNormF(col("embedding")).as("norm_q"),
      explode(probeUdf(col("embedding"))).as("cell"))
    val denom = col("norm_c") * col("norm_q")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        r4(when(denom === 0.0, 0.0)
          .otherwise(vecDotF(col("emb_q"), col("emb_c")) / denom)).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Train the coarse quantizer and build the inverted file in one call —
    * the index-construction half of the lifecycle (see [[saveIvfIndex]]).
    */
  /** `assignGroups > 0` = ANN-assisted training AND assignment (the
    * [[CentroidIndex.searchApprox]] bound) — the knob for index builds at
    * cell counts where exact assignment is the measured O(n·k) wall; an
    * approximately-assigned inverted file only shifts boundary vectors to
    * a neighboring cell, which nProbe > 1 search absorbs the same way it
    * absorbs centroid drift.
    */
  def buildIvfIndex(corpus: DataFrame, nCells: Int = 16, iterations: Int = 2,
      trainSampleMod: Int = 1,
      assignGroups: Int = 0): (DataFrame, Array[Array[Float]]) = {
    val cs = trainKmeans(corpus, nCells, iterations, trainSampleMod,
      assignGroups = assignGroups)
    (ivfAssign(corpus, cs, assignGroups), cs)
  }

  /** SS7: persist an IVF index — the centroid model (nCells rows) and the
    * inverted file (one row per corpus vector) as two parquet tables. The
    * index-lifecycle half of the ANN story: train/assign once over the
    * corpus, store, then serve arbitrarily many query batches from the
    * loaded index. Floats round-trip parquet exactly, so a loaded index
    * serves bit-identical results to the freshly built one (pinned by the
    * ss7 gate query and RecallSpec).
    */
  def saveIvfIndex(cells: DataFrame, centroids: Array[Array[Float]],
      dir: String): Unit = {
    val spark = cells.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    cells.write.mode("overwrite").parquet(s"$dir/cells")
  }

  /** SS7b: incremental index append — assign a batch of NEW vectors
    * against the FROZEN centroid model and union them into the inverted
    * file. This is the index-maintenance half of the lifecycle: at corpus
    * scale an append re-assigns only the delta (one map-only pass over
    * the new batch), never retrains or rescans the existing corpus, and
    * because assignment is a pure function of (vector, centroids) the
    * appended index is row-identical to one built from scratch with the
    * same model (pinned by ss7b's gate). Centroid drift from skewed
    * appends is a REBUILD decision, not an append-time one — the standard
    * IVF production trade (FAISS add vs train).
    */
  def ivfAppend(index: DataFrame, centroids: Array[Array[Float]],
      newVectors: DataFrame): DataFrame =
    index.unionByName(ivfAssign(newVectors, centroids))

  /** Load a persisted IVF index: (inverted file, centroid model). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Array[Array[Float]]) = {
    import spark.implicits._
    val cs = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cell")).as[(Int, Array[Float])].collect().map(_._2)
    (spark.read.parquet(s"$dir/cells"), cs)
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists (Cormack et al.
    * 2009) — the standard hybrid-retrieval combiner: fused score =
    * Σ_lists 1/(kRrf + rank), summed over the lists that returned the
    * item; output the top `k` per query by fused score (ties to the lower
    * id). The canonical use is dense (embedding top-k) + lexical (BM25)
    * — RRF needs no score calibration between the two, only ranks, which
    * is exactly why it is the production default for hybrid search.
    *
    * Inputs are two (query_id, `idCol`, rank) tables. Exactness: each
    * reciprocal is one IEEE division on integer inputs and the fusion is
    * one addition on a full-outer join (never an aggregation), so there
    * is no summation-order hazard at all; the oracle matches bit-for-bit
    * whenever the input rank lists do. Plan: one equi-join on (query_id,
    * id) + a per-query window — trivially cheap next to the retrieval
    * passes that feed it.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && kRrf >= 0)
    def side(df: DataFrame, r: String) =
      df.select(col("query_id"), col(idCol), col("rank").cast("int").as(r))
    side(a, "rank_a").join(side(b, "rank_b"), Seq("query_id", idCol), "full_outer")
      .select(col("query_id"), col(idCol),
        // 0 = absent from that list (ranks start at 1) — keeps the
        // provenance columns non-null for downstream hashing/compares
        coalesce(col("rank_a"), lit(0)).as("rank_a"),
        coalesce(col("rank_b"), lit(0)).as("rank_b"),
        round(coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)), 9)
          .as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Recall@k of an approximate top-k result against the exact baseline —
    * the quantitative check every ANN path needs (an LSH/IVF parameter
    * regression silently passes any "finds the identical vector" test).
    * Inputs are two (query_id, vec_id, ...) top-k results; output one row
    * per query: (query_id, n_exact, n_hit, recall). Joins on the compact
    * (query_id, vec_id) keys only — never touches vectors, so measuring
    * recall costs one small join however large the corpus scan behind the
    * inputs was.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"))
      .withColumn("recall", r4(col("n_hit") / col("n_exact")))

  /** Pair-recall of an approximate near-dup pair set against the exact
    * all-pairs baseline: one row (n_exact, n_approx, n_hit, recall). Both
    * inputs are (id_a, id_b, ...) with id_a < id_b. Same compact-key join
    * shape as [[recallAtK]].
    */
  def pairRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hits = exact.select(col("id_a"), col("id_b"))
      .join(approx.select(col("id_a"), col("id_b"), lit(1).as("hit")),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"))
    hits.crossJoin(broadcast(approx.agg(count(lit(1)).as("n_approx"))))
      .select(col("n_exact"), col("n_approx"),
        col("n_hit"), r4(col("n_hit") / col("n_exact")).as("recall"))
  }
}
