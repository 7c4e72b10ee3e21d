package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.wordNgrams

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: none of these is a cross join. Exact dedup is one
  * hash-aggregate; MinHash-LSH and SimHash pair candidates through
  * band/bucket equi-joins (shuffle on small band keys, then verify within
  * buckets); n-gram Jaccard joins on shared shingles so only documents
  * sharing at least one shingle ever meet.
  *
  * Hash choice: shingle hashes are derived from md5 (available and
  * bit-identical in both Spark and DuckDB) so every operator here has an
  * exact SQL oracle.
  */
object Dedup {

  // compiled once — the shingle/window tokenizers run per row in UDFs
  private val wsSplitRe = java.util.regex.Pattern.compile("\\s+")

  /** First 60 bits of md5("s<seed>:" ++ s) as a long — bit-identical to
    * the SQL form `CAST(conv(substring(md5('s<seed>:' || s), 1, 15), 16,
    * 10) AS BIGINT)` (15 hex nibbles == first 8 digest bytes >>> 4) but
    * computed on raw digest bytes, skipping the hex-string render + base-16
    * reparse.
    */
  private def md5LongJvm(md: java.security.MessageDigest, seed: Int, s: String): Long = {
    md.reset()
    val d = md.digest(("s" + seed + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** All ordered pairs (i<j) from a sorted array column, expanded with
    * higher-order functions (stays in codegen; no UDF, no self-join). The
    * pair-generation pattern: bucket -> collect members -> local pair
    * expansion is ONE shuffle over the input, vs a self-join's two full
    * evaluations of the (expensive) upstream plus a distributed join.
    * Quadratic only in per-bucket membership — the same blow-up a
    * bucket-join would have, but without recomputing the inputs.
    */
  private[operators] def pairCombinations(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(
        slice(ids, i + 2, greatest(size(ids) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))

  /** Exact duplicate groups by full-text hash: returns one row per
    * duplicated text with the canonical (min) doc_id, the duplicate count
    * and the member ids. One hash-aggregate; at 100 TB this is the cheapest
    * possible dedup (map-side partial agg on md5(text)).
    */
  def exactDuplicates(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(
        min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("dup_count"),
        array_join(array_sort(collect_list(col("doc_id"))), ",").as("member_ids"))
      .filter(col("dup_count") > 1)

  /** MinHash signature as `numHashes` columns derived from word
    * `shingleSize`-grams: h_i = min over shingles of md5(seed_i || shingle).
    * Empty docs get null signatures.
    */
  def minhashSignature(docs: DataFrame, textCol: String, shingleSize: Int,
      numHashes: Int): DataFrame = {
    // One UDF pass computes every hash over every shingle. The equivalent
    // Column expression (numHashes x array_min(transform(shingles, md5 ->
    // hex -> conv))) produces identical values but renders a hex string and
    // reparses it base-16 per (shingle, hash) — measured ~10x slower on the
    // bench corpus. Semantics (and the DuckDB oracle) are unchanged:
    // h_i = min over distinct word-shingles of first-60-bits(md5("s<i>:" ++ s)).
    val n = shingleSize
    val sigUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val t = text.toLowerCase.trim
        val toks: Array[String] = if (t.isEmpty) Array.empty else wsSplitRe.split(t)
        val shingles: Iterator[String] =
          if (toks.isEmpty) Iterator.empty
          else if (toks.length < n) Iterator(toks.mkString(" "))
          else toks.sliding(n).map(_.mkString(" "))
        val distinct = shingles.toSet
        if (distinct.isEmpty) null
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val mins = Array.fill(numHashes)(Long.MaxValue)
          distinct.foreach { s =>
            var i = 0
            while (i < numHashes) {
              val v = md5LongJvm(md, i, s)
              if (v < mins(i)) mins(i) = v
              i += 1
            }
          }
          mins
        }
      }
    }
    docs.withColumn("sig", sigUdf(col(textCol)))
      .select(col("doc_id") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** Banding geometry from a target Jaccard threshold: among the (bands,
    * rows) factorizations of `nHashes`, pick the one whose s-curve
    * threshold `(1/b)^(1/r)` — the similarity at which a pair's any-band
    * collision probability crosses ~1/2 (Leskovec/Rajaraman/Ullman, MMDS
    * §3.4.3) — lands closest to `targetJaccard`. This is how the sharp
    * dd4c operating point (6×4 at threshold ~0.64) was chosen by hand;
    * exposing the rule makes the knob self-service: raise the target →
    * fewer, more-similar candidates; lower it → higher recall, more
    * verification work. Ties prefer more rows per band (the sharper,
    * cheaper-candidate side).
    */
  def lshGeometry(targetJaccard: Double, nHashes: Int): (Int, Int) = {
    require(targetJaccard > 0 && targetJaccard < 1 && nHashes >= 1,
      s"bad geometry inputs: t=$targetJaccard n=$nHashes")
    val opts = for (r <- 1 to nHashes if nHashes % r == 0)
      yield (nHashes / r, r)
    opts.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard), -r)
    }
  }

  /** MinHash + LSH near-duplicate candidate pairs: band the signature
    * (`bands` x `rowsPerBand` = numHashes), bucket-join on (band, band
    * hash), emit distinct candidate pairs (a < b). The join key space is
    * tiny (band id + hash), so this scales as a plain shuffle join — never
    * quadratic in corpus size, only in per-bucket collisions. Pick the
    * geometry from a similarity target with [[lshGeometry]].
    */
  def minhashLshPairs(docs: DataFrame, textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val bandRows = lshBandRows(docs, textCol, shingleSize, bands, rowsPerBand)
    val buckets = bandRows.groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // Hot-bucket cap (the standard LSH-at-scale guard): a bucket of m
    // members emits m^2/2 pairs, so one degenerate key (boilerplate band)
    // can dominate the whole job. Candidates from oversized buckets are
    // dropped — at real corpus scale those buckets hold near-universal
    // content whose pairs the other bands recover anyway. None = keep all
    // (the oracle-checked small-SF default).
    val capped = maxBucketSize.fold(buckets)(m => buckets.filter(size(col("ids")) <= m))
    capped
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** Long-format `(doc_id, band, band_key)` banding rows for a MinHash
    * signature — the shared front half of the LSH family (candidate pairs,
    * greedy dedup, the streaming ingest filter). ALL band keys come from
    * one projection + posexplode, not a `bands`-way union: each union
    * branch would re-run the whole signature subtree (shingling + md5
    * minhashes), multiplying the dominant cost by `bands` per consumer.
    *
    * Empty/whitespace-only docs have null signatures: drop them before
    * banding. concat_ws would otherwise skip the null parts and give every
    * empty doc the SAME md5("") band key — SQL NULL-key semantics never
    * join those rows, and at corpus scale that one degenerate bucket would
    * emit m^2 candidate pairs of documents with no content to compare.
    */
  private[graft] def lshBandRows(docs: DataFrame, textCol: String,
      shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignature(docs, textCol, shingleSize, bands * rowsPerBand)
    val bandKeys = array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      md5(concat_ws("_", parts: _*))
    }: _*)
    sigs.filter(col("mh_0").isNotNull)
      .select(col("doc_id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** DD14: greedy single-pass LSH near-dup dedup — keep a document iff it
    * is the min-doc_id member of EVERY (band, band_key) bucket it occupies;
    * docs with no signature (empty/whitespace-only text) are always kept.
    *
    * This is the keeper rule a streaming ingest filter can evaluate per
    * micro-batch ([[graft.streaming.CorpusStreams.nearDupDeduper]]): unlike
    * the CC-based DD8 keeper (min over the TRANSITIVE closure of the
    * candidate-pair graph) it needs no iterative component propagation, and
    * unlike the dd3→dd8 chain it never enumerates candidate PAIRS at all —
    * one banding pass, one hash-agg, one anti-join, so a degenerate bucket
    * of m members costs m rows here, not m²/2. Semantics vs DD8: on a chain
    * a~b, b~c (a<b<c) where a and c share no bucket, both rules keep only
    * a — b loses its bucket with a, and c loses its bucket with b (greedy
    * compares against everything SEEN, kept or dropped — the arrival-
    * order-free analogue of the first-seen-wins rule online fingerprint
    * stores implement; DD8 keeps min-of-component). They differ only on
    * corpora where bucket membership and the verified-pair graph disagree.
    *
    * The hot-bucket cap mirrors [[minhashLshPairs]] but is CONSERVATIVE
    * here: an over-cap bucket's members are all KEPT (skipping dedup on a
    * degenerate near-universal key — its true dups still drop via their
    * other bands), never dropped wholesale. None = dedup every bucket (the
    * oracle-checked default; safe even for hot buckets, see above).
    *
    * GEOMETRY MATTERS MORE HERE than in the candidate generators: a band
    * collision DROPS a document with no downstream verify stage (the
    * published drop-on-collision MinHash dedup — Rae et al. 2021
    * MassiveText §A.2, Penedo et al. 2023 RefinedWeb §3.2 — trades the
    * dd4b verify join for banding sharp enough that sub-threshold
    * collisions are negligible). Hence the default is the SHARP 6x4 point
    * (s-curve threshold ~0.64; a j=0.2 pair collides at ~1% vs ~15% at
    * the loose 4x2 candidate-generation default of [[minhashLshPairs]],
    * where a verify stage follows). Raise rowsPerBand further to sharpen;
    * [[lshGeometry]] picks (bands, rows) from a similarity target.
    */
  def lshDedupGreedy(docs: DataFrame, textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 6, rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val dropped = lshDroppedIds(
      lshBandRows(docs, textCol, shingleSize, bands, rowsPerBand), maxBucketSize)
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Dropped doc_ids under the greedy keeper rule, from banding rows —
    * factored so the streaming deduper applies the same rule to a
    * micro-batch. One hash-agg: `sort_array(collect_list)` makes ids[0]
    * the bucket min and everything after it the drops, so the banding
    * subtree is consumed ONCE (a min-per-bucket join-back would plan the
    * signature scan twice).
    */
  private[graft] def lshDroppedIds(bandRows: DataFrame,
      maxBucketSize: Option[Int]): DataFrame = {
    val buckets = bandRows.groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxBucketSize.fold(buckets)(m => buckets.filter(size(col("ids")) <= m))
    capped
      .select(explode(slice(col("ids"), lit(2), size(col("ids")) - 1)).as("doc_id"))
      .distinct()
  }

  /** SimHash (60-bit) per document: weighted sign-sum of token-hash bits,
    * weight = token frequency. Near-dups have small Hamming distance.
    * Token hash = first 60 bits of md5(token) (15 hex nibbles — stays in
    * signed-BIGINT range), which DuckDB reproduces bit-identically, so the
    * signature AND the blocked pair join have an exact SQL oracle.
    */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sim = udf { (text: String) =>
      if (text == null) 0L
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val acc = new Array[Int](60)
        graft.core.Text.metricTokens(text)
          .groupBy(identity).foreach { case (tok, occ) =>
            val w = occ.length
            md.reset()
            val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var i = 0
            while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
            h = h >>> 4 // first 15 hex nibbles = 60 bits
            var b = 0
            while (b < 60) {
              if (((h >>> b) & 1L) == 1L) acc(b) += w else acc(b) -= w
              b += 1
            }
          }
        var out = 0L
        var b = 0
        while (b < 60) { if (acc(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }
    docs.select(col("doc_id"), sim(col(textCol)).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` distance, blocked by
    * 15-bit sub-keys: two 60-bit hashes within Hamming distance k<=3 must
    * agree on at least one of the 4 15-bit blocks (pigeonhole: k<=3 flipped
    * bits can touch at most 3 of the 4 blocks), so candidates come from
    * equi-matches on block values, then exact Hamming verify.
    */
  def simhashPairs(docs: DataFrame, textCol: String = "text", maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming <= 3, "blocking with 4 blocks guarantees k<=3 only")
    val hashes = simhash(docs, textCol)
    // 4 blocks x 15 bits over the 60-bit hash; one projection + posexplode
    // (not a 4-way union — see minhashLshPairs)
    val blockKeys = array((0 until 4).map { blk =>
      shiftrightunsigned(col("simhash"), blk * 15).bitwiseAND(lit(0x7fffL))
    }: _*)
    val blocks = hashes
      .select(col("doc_id"), col("simhash"), posexplode(blockKeys).as(Seq("blk", "blk_key")))
    // carry the hash through the bucket as a (doc_id, simhash) struct so the
    // Hamming verify needs no join back to the hash table
    val buckets = blocks.groupBy(col("blk"), col("blk_key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1)
    // hot-bucket cap — see minhashLshPairs; NOTE unlike LSH this trades the
    // pigeonhole recall guarantee for bounded cost on degenerate blocks
    maxBucketSize.fold(buckets)(m => buckets.filter(size(col("ids")) <= m))
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) vector pairs with
    * cosine >= `minCosine`, scored by the native [[graft.functions.VecCosine]]
    * expression. This exact form is O(n^2) — the correctness baseline and
    * oracle target. At corpus scale, prefilter candidates with the sign-LSH
    * bucketing of [[Similarity.lshTopK]] (bucket-collision pairs -> exact
    * cosine verify), which replaces the cartesian with an equi-join.
    */
  def embeddingCosinePairs(emb: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Option[Long] = Some(100000L)): DataFrame = {
    import graft.functions.{vecDotF, vecNormF}
    // Guard the cartesian: this operator exists as the small-N verifier /
    // oracle baseline for [[embeddingCosinePairsLsh]] (the default pair
    // path at scale — measured recall, see dd6b_recall). One cheap count
    // scan is worth refusing an accidental 10^10-pair plan; pass
    // maxRows = None to opt out explicitly.
    maxRows.foreach { m =>
      val n = emb.count()
      require(n <= m,
        s"embeddingCosinePairs is O(n^2) and input has $n rows (> $m); " +
          "use embeddingCosinePairsLsh for large corpora or pass maxRows=None")
    }
    // split cosine: norms once per row (O(n*d)), dot once per pair
    // (O(n^2*d)) — bit-identical to the per-pair VecCosine form (same double
    // ops in the same order), at a third of the quadratic-stage flops
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("emb_a"),
      vecNormF(col(vecCol)).as("norm_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("emb_b"),
      vecNormF(col(vecCol)).as("norm_b"))
    val denom = col("norm_a") * col("norm_b")
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.r4(
          when(denom === 0.0, 0.0)
            .otherwise(vecDotF(col("emb_a"), col("emb_b")) / denom)).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Embedding-cosine near-dup pairs, LSH-prefiltered — the 100 TB path for
    * [[embeddingCosinePairs]]: sign-random-projection buckets (shared with
    * [[Similarity.lshTopK]]) generate candidates through an equi-join shape,
    * then candidates are verified with the exact split cosine. Approximate:
    * recall < 1 by construction (pairs colliding in no table are missed).
    *
    * Cost model (what makes this linear, not quadratic): a table with k
    * planes has 2^k buckets, so per-table candidate mass on unstructured
    * data is ~n^2/2^k pairs. A FIXED k is therefore still quadratic — bucket
    * membership grows as n/2^k — which is why `planes` defaults to AUTO
    * (planes <= 0): k = clamp(4, ceil(log2(n / targetBucketSize)), 24),
    * keeping expected bucket size ~targetBucketSize so candidate volume is
    * ~n * targetBucketSize * tables — linear in corpus size. The n lookup is
    * one `count()` (metadata-only on parquet sources). `maxBucketSize` caps
    * degenerate buckets (zero vectors, constant embeddings) by default.
    *
    * Recall economics: a pair at cosine c collides per table with
    * probability q^k, q = 1 - acos(c)/pi, so recall = 1 - (1 - q^k)^tables.
    * In the realistic near-dup band (c >= 0.85, q >= 0.82) recall stays
    * >= 0.95 at the auto operating point through corpus sizes of 10^9+
    * (k <= 24); at loose thresholds (c ~ 0.45, q = 0.65) NO sign-LSH
    * parameterization can prune (q is too close to the random-pair 0.5) —
    * use the exact verifier or raise the threshold. Measured: dd6b_recall
    * >= 0.97 at 0.85 on planted near-dups; see SCALE.md §Measured ANN
    * recall.
    */
  /** The auto-planes rule `planes = clamp(4, 24, ceil(log2(n/target)))`
    * shared by [[embeddingCosinePairsLsh]] and callers that already know
    * `n` (so they need not run a count over an expensive upstream plan
    * just to pick k — the dd13 centering case).
    */
  def autoPlanes(n: Long, targetBucketSize: Int = 16): Int = {
    val nn = math.max(1L, n)
    val raw = math.ceil(
      math.log(nn.toDouble / targetBucketSize) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  def embeddingCosinePairsLsh(emb: DataFrame, minCosine: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = 16, planes: Int = 0, targetBucketSize: Int = 16,
      maxBucketSize: Option[Int] = Some(1024)): DataFrame = {
    import graft.functions.vecNormF
    // Materialized: consumed by the bucketing pass AND both sides of the
    // verify join below (and by the autoPlanes count, which now runs on
    // the checkpointed table instead of re-executing the input plan).
    val base = Materialize(emb.select(col(idCol).as("id"),
      col(vecCol).as("embedding"), vecNormF(col(vecCol)).as("norm")))
    val k =
      if (planes > 0) planes
      else autoPlanes(base.count(), targetBucketSize)
    embeddingCosinePairsLshNormed(base, minCosine, dim, tables, k,
      maxBucketSize)
  }

  /** [[embeddingCosinePairsLsh]] over a PRE-NORMED, already-Materialized
    * base (id, embedding, norm) with the plane count resolved — the entry
    * point for callers that already paid the norm pass (the
    * [[Clustering.semDedupPairsRouted]] router shares ONE normed base
    * between its probe and both branches; r10 verdict: the LSH branch
    * re-derived norms the clustered branch also computes).
    */
  private[graft] def embeddingCosinePairsLshNormed(base: DataFrame,
      minCosine: Double, dim: Int, tables: Int, planes: Int,
      maxBucketSize: Option[Int]): DataFrame = {
    import graft.functions.{r4, vecDotF}
    val k = planes
    // Candidate pairs carry IDS ONLY through the bucket aggregation — the
    // earlier form collected struct(id, norm, embedding) per member, and
    // at the 100x probe (500k docs x 16 tables of ~300 B structs) the
    // aggregation state OOMed the 8 GB heap before the over-cap filter
    // could drop a single bucket. Ids shrink the agg state ~40x; the
    // vectors come back via two equi-joins against the Materialized base
    // (the dd4b candidates-then-verify shape). distinct() moves BEFORE the
    // verify too: a pair surfacing in several tables is scored once.
    val keyed = Similarity.lshBucketed(base, dim, tables, k)
      .select(col("tbl"), col("bkt"), col("id"))
    val buckets = keyed.groupBy(col("tbl"), col("bkt"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxBucketSize.fold(buckets)(m => buckets.filter(size(col("ids")) <= m))
    val cand = capped
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    val denom = col("na") * col("nb")
    cand
      .join(base.select(col("id").as("id_a"), col("embedding").as("ea"),
        col("norm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("embedding").as("eb"),
        col("norm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        r4(when(denom === 0.0, 0.0)
          .otherwise(vecDotF(col("ea"), col("eb")) / denom))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Near-duplicate RESOLUTION: connected components over a candidate-pair
    * graph (the output of any of the pair operators above) — turns pair
    * reports into dedup groups: every doc in a component keeps/loses
    * against the component's minimum doc_id.
    *
    * Algorithm: min-label propagation WITH pointer jumping — every round a
    * vertex takes the min over (its own label, its neighbors' labels, and
    * its label's label L(L(v))). The L(L(v)) shortcut halves remaining
    * path length every round, so rounds = O(log diameter), not
    * O(diameter): a 100-hop chain converges in ~9 rounds where pure
    * neighbor propagation needs 99 (and silently returned wrong labels
    * past the iteration cap — with jumping, the 50-round cap covers
    * diameters up to 2^50). Each round is two equi-joins against the
    * (persisted) label set plus one hash-aggregate — the shape of the
    * Kiveris et al. star-contraction family, expressed on the label table.
    * Labels only ever decrease, so the fixed point is exact, and `min`
    * makes the result independent of partitioning.
    *
    * Only vertices with at least one pair appear (isolated docs are their
    * own trivial component and are omitted by construction).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIterations: Int = 50,
      smallGraphEdges: Long = 1L << 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both edge directions from ONE pass over `pairs`: the old
    // union-with-swapped form duplicated the (un-cached) pairs subtree in
    // the plan, so the whole candidate/verify stage upstream ran TWICE —
    // profiled as two concurrent full near-dup jobs per curation pass.
    // explode emits (a,b) and (b,a) per row instead; same edge set.
    val edges = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Small-graph fast path: after candidate filtering the EDGE set is
    // normally orders of magnitude smaller than the corpus (near-dup pairs,
    // not documents) — when it fits comfortably on the driver, a local
    // union-find replaces O(log diameter) distributed rounds, each of which
    // costs two joins + an eager materialization. The count is an action on
    // the already-persisted edge set, so the probe is one cheap job; the
    // distributed loop below remains the path for genuinely large graphs
    // and is held to the same oracle (spec pins both paths to identical
    // labels on the same input).
    val nEdges = edges.count()
    if (nEdges > 0 && nEdges <= smallGraphEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
        .foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN root so the label is the component minimum,
          // exactly the distributed loop's fixed point
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      edges.unpersist()
      return out.toDF("doc_id", "component")
    }
    // Materialize (eager) truncates the logical plan: with pointer jumping
    // the plan references the label table three times per round, so
    // un-truncated lineage grows 3^rounds and OOMs the driver before data
    // size even matters. Materialize picks localCheckpoint (default) or
    // reliable checkpoint(dir) when spark.graft.checkpointDir is set — the
    // fault-tolerant form for long cluster jobs.
    var labels = Materialize(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id")))
    // Convergence probe: labels only ever DECREASE under min-propagation,
    // so sum(component) is strictly monotone until the fixed point — one
    // cheap aggregate per round replaces a join+count change detector.
    def labelSum(): java.math.BigDecimal = {
      val d = labels.agg(sum(col("component").cast("decimal(38,0)"))).head()
      if (d.isNullAt(0)) java.math.BigDecimal.ZERO else d.getDecimal(0)
    }
    var prevSum = labelSum()
    var it = 0
    // Empty-input probe: head(1) on the (checkpointed, tiny-on-empty) label
    // set. NOT inferred from the label sum — doc_ids are caller-provided
    // longs, and a negative-id graph can legitimately sum to zero. The
    // monotone-sum convergence test below is sign-agnostic (labels only
    // ever decrease, so the sum strictly decreases until the fixed point).
    var converged = labels.head(1).isEmpty
    while (!converged && it < maxIterations) {
      // neighbor labels flow along edges; vertex keeps the min of its own
      // label and everything received
      val msgs = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"))
      // pointer jump: L(L(v)) — label values are vertex ids, so the label
      // table self-joins to shortcut one indirection per round
      val jump = labels.as("a")
        .join(labels.select(col("id").as("component"),
            col("component").as("jumped")), Seq("component"))
        .select(col("id"), col("jumped").as("component"))
      // eager: materialized (while old is still cached) AND plan-truncated
      val next = Materialize(labels.unionByName(msgs).unionByName(jump)
        .groupBy("id").agg(min("component").as("component")))
      labels.unpersist()
      labels = next
      val s = labelSum()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** Exact-dedup corpus: keep ONE row (minimum doc_id) per distinct text.
    * Hash-aggregate to the keeper set, then a left-semi join back — both
    * sides partial-aggregate/shuffle on compact keys, so a degenerate
    * million-copy text costs its reducer one (hash, min) pair, not the
    * payload (the window-function formulation would funnel every duplicate
    * row through one partition).
    */
  def dedupedCorpus(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keep = docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** DD11: content-defined chunking (the rsync/LBFS/FastCDC idea on token
    * streams): a chunk boundary falls AFTER token i whenever the hash of
    * the (i, i+1) token gram lands on the cut grid (`hash % modulus == 0`,
    * expected chunk length ≈ `modulus` tokens). Because the cut decision
    * depends only on LOCAL content, inserting or deleting text re-cuts
    * only the chunk it touches — every downstream chunk keeps its
    * identity, which is what makes chunk-level dedup robust to shifted /
    * edited near-copies (fixed-stride chunking loses every boundary after
    * an insertion).
    *
    * Pure Column expressions end to end — the gram hash is the md5-prefix
    * long (the MinHash/fingerprint family derivation), so the whole
    * operator replays exactly in SQL. One map-only pass + explode; chunk
    * rows carry (chunk_idx, n_toks, chunk_md5) ready for a corpus-level
    * hash-agg dedup.
    */
  def contentDefinedChunks(docs: DataFrame, textCol: String = "text",
      modulus: Int = 16): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2: $modulus")
    val t = lower(trim(col(textCol)))
    // staged projections: toks and cuts are NAMED columns so Catalyst
    // shares them across the many downstream references — building
    // everything from the raw expressions would re-embed a fresh split()
    // (and the whole md5 cut loop) at every use site, and the generator
    // would then recompute that chain per OUTPUT row (measured 32 s vs
    // ~1 s at sf0.1)
    val withToks = docs.select(col("doc_id"),
      when(length(t) === 0, array().cast("array<string>"))
        .otherwise(split(t, "\\s+")).as("toks"))
    val toks = col("toks")
    val n = size(toks)
    val gramHash = (i: Column) =>
      conv(substring(md5(concat_ws(" ",
        element_at(toks, i), element_at(toks, i + 1))), 1, 15), 16, 10)
        .cast("long")
    val withCuts = withToks.select(col("doc_id"), toks,
      when(n >= 2,
        filter(sequence(lit(1), n - 1), i => gramHash(i) % modulus === 0))
        .otherwise(array().cast("array<int>")).as("cuts"))
    val cuts = col("cuts")
    val starts = concat(array(lit(1)), transform(cuts, b => b + 1))
    val ends = concat(cuts, array(n))
    val withChunks = withCuts.select(col("doc_id"),
      zip_with(starts, ends,
        (s, e) => array_join(slice(toks, s, e - s + 1), " ")).as("chunks"))
    // posexplode_OUTER: identical output (chunks always has >= 1 element)
    // but it keeps InferFiltersFromGenerate from prefixing the plan with a
    // size(<whole inlined chunk chain>) > 0 filter — that inferred filter
    // re-evaluates the entire nested-HOF expression interpreted per row
    // (measured 33 s vs 1.4 s at sf0.1)
    withChunks
      .select(col("doc_id"),
        posexplode_outer(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        when(length(col("chunk")) === 0, 0L)
          .otherwise(size(split(col("chunk"), " ")).cast("long")).as("n_toks"),
        md5(col("chunk")).as("chunk_md5"))
  }

  /** DD11b (pairs stage): chunk-level containment pairs over
    * content-defined chunks — the shift-robust near-dup signal
    * [[contentDefinedChunks]] exists for. Two docs pair when the token
    * mass of their SHARED chunk hashes covers at least `minContainment`
    * of the smaller doc's chunk mass: an edited / boilerplate-shifted
    * copy keeps every chunk its edit didn't touch (CDC boundaries are
    * local), so containment stays high where fixed-stride chunking or
    * whole-doc hashing would see two unrelated documents.
    *
    * Scale shape: chunks → distinct (doc, chunk) with token weights
    * (hash-agg), per-doc totals joined back (doc-count-sized equi-join),
    * then the dd3-style bucket join on chunk_md5 — only docs sharing a
    * chunk ever meet. `maxDocsPerChunk` is the df-cap: a chunk hash
    * present in more docs than the cap is boilerplate, not near-dup
    * evidence, and expanding it is quadratic — those buckets are dropped
    * (mirrored in the oracle), bounding pair expansion to
    * |chunks| x cap. Sub-`minChunkToks` chunks are noise grams and are
    * excluded from both evidence and mass.
    */
  def cdcContainmentPairs(docs: DataFrame, textCol: String = "text",
      modulus: Int = 16, minChunkToks: Long = 4,
      minContainment: Double = 0.5, maxDocsPerChunk: Long = 256): DataFrame = {
    require(maxDocsPerChunk >= 2, s"maxDocsPerChunk must be >= 2: $maxDocsPerChunk")
    val chunks = contentDefinedChunks(docs, textCol, modulus)
      .filter(col("n_toks") >= minChunkToks)
    // a chunk repeated WITHIN a doc counts once — identity, not multiplicity
    // (same hash => same text => same n_toks, so max() just reads the value)
    val docChunks = chunks.groupBy(col("doc_id"), col("chunk_md5"))
      .agg(max(col("n_toks")).as("w"))
    val totals = docChunks.groupBy(col("doc_id")).agg(sum(col("w")).as("tot"))
    val hot = docChunks.groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") > maxDocsPerChunk)
      .select(col("chunk_md5"))
    val pruned = docChunks.join(hot, Seq("chunk_md5"), "left_anti")
      .join(totals, Seq("doc_id"))
    val l = pruned.select(col("chunk_md5"), col("doc_id").as("doc_a"),
      col("tot").as("tot_a"), col("w"))
    val r = pruned.select(col("chunk_md5"), col("doc_id").as("doc_b"),
      col("tot").as("tot_b"))
    l.join(r, Seq("chunk_md5"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("tot_a"), col("doc_b"), col("tot_b"))
      .agg(sum(col("w")).as("shared_toks"))
      .withColumn("containment",
        round(col("shared_toks").cast("double") /
          least(col("tot_a"), col("tot_b")), 4))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "shared_toks", "containment")
  }

  /** DD11b: the deduplicated corpus through CDC chunk containment —
    * [[cdcContainmentPairs]] edges, connected components, min-id keeper
    * per component (the dd8 policy). This is the end-to-end
    * segmentation + dedup story: robust to insertions/shifted boilerplate
    * because the pair evidence is chunk identity, not document identity.
    */
  def cdcDedupCorpus(docs: DataFrame, textCol: String = "text",
      modulus: Int = 16, minChunkToks: Long = 4,
      minContainment: Double = 0.5, maxDocsPerChunk: Long = 256): DataFrame = {
    val pairs = cdcContainmentPairs(docs, textCol, modulus, minChunkToks,
      minContainment, maxDocsPerChunk)
    val losers = connectedComponents(pairs)
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** DD8b: near-dup deduplicated corpus with a QUALITY keeper policy —
    * for each connected component of the near-dup pair graph keep the
    * member maximizing `scoreCol` (ties: smallest doc_id), not the min-id
    * member. The production knob the min-id form lacks: when a cluster
    * holds a full article and its truncated syndication copies, you want
    * the longest/highest-quality copy, not the earliest id. Docs outside
    * any component always survive.
    *
    * Scale shape: components from [[connectedComponents]] (pair-graph
    * sized, not corpus sized), one per-component hash-agg argmax
    * (max over a (score, -id) struct — one pass, no window over the
    * corpus), and a keeper join back. The corpus itself is only joined,
    * never shuffled by score.
    */
  def nearDupCorpusBestKeeper(docs: DataFrame, pairs: DataFrame,
      scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs)
      .select(col("doc_id"), col("component"))
    val scored = docs.withColumn("__score", scoreCol)
      .join(comps, Seq("doc_id"), "left")
    val keepers = scored.filter(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(max(struct(col("__score").as("s"), (-col("doc_id")).as("negid")))
        .as("b"))
      .select((-col("b.negid")).as("doc_id"), lit(1).as("__keep"))
    scored.join(keepers, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("__keep").isNotNull)
      .drop("component", "__score", "__keep")
  }

  /** N-gram Jaccard near-dup pairs above `minJaccard`: bucket docs by shared
    * shingle (only docs sharing a shingle meet), count intersections, compute
    * |A ∩ B| / (|A| + |B| - |A ∩ B|). Semantically the classic
    * explode/self-join/two-size-joins SQL (the DuckDB oracle keeps that
    * form), executed as one pass:
    *   - shingles are computed ONCE per doc by a single UDF that emits
    *     distinct 64-bit shingle hashes (the string form would be shuffled
    *     as multi-word keys; a long key shuffles ~10x less and Jaccard only
    *     needs identity, not the text),
    *   - the per-doc shingle count rides through the bucket in a
    *     (doc_id, nsh) struct, so no join back to a sizes table — the final
    *     aggregate already has |A| and |B| on the row.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      shingleSize: Int = 3, minJaccard: Double = 0.8): DataFrame =
    ngramJaccardPairsFromShingles(
      shingleTable(docs, textCol, shingleSize), minJaccard)

  /** Distinct 64-bit shingle hashes of a text column (lowercased,
    * whitespace-tokenized, `n`-token sliding windows; a doc shorter than
    * `n` tokens contributes its whole token stream as one shingle). Shared
    * by Jaccard near-dup pairing and benchmark decontamination: a long
    * hash shuffles/broadcasts ~10x less than the multi-word string and
    * both consumers only need shingle identity.
    */
  private[graft] def shingleHashesUdf(n: Int) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val t = text.toLowerCase.trim
      val toks: Array[String] = if (t.isEmpty) Array.empty else wsSplitRe.split(t)
      val shingles: Iterator[String] =
        if (toks.isEmpty) Iterator.empty
        else if (toks.length < n) Iterator(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" "))
      val set = scala.collection.mutable.HashSet.empty[Long]
      shingles.foreach { s =>
        val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
        val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
        set += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      }
      set.toArray
    }
  }

  /** `n`-token window hashes WITH multiplicity (one entry per window
    * position, unlike [[shingleHashesUdf]]'s distinct set) — the span
    * stream for [[duplicateSpanCoverage]], where a window repeated inside
    * one doc must count every occurrence. Same tokenization and
    * short-doc convention as the shingle UDF.
    */
  private[graft] def windowHashesUdf(n: Int) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val t = text.toLowerCase.trim
      val toks: Array[String] = if (t.isEmpty) Array.empty else wsSplitRe.split(t)
      val windows: Iterator[String] =
        if (toks.isEmpty) Iterator.empty
        else if (toks.length < n) Iterator(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" "))
      windows.map { s =>
        val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
        val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
        (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      }.toArray
    }
  }

  /** Duplicate-span coverage — the substring-level dedup signal of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models Better"):
    * per doc, the fraction of its `spanTokens`-token windows (counted WITH
    * multiplicity) whose text occurs at least `minOccurrences` times across
    * the whole corpus, all docs and positions included. High coverage means
    * the doc is largely assembled from text that exists elsewhere —
    * boilerplate, mirrors, templated spam — even when no whole-doc
    * near-dup fires; it is the signal whole-doc dedup (DD1–DD7) is blind
    * to. Output: (doc_id, n_spans, n_dup_spans, dup_fraction); docs with
    * no spans (null/empty text) are omitted — they have nothing to score.
    *
    * Scale shape: spans travel as 64-bit hashes, never strings — one
    * explode, one hash-aggregate for global occurrence counts (map-side
    * partials on compact keys), one shuffle join back on the hash, one
    * per-doc hash-aggregate. No corpus self-join, nothing quadratic; a
    * degenerate viral span costs its reducer one (hash, count) cell. The
    * occurrence-count join is corpus×corpus-gram scale on both sides by
    * design (the count table does NOT broadcast at 100 TB) — AQE picks the
    * join strategy.
    *
    * Reference seed: the reference dedups at whole-summary granularity
    * only (SURVEY §2.5); this extends its corpus hygiene to span level.
    */
  def duplicateSpanCoverage(docs: DataFrame, textCol: String = "text",
      spanTokens: Int = 5, minOccurrences: Int = 2): DataFrame = {
    val spans = docs
      .select(col("doc_id"), windowHashesUdf(spanTokens)(col(textCol)).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_spans"), explode(col("hs")).as("h"))
    val occ = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    spans.join(occ, Seq("h"))
      .groupBy(col("doc_id"), col("n_spans"))
      .agg(sum(when(col("occ") >= minOccurrences, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_fraction",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
      .select("doc_id", "n_spans", "n_dup_spans", "dup_fraction")
  }

  /** Corpus gated on [[duplicateSpanCoverage]]: drop every doc whose
    * duplicate-span fraction exceeds `maxFraction` (Lee et al. drop the
    * spans themselves; at corpus scale the doc-level gate is the form
    * that composes with the rest of the curation funnel — a doc that is
    * mostly duplicated text is dropped whole). Anti-join on doc_id; the
    * corpus rows themselves are never shuffled.
    */
  def dropDuplicateSpanDocs(docs: DataFrame, textCol: String = "text",
      spanTokens: Int = 5, minOccurrences: Int = 2,
      maxFraction: Double = 0.5): DataFrame = {
    val flagged = duplicateSpanCoverage(docs, textCol, spanTokens, minOccurrences)
      .filter(col("dup_fraction") > maxFraction)
      .select("doc_id")
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** DD10: global repeated-paragraph removal — the RefinedWeb/Dolma
    * boilerplate pass. A paragraph (`sep`-delimited block) whose exact
    * content occurs at least `minOccurrences` times ACROSS THE CORPUS is
    * removed from every document; surviving paragraphs are reassembled in
    * their original order. Unlike [[dropDuplicateSpanDocs]] (which gates
    * whole docs on their duplicate-span fraction), this REWRITES docs —
    * navigation chrome, cookie banners, and license footers disappear
    * while the unique prose stays.
    *
    * Scale shape: one explode + hash-aggregate finds the hot set (by
    * definition ≤ totalParas/minOccurrences rows, and hot paragraphs are
    * keyed by md5 so the aggregate is map-side-combined); removal is a
    * broadcast-able anti-join on the hash; reassembly is the g1
    * ordered-collect shape (one shuffle on doc_id). At 100 TB swap the
    * anti-join for the dc3 Bloom prefilter if the hot set outgrows a
    * broadcast — same no-false-negative argument as decontamination.
    * Output keeps every input doc: (doc_id, clean_text — possibly empty,
    * n_paras, n_removed).
    */
  def dropRepeatedParagraphs(docs: DataFrame, textCol: String = "text",
      sep: String = "\n", minOccurrences: Long = 2L): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2")
    // posexplode_OUTER: split() never yields an empty array on non-null
    // text, so output is identical — but non-outer Generate gets an
    // InferFiltersFromGenerate pre-filter with the full split chain
    // substituted in (the dd11 interpreted-filter hazard; see
    // PlanHygieneSpec's monster-filter audit)
    val paras = docs.select(col("doc_id"),
        posexplode_outer(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("ph", md5(col("para")))
    val hot = paras.groupBy(col("ph")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("ph"))
    val kept = paras.join(broadcast(hot), Seq("ph"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("clean_text"))
    val totals = paras.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-doc distinct shingle-hash rows (doc_id, nsh, h) — the REUSABLE
    * form of the near-dup join's left half. An incremental pipeline
    * persists this table for its curated corpus once and unions each new
    * batch's (small) shingle table against it, so successive increments
    * never re-tokenize the existing corpus (see
    * [[Curation.curateIncremental]]).
    */
  def shingleTable(docs: DataFrame, textCol: String = "text",
      shingleSize: Int = 3): DataFrame = {
    val hashesUdf = shingleHashesUdf(shingleSize)
    docs
      .select(col("doc_id"), hashesUdf(col(textCol)).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("nsh"), explode(col("hs")).as("h"))
  }

  /** [[ngramJaccardPairs]] over an already-computed [[shingleTable]]. */
  def ngramJaccardPairsFromShingles(shingles: DataFrame,
      minJaccard: Double = 0.8): DataFrame =
    shingles
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("nsh")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.a.nsh").as("n_a"),
        col("p.b.doc_id").as("doc_b"), col("p.b.nsh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")

  /** MinHash signature derived FROM a persisted [[shingleTable]] — the
    * LSH entry point an INCREMENTAL pipeline needs: h_i = min over the
    * doc's 64-bit shingle hashes of xxhash64(i, h). Minhashing the
    * shingle-HASH set estimates the same Jaccard as the text-derived
    * [[minhashSignature]] (the two sets are in bijection absent 64-bit
    * collisions — same |∩|/|∪|); what it buys is that the existing
    * corpus's TEXT is never re-read or re-tokenized: each increment
    * computes signatures from the shingle rows it already persists
    * ([[graft.operators.Curation.curateIncremental]]'s
    * `existingShingles`). Pure Column expressions (xxhash64 is
    * codegen'd), one hash-agg over the shingle table with map-side
    * partial mins. Docs with an empty shingle set simply have no rows
    * here — same absence semantics as the null-signature rows
    * [[lshBandRows]] filters.
    */
  def minhashFromShingles(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles.groupBy(col("doc_id"))
      .agg(max(col("nsh")).as("nsh"),
        (0 until numHashes).map(i =>
          min(xxhash64(lit(i), col("h"))).as(s"mh_$i")): _*)

  /** [[lshBandRows]] over a [[minhashFromShingles]] signature. */
  private[graft] def lshBandRowsFromShingles(shingles: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashFromShingles(shingles, bands * rowsPerBand)
    val bandKeys = array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      md5(concat_ws("_", parts: _*))
    }: _*)
    sigs.select(col("doc_id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** [[jaccardVerifiedPairs]] computed ENTIRELY from a persisted
    * [[shingleTable]] — candidates from the shingle-hash MinHash banding,
    * exact-Jaccard verify against the same shingle rows. This is the
    * near-dup stage of an incremental curation pass at the 100 TB
    * operating point: per increment the only text-derived input is the
    * NEW batch's shingle rows; the corpus side contributes its persisted
    * table to both banding and verify. Default geometry is 8x2 (16
    * hashes) — wider than the text form's 4x2 because the incremental
    * contamination closure ([[graft.operators.Curation.curateIncremental]]
    * step 3) must not miss a new↔existing near-dup pair across MANY
    * increments: at the corpus's near-dup operating point (j ≥ 0.8)
    * the per-pair band-miss probability is (1-j²)⁸ ≤ 3e-6. Verified
    * pairs are a subset of [[ngramJaccardPairsFromShingles]] output with
    * identical jaccard values on surviving pairs.
    */
  def jaccardVerifiedPairsFromShingles(shingles: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 2, minJaccard: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val buckets = lshBandRowsFromShingles(shingles, bands, rowsPerBand)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxBucketSize.fold(buckets)(m =>
      buckets.filter(size(col("ids")) <= m))
    val cand = capped
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    val a = shingles.select(col("doc_id").as("doc_a"), col("nsh").as("n_a"), col("h"))
    val b = shingles.select(col("doc_id").as("doc_b"), col("nsh").as("n_b"), col("h"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The linear-scale form of [[ngramJaccardPairs]]: MinHash-LSH candidate
    * generation → exact Jaccard verify on the candidate pairs ONLY. The
    * inverted-index form above is candidate-quadratic once shingle
    * document-frequency grows (measured in the 10x scale probe: candidate
    * pairs grew 93x for 10x docs on the saturated toy vocabulary — see
    * SCALE.md §scale-probe); this composition bounds candidates by the
    * banding collision probability instead, and the verify join's cost is
    * candidates × shingles-per-doc — linear in corpus size for a fixed
    * near-dup rate. Recall is the banding curve 1-(1-j^rows)^bands
    * (≈1.0 at j≥0.8 for 4×2; the trade every production near-dup pipeline
    * makes). Verified pairs are a subset of [[ngramJaccardPairs]] output
    * by construction, with identical jaccard values on surviving pairs.
    */
  def jaccardVerifiedPairs(docs: DataFrame, textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      minJaccard: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val cand = minhashLshPairs(docs, textCol, shingleSize, bands,
      rowsPerBand, maxBucketSize)
    val sh = shingleTable(docs, textCol, shingleSize)
    // two equi-joins on compact keys: candidates x |A| shingles, then the
    // (doc_b, h) match keeps intersection rows only
    val a = sh.select(col("doc_id").as("doc_a"), col("nsh").as("n_a"), col("h"))
    val b = sh.select(col("doc_id").as("doc_b"), col("nsh").as("n_b"), col("h"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Benchmark decontamination report: for each training doc that shares
    * at least one `ngramSize`-token shingle with the benchmark/eval set,
    * emit (doc_id, n_hits, n_ngrams, overlap) where `overlap` =
    * |doc ∩ bench| / |doc| over distinct shingles. The classic
    * train/test-leak guard (13-gram collision in the GPT-3/Llama
    * decontamination recipes; `ngramSize` is the knob).
    *
    * Scale shape: the benchmark side is an EVAL set — small by definition —
    * so its distinct shingle-hash set is broadcast and the 100 TB corpus
    * side never shuffles: explode → broadcast-hash semi-join → per-doc
    * hash-agg with map-side partials. If the eval suite ever outgrows the
    * broadcast threshold, swap the broadcast for a bloom-filter prefilter
    * plus this same join on the survivors; the report shape is unchanged.
    */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", ngramSize: Int = 13): DataFrame = {
    val hs = shingleHashesUdf(ngramSize)
    val benchGrams = benchmark.select(explode(hs(col(textCol))).as("h")).distinct()
    docs
      .select(col("doc_id"), hs(col(textCol)).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_ngrams"), explode(col("hs")).as("h"))
      .join(broadcast(benchGrams), Seq("h"))
      .groupBy(col("doc_id"), col("n_ngrams"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("overlap",
        round(col("n_hits").cast("double") / col("n_ngrams"), 4))
      .select("doc_id", "n_hits", "n_ngrams", "overlap")
  }

  /** Decontaminated corpus: drop every doc whose benchmark shingle overlap
    * exceeds `maxOverlap` (default 0.0 = any collision drops, the strict
    * form). Anti-join on doc_id against the report's flagged set — the
    * corpus rows themselves are never shuffled.
    */
  /** DC4: span-surgical decontamination (the GPT-3 appendix-C policy) —
    * instead of dropping a contaminated document wholesale
    * ([[decontaminate]]), REMOVE the tokens covered by benchmark-matching
    * n-grams and keep the clean remainder. A long document sharing one
    * quoted benchmark sentence loses ~n+sentence tokens, not its whole
    * text — at corpus scale that is the difference between
    * decontamination and deletion of every doc that cites a benchmark.
    *
    * Mechanics: grams are built POSITIONALLY (gram k covers tokens
    * [k, k+n-1]; a doc shorter than n contributes one gram covering all
    * its tokens — the [[shingleHashesUdf]] convention), matched against
    * the benchmark's distinct gram strings, and every covered token index
    * drops; the survivors rejoin with single spaces (whitespace
    * normalization, the dd10 rewrite convention). Matching is on
    * lowercased grams, the rewrite keeps original-case tokens.
    *
    * Scale shape: one map-only gram explode (compact (doc_id, k, gram)
    * rows — token arrays are NOT carried through the explode), a shuffle
    * join against the (small) benchmark gram set, a per-doc hash-agg of
    * hit positions, and one HOF rewrite pass. Output: (doc_id,
    * clean_text, n_tokens, n_removed); uncontaminated docs pass through
    * byte-identical modulo whitespace.
    */
  /** Whitespace tokens of a text column: split on `\s+` and drop empty
    * fields (the q7 wsTokens convention — the dc4/dd12 tokenization
    * contract, mirrored by their oracles' list_filter). Dropping empties
    * rather than trimming first makes every whitespace shape (leading
    * tabs, newline-only docs, null) tokenize identically on the JVM and
    * in DuckDB — `trim` strips spaces only in both engines, so a
    * tabs-only doc would otherwise yield phantom '' tokens.
    */
  private def wsToksOf(c: Column): Column =
    array_remove(split(coalesce(c, lit("")), "\\s+"), "")

  /** Positional lowercase n-gram list over a token array; a doc with ≥1
    * token always yields ≥1 gram (short docs gram to their whole text).
    */
  private def posGramsOf(toks: Column, n: Int): Column = {
    val l = size(toks)
    when(l >= 1,
      transform(sequence(lit(0), greatest(l - n, lit(0))),
        k => lower(concat_ws(" ", slice(toks, k + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The covered-index surgical rewrite shared by [[spanDecontaminate]]
    * and [[spanSelfDedup]]: `hitsAgg` = (doc_id, __ks: list of gram start
    * positions to cut); every token index covered by any hit gram is
    * removed, survivors reassemble in original order with original case.
    */
  private def cutCoveredSpans(docs: DataFrame, textCol: String,
      hitsAgg: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), wsToksOf(col(textCol)).as("__toks"))
      .join(hitsAgg, Seq("doc_id"), "left")
      .withColumn("__l", size(col("__toks")))
      .withColumn("__cov", coalesce(
        array_distinct(flatten(transform(col("__ks"),
          k => sequence(k, least(k + n - 1, col("__l") - 1))))),
        array().cast("array<int>")))
      .withColumn("__kept", when(col("__l") >= 1,
        filter(sequence(lit(0), col("__l") - 1),
          i => !array_contains(col("__cov"), i)))
        .otherwise(array().cast("array<int>")))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("__kept"),
          i => element_at(col("__toks"), i + 1))).as("clean_text"),
        col("__l").cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_removed"))

  def spanDecontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", ngramSize: Int = 13): DataFrame = {
    val n = ngramSize
    require(n >= 1, s"ngramSize must be >= 1: $n")
    val bench = benchmark
      .select(explode(posGramsOf(wsToksOf(col(textCol)), n)).as("g")).distinct()
    val gramRows = docs
      .select(col("doc_id"), posexplode(posGramsOf(wsToksOf(col(textCol)), n))
        .as(Seq("k", "g")))
    val hitsAgg = gramRows.join(bench, Seq("g"))
      .groupBy(col("doc_id")).agg(collect_list(col("k")).as("__ks"))
    cutCoveredSpans(docs, textCol, hitsAgg, n)
  }

  /** DD12: cross-document exact-substring SELF-dedup (Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" §ExactSubstr,
    * token-gram-shaped): an n-token span whose exact lowercase content
    * appears in MORE THAN ONE document survives only in its canonical
    * occurrence — the minimum doc_id holding it — and is cut from every
    * other document by the dc4 covered-index rewrite (original case and
    * order preserved for the survivors). Sits between the existing span
    * family members: dd10 removes repeated PARAGRAPHS (alignment-bound),
    * dd11 dedups CDC chunks (chunk-bound), dropDuplicateSpanDocs gates
    * WHOLE docs on span coverage — dd12 removes exactly the copied
    * tokens and keeps the rest, corpus-vs-itself.
    *
    * Scale shape: positional grams explode linear-in-tokens (token
    * arrays never ride the explode); ONE partially-aggregated hash-agg
    * per gram (min doc_id + distinct-doc count — the Spark analog of the
    * suffix-array sort); one equi-join back on the gram (a gram occurring
    * f times contributes f join rows — nothing quadratic); per-doc
    * cut-list collect bounded by the doc's own token count; then the
    * shared rewrite. Within-doc repeats with no second document are NOT
    * touched (self-repetition is ta8's job, not dedup's).
    */
  def spanSelfDedup(docs: DataFrame, textCol: String = "text",
      ngramSize: Int = 13): DataFrame = {
    val n = ngramSize
    require(n >= 1, s"ngramSize must be >= 1: $n")
    // Materialized (the pipe_ccnet discipline): gramRows feeds BOTH the
    // keeper aggregate and the hit join below — without this the
    // full-corpus positional gram explode is planned and executed twice.
    val gramRows = Materialize(docs
      .select(col("doc_id"), posexplode(posGramsOf(wsToksOf(col(textCol)), n))
        .as(Seq("k", "g"))))
    val dup = gramRows.groupBy(col("g"))
      .agg(min(col("doc_id")).as("__keeper"),
        countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("g"), col("__keeper"))
    val hitsAgg = gramRows.join(dup, Seq("g"))
      .filter(col("doc_id") =!= col("__keeper"))
      .groupBy(col("doc_id")).agg(collect_list(col("k")).as("__ks"))
    cutCoveredSpans(docs, textCol, hitsAgg, n)
  }

  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", ngramSize: Int = 13,
      maxOverlap: Double = 0.0): DataFrame = {
    val flagged = contaminationReport(docs, benchmark, textCol, ngramSize)
      .filter(col("overlap") > maxOverlap)
      .select("doc_id")
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** [[contaminationReport]] with a Bloom-filter prefilter — the form for
    * when the eval suite's distinct shingle set outgrows a broadcast (the
    * swap the exact operator's docstring promises). A Bloom filter over
    * the benchmark shingle hashes is built distributed and merged on the
    * driver as a FIXED-SIZE bit array (~1.2 MB per million grams at 1%
    * fpp, vs gigabytes for the gram set itself), ships to every task in a
    * broadcast, and prunes the corpus gram stream to (true hits + fpp ·
    * non-hits) BEFORE the verify join — so the join shuffles a sliver of
    * the corpus side instead of every gram of 100 TB. Bloom filters have
    * no false negatives, so the prefilter only drops rows the exact join
    * would drop anyway: the output is bit-identical to
    * [[contaminationReport]] (same oracle), only the plan changes. The
    * verify join is deliberately NOT hinted broadcast — in the regime
    * this operator exists for, the gram set doesn't broadcast; AQE picks
    * the strategy from the post-filter sizes.
    */
  def contaminationReportBloom(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", ngramSize: Int = 13,
      expectedGrams: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val hs = shingleHashesUdf(ngramSize)
    val benchGrams = benchmark.select(explode(hs(col(textCol))).as("h")).distinct()
    val bloom = benchGrams.stat.bloomFilter("h", expectedGrams, fpp)
    val bloomBc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (h: Long) => bloomBc.value.mightContainLong(h) }
    docs
      .select(col("doc_id"), hs(col(textCol)).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_ngrams"), explode(col("hs")).as("h"))
      .filter(mightContain(col("h")))
      .join(benchGrams, Seq("h"))
      .groupBy(col("doc_id"), col("n_ngrams"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("overlap",
        round(col("n_hits").cast("double") / col("n_ngrams"), 4))
      .select("doc_id", "n_hits", "n_ngrams", "overlap")
  }

  /** [[decontaminate]] through the Bloom-prefiltered report — identical
    * output (no false negatives, exact verify), scale-path plan.
    */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", ngramSize: Int = 13,
      maxOverlap: Double = 0.0,
      expectedGrams: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val flagged = contaminationReportBloom(docs, benchmark, textCol, ngramSize,
        expectedGrams, fpp)
      .filter(col("overlap") > maxOverlap)
      .select("doc_id")
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** DC5: SEMANTIC decontamination report — for every training item the
    * nearest benchmark item by embedding cosine plus a contamination flag
    * at `threshold`. The n-gram family (dc1–dc4) catches verbatim and
    * near-verbatim leaks; this catches the paraphrased ones — the check
    * recent model reports run alongside exact-match decontamination
    * (reference shape: the dd6 cosine audit, re-pointed corpus-vs-bench).
    *
    * EXACT by design, and scale-safe anyway: an eval suite is
    * metadata-scale (thousands of items, not billions), so the benchmark
    * broadcasts and the corpus is scanned once — per-row work is
    * |bench|·d flops, map-side; the per-item argmax partial-aggregates
    * before the only shuffle (one row per corpus item). The `maxBench`
    * require pins the broadcast contract the same way ivfPqSearch pins
    * its query count. Cosines snap to the 4dp grid (r4) before the
    * argmax, ties break to the lowest benchmark id — a total order, so
    * the report carries a full hash oracle.
    *
    * The argmax is a single hash-aggregable `max(long)`: the 4dp cosine
    * (≤ 20001 values) and the benchmark id pack into one 58-bit key with
    * the id ones'-complemented so larger key == (higher cosine, then
    * LOWER id). A `min(struct(...))` here reads identically but compiles
    * to SortAggregate (struct buffers aren't hash-aggregable), which at
    * the 100x probe meant each task SORTING its slice of the
    * corpus x bench stream — measured OOM at 8 GB heap on 2.2G joined
    * rows; the packed form partial-aggregates map-side and holds one
    * long per corpus item (measured 54 s for the same probe, flop-bound).
    */
  def semanticDecontamReport(corpus: DataFrame, bench: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", maxBench: Long = 100000L): DataFrame = {
    import graft.functions.{r4, vecDotF, vecNormF}
    val idSpace = (1L << 43) - 1
    val stats = bench.agg(count(lit(1)), min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head()
    val nb = stats.getLong(0)
    require(nb <= maxBench,
      s"semanticDecontamReport broadcasts the benchmark and it has $nb " +
        s"rows (> $maxBench); a benchmark that size is not an eval suite " +
        "— split it or use embeddingCosinePairsLsh")
    require(nb == 0L || (stats.getLong(1) >= 0L && stats.getLong(2) <= idSpace),
      s"benchmark $idCol must fit the 43-bit argmax key space [0, $idSpace]" +
        s": got [${stats.get(1)}, ${stats.get(2)}]")
    val b = bench.select(col(idCol).cast("long").as("bench_id"),
      col(vecCol).as("bench_emb"), vecNormF(col(vecCol)).as("bench_norm"))
    val c = corpus.select(col(idCol), col(vecCol).as("emb"),
      vecNormF(col(vecCol)).as("norm"))
    val denom = col("norm") * col("bench_norm")
    // c4 recovers the snapped cosine's exact 4dp integer: |cos| <= 1, so
    // snapped*1e4 has <= 9 significant digits and re-rounds losslessly
    val snapped = r4(when(denom === 0.0, 0.0)
      .otherwise(vecDotF(col("emb"), col("bench_emb")) / denom))
    val c4 = round(snapped * 1e4).cast("long")
    c.crossJoin(broadcast(b))
      .select(col(idCol),
        (shiftleft(c4 + 10000L, 43) + (lit(idSpace) - col("bench_id")))
          .as("k"))
      .groupBy(col(idCol))
      .agg(max(col("k")).as("k"))
      .select(col(idCol),
        (lit(idSpace) - col("k").bitwiseAND(lit(idSpace))).as("bench_id"),
        ((shiftright(col("k"), 43) - 10000L).cast("double") / 1e4)
          .as("max_cosine"))
      .withColumn("contaminated",
        (col("max_cosine") >= threshold).cast("int"))
  }
}
