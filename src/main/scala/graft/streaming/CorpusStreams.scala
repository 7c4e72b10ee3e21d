package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.strategy.Strategies

/** Streaming corpus summarization — the incremental growth path of the
  * reference's batch pipeline (SURVEY.md §2.10: the reference's only
  * incremental behavior is S6 skip-if-exists; with a file-source stream +
  * checkpoint, exactly-once per input file falls out of the engine).
  *
  * Two shapes:
  *  - [[summarizeStream]]: the stateless truncated strategy (Q1) applied
  *    per row — a pure streaming projection, runs in any output mode.
  *  - [[mapReducePerBatch]]: the full map-reduce strategy (driver
  *    fixed-point collapse included) via `foreachBatch` — the idiomatic
  *    Spark way to run a batch-defined pipeline incrementally: each
  *    micro-batch of newly-arrived documents goes through the complete
  *    chunk -> map -> collapse -> reduce plan and appends its summaries.
  */
object CorpusStreams {

  /** Open a docs directory as a parquet file stream (streaming readers
    * cannot infer schemas). `glob` filters which files in `dir` belong to
    * this table — the streaming source requires a DIRECTORY base path, so a
    * single-file table inside a mixed directory streams via its parent +
    * glob rather than its own path.
    */
  def readDocStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 16, glob: String = "*"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** Resolve (basePath, leaf glob) for a table that may be either a single
    * parquet FILE inside a mixed directory (the driver testdata shape) or
    * a parquet DIRECTORY of part files (any Spark-written table).
    * `pathGlobFilter` matches LEAF file names only — streaming a directory
    * table through its parent + name glob silently matches NOTHING (zero
    * rows, no error), so a directory must be streamed from its own path.
    * Uses the Hadoop FS API so the check is correct on any filesystem.
    */
  def tableStreamPath(spark: SparkSession, dir: String,
      table: String): (String, String) = {
    val path = new org.apache.hadoop.fs.Path(dir, table)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.getFileStatus(path).isDirectory) (path.toString, "*.parquet")
    else (dir, table)
  }

  /** Q1 over a stream: stateless per-row summarize — no watermark, no
    * state store; scales as a projection.
    */
  def summarizeStream(docs: DataFrame, strategies: Strategies): DataFrame =
    strategies.truncated(docs)

  /** Idempotent batch write: each micro-batch lands in its own
    * `batch_id=<id>` partition directory with overwrite semantics. A batch
    * that fails between the parquet write and the checkpoint offset commit
    * is replayed under the SAME batchId, so the retry overwrites its own
    * half-written partition instead of appending duplicates — this is what
    * upgrades foreachBatch's native at-least-once to exactly-once in the
    * sink table. Readers see `batch_id` as an ordinary partition column of
    * `outPath`.
    */
  def writeSummaryBatch(summaries: DataFrame, outPath: String, batchId: Long): Unit =
    summaries.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** Streaming curation: the batch pass's gate stage verbatim
    * (Curation.gate is projection-only, so it streams unchanged) plus
    * watermark-bounded exact prefix dedup via
    * `dropDuplicatesWithinWatermark` — first arrival per fingerprint wins,
    * and the fingerprint's state entry is EVICTED once the watermark passes
    * its event time, so state is bounded by the fingerprints seen within
    * one watermark window (a duplicate arriving after its original's state
    * expired is re-emitted — the accepted trade-off at unbounded scale).
    * Plain `dropDuplicates("fp")` would NOT get this TTL: Spark only ages
    * dedup state out when the event-time column is part of the dedup keys,
    * so its state grows with every fingerprint ever seen. Near-dup
    * connected components deliberately do NOT stream: min-label propagation
    * needs the global edge set, so production runs it as periodic batch
    * compaction over the curated table (the same split every large
    * pipeline makes: cheap per-record gates inline, global dedup offline).
    */
  def curateStream(docs: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minStopwordRatio: Double = 0.01,
      minTokens: Long = 5,
      maxPunctRatio: Double = 0.30,
      prefixLen: Int = 100,
      tsCol: String = "ts", watermarkDelay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5, substring}
    graft.operators.Curation.gate(docs,
        keepLangs, minStopwordRatio, minTokens, maxPunctRatio)
      .withColumn("fp", md5(substring(col("text"), 1, prefixLen)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp", "punct_ratio")
  }

  /** Streaming benchmark decontamination — drop streaming docs sharing any
    * `ngramSize`-token shingle with a STATIC eval set, exactly. Built once
    * per streaming query ([[decontaminator]]) and applied per micro-batch
    * inside `foreachBatch`:
    *
    *  - The benchmark's distinct shingle hashes are aggregated DISTRIBUTED
    *    into a fixed-size Bloom filter (~1.2 MB per million grams at 1%
    *    fpp) and broadcast. The previous form collected the distinct
    *    hashes into a driver-side Set, which grows linearly with the eval
    *    suite (the 100x probe measured 0.89 -> 9.63 s as the eval slice
    *    grew); the Bloom build never lands the gram set on the driver —
    *    the same swap the batch path made for dc3
    *    ([[graft.operators.Dedup.contaminationReportBloom]]).
    *  - Each micro-batch then runs the dc3 plan: per-gram Bloom prefilter
    *    (prunes the corpus gram stream to true hits + fpp of the rest)
    *    followed by an exact semi-join against the PERSISTED benchmark
    *    gram table. Bloom filters have no false negatives and the verify
    *    join removes the false positives, so the kept set is bit-identical
    *    to [[graft.operators.Dedup.decontaminate]] at ANY fpp
    *    (StreamingSpec pins parity at 0.01 and 0.3).
    *
    * The stage stays STATELESS across batches (decontamination is
    * per-doc; no state store, no watermark). foreachBatch rather than a
    * per-row streaming filter because EXACT verification ("no shingle is
    * a member") needs the distributed gram table — a per-row filter can
    * only consult a driver-collected structure, which is exactly the
    * scaling defect this replaces. A growing benchmark still means
    * restarting the query with a fresh instance (eval sets change per
    * release, not per micro-batch). Call [[StreamDecontaminator.close]]
    * when the query stops to release the persisted gram table.
    */
  final class StreamDecontaminator private[streaming] (
      benchGrams: DataFrame,
      bloomBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      textCol: String, ngramSize: Int, idCol: String) {

    /** The clean subset of one micro-batch (any exact shingle hit drops
      * the doc — the strict maxOverlap = 0 form of the batch operator).
      */
    def apply(batch: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{col, explode, udf}
      val hs = graft.operators.Dedup.shingleHashesUdf(ngramSize)
      val bc = bloomBc // local binding: the udf must not capture `this`
      val mightContain = udf { (h: Long) => bc.value.mightContainLong(h) }
      val flagged = batch
        .select(col(idCol), explode(hs(col(textCol))).as("h"))
        .filter(mightContain(col("h")))
        .join(benchGrams, Seq("h"), "left_semi")
        .select(col(idCol)).distinct()
      batch.join(flagged, Seq(idCol), "left_anti")
    }

    def close(): Unit = {
      benchGrams.unpersist()
      bloomBc.unpersist()
    }
  }

  /** Build the per-query decontamination state (distributed Bloom +
    * persisted exact gram table) for [[StreamDecontaminator]]. Size
    * `expectedGrams`/`fpp` for the eval suite; parity with the batch
    * operator holds at any fpp — the knobs trade prefilter selectivity
    * (join input volume) against broadcast size only.
    */
  def decontaminator(benchmark: DataFrame, textCol: String = "text",
      ngramSize: Int = 13, idCol: String = "doc_id",
      expectedGrams: Long = 1L << 20, fpp: Double = 0.01): StreamDecontaminator = {
    import org.apache.spark.sql.functions.{col, explode}
    val hs = graft.operators.Dedup.shingleHashesUdf(ngramSize)
    val benchGrams = benchmark
      .select(explode(hs(col(textCol))).as("h")).distinct().persist()
    val bloom = benchGrams.stat.bloomFilter("h", expectedGrams, fpp)
    val bc = benchmark.sparkSession.sparkContext.broadcast(bloom)
    new StreamDecontaminator(benchGrams, bc, textCol, ngramSize, idCol)
  }

  /** Streaming near-duplicate ingest dedup: the DD14 greedy keeper rule
    * ([[graft.operators.Dedup.lshDedupGreedy]]) applied per micro-batch
    * against a PERSISTENT band-key store. Per batch:
    *
    *  1. band the batch with the exact dd2/dd3 MinHash chain;
    *  2. drop docs whose band keys collide with any STORED key — keys of
    *    previously-dropped docs count as seen too, the same compare-
    *    against-anything-seen greedy every online fingerprint store
    *    implements (and the rule dd14 evaluates arrival-order-free within
    *    one set);
    *  3. within the batch, apply dd14's rule among the batch's own docs
    *    (min doc_id wins each bucket — deterministic where intra-batch
    *    arrival order is not);
    *  4. append the batch's band keys to the store under `batch_id=<id>`
    *    with overwrite semantics (the [[writeSummaryBatch]] exactly-once
    *    discipline). The store snapshot read in step 2 EXCLUDES the
    *    current batch_id, so a batch replayed after a crash between the
    *    store write and the sink commit does not collide with its own
    *    half-written keys.
    *
    * Scale shape: the store is disk-backed parquet, linear in corpus bands
    * — the production fingerprint-store pattern, not driver state. The
    * per-batch collision check scans the store ONCE against the batch's
    * broadcast key set (micro-batches are small by construction), so no
    * store shuffle per trigger; at 100 TB the scan amortizes further with
    * a Bloom prefilter over stored keys (the dc3/stream_decontam
    * composition) or a key-prefix-bucketed store layout — the parquet
    * store here is the exact-verify side either way. Near-dup dedup needs
    * this store because LSH collision is a JOIN, not a per-key equality —
    * `dropDuplicatesWithinWatermark` (the stream_dedup form) can TTL-edit
    * exact fingerprints but cannot express "any of my 4 band keys was
    * ever seen".
    */
  final class NearDupDeduper private[streaming] (storeDir: String,
      textCol: String, shingleSize: Int, bands: Int, rowsPerBand: Int,
      maxBucketSize: Option[Int]) {

    /** The kept subset of one micro-batch (side effect: appends the
      * batch's band keys to the store, idempotently per `batchId`).
      */
    def apply(batch: DataFrame, batchId: Long): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, col}
      val banded = graft.operators.Materialize(
        graft.operators.Dedup.lshBandRows(
          batch, textCol, shingleSize, bands, rowsPerBand))
      val storeHits = storeSnapshot(batch.sparkSession, batchId) match {
        case Some(store) =>
          // store streams, batch keys broadcast-build: collided keys are
          // bounded by the batch's key count, so both joins keep the
          // store out of any shuffle.
          val batchKeys = banded.select(col("band"), col("band_key")).distinct()
          val collided = store
            .join(broadcast(batchKeys), Seq("band", "band_key"), "left_semi")
            .distinct()
          banded.join(broadcast(collided), Seq("band", "band_key"), "left_semi")
            .select(col("doc_id")).distinct()
        case None => banded.select(col("doc_id")).limit(0)
      }
      val batchDropped =
        graft.operators.Dedup.lshDroppedIds(banded, maxBucketSize)
      // Materialize BEFORE the store append below: the drop set must be
      // computed against the store snapshot as of this batch's start.
      val dropped = graft.operators.Materialize(
        storeHits.union(batchDropped).distinct())
      banded.select(col("band"), col("band_key")).distinct()
        .write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
      batch.join(dropped, Seq("doc_id"), "left_anti")
    }

    /** Stored band keys from every batch EXCEPT `batchId` (replay safety),
      * or None before the first append.
      */
    private def storeSnapshot(spark: SparkSession,
        batchId: Long): Option[DataFrame] = {
      import org.apache.spark.sql.functions.col
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists(_.isDirectory))
        Some(spark.read.parquet(storeDir)
          .filter(col("batch_id") =!= batchId)
          .select(col("band"), col("band_key")))
      else None
    }
  }

  /** Build a [[NearDupDeduper]] over a fresh or resumed band-key store
    * directory. Geometry defaults to dd14's SHARP 6x4 point — a store
    * collision drops a document with no verify stage, so the banding must
    * be sharp enough that sub-threshold collisions are negligible (see
    * [[graft.operators.Dedup.lshDedupGreedy]]); pick other operating
    * points from a similarity target with
    * [[graft.operators.Dedup.lshGeometry]].
    */
  def nearDupDeduper(storeDir: String, textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 6, rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = None): NearDupDeduper =
    new NearDupDeduper(storeDir, textCol, shingleSize, bands, rowsPerBand,
      maxBucketSize)

  /** Full map-reduce summarization per micro-batch, written to `outPath`
    * keyed by batch id (exactly-once; see [[writeSummaryBatch]]), run to
    * termination over every file present at start.
    * The collapse loop's actions run inside foreachBatch on the
    * batch's (bounded) new-arrivals set, so stream progress is unaffected
    * by corpus size — only by per-trigger file volume.
    */
  def mapReducePerBatch(docs: DataFrame, strategies: Strategies,
      outPath: String, checkpoint: String): StreamingQuery =
    graft.Scratch.drain(docs, checkpoint) { (batch, batchId) =>
      writeSummaryBatch(strategies.mapReduce(batch), outPath, batchId)
    }
}
