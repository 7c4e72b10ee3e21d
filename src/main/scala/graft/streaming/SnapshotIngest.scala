package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{FileSkipping, Sinks}

/** EXACTLY-ONCE streaming ingest into the versioned snapshot store —
  * the composition a production lakehouse runs all day: every
  * micro-batch becomes ONE atomic snapshot version carrying
  *
  *   - `data`: the previous version's files hard-linked forward plus
  *     the batch's new files (append is links + new bytes, never a
  *     rewrite),
  *   - `file_stats`: the previous stats rows verbatim plus fresh
  *     per-file sketches over the NEW files only (the s16c mergeable
  *     algebra — ANALYZE stays current without a rescan, and the
  *     pruned-read/OPTIMIZE consumers see every version's stats at the
  *     same commit as its data),
  *   - `meta`: a one-row table holding the batch id.
  *
  * `meta` is what upgrades foreachBatch's native at-least-once to
  * exactly-once: the id travels INSIDE the same atomic multi-table
  * commit as the data, so a batch replayed after a crash between the
  * publish and Spark's checkpoint offset commit finds its own id (or a
  * later one) already committed and SKIPS — there is no window where
  * data landed but the dedup marker did not. (The
  * [[graft.streaming.CorpusStreams.writeSummaryBatch]] pattern gets
  * this from idempotent partition overwrite; here the sink is a
  * versioned table, so the marker rides the transaction instead.)
  *
  * Scale shape per batch: one validated read of the 1-row `meta` and
  * the metadata-scale `file_stats`, hard links for every carried file,
  * one write + one sketch pass + one manifest scan over the BATCH's
  * bytes ONLY — the data table publishes through
  * [[graft.operators.Sinks.publishSnapshotStagedAppend]], whose merged
  * manifest (committed carried (n, xor) ⊕ new-files scan; the key
  * fingerprint is a bit_xor, so it merges file-wise exactly like the
  * stats sketches) keeps the per-commit cost FLAT as the table grows.
  * The read side still revalidates the whole table against the merged
  * manifest, so any break in the commit-to-commit trust chain fails
  * loudly at first read.
  *
  * Readers pinned at any earlier version are untouched by later
  * batches (snapshot isolation); [[graft.operators.Sinks
  * .expireVersions]] bounds the version history a long-running stream
  * accumulates.
  */
object SnapshotIngest {

  /** Commit one micro-batch as a new snapshot version; None = the batch
    * id is already committed (a replay) and nothing was written. Pass a
    * `scratch` directory on the same filesystem as `root` (stage dirs
    * are consumed by the publish).
    */
  def commitBatch(batch: DataFrame, batchId: Long, root: String,
      scratch: String, keyCol: String = "doc_id",
      statCols: Seq[String] = Seq("doc_id")): Option[Long] = {
    val spark = batch.sparkSession
    val cur = Sinks.currentVersion(root)
    if (alreadyCommitted(spark, root, cur, batchId)) return None
    val stage = java.nio.file.Paths.get(s"$scratch/b$batchId/data")
    val carried = cur.toSeq.flatMap(v =>
      Sinks.committedFilePaths(root, "data", Some(v)))
    Sinks.linkForward(stage, carried)
    batch.write.mode("append").parquet(stage.toString)
    val carriedNames = carried.map(Sinks.fileName).toSet
    val newStats = newFileStats(spark, stage, carriedNames, batch.schema,
      statCols, keyCol)
    // allowMissingColumns: a root whose earlier versions predate the
    // per-file __keyxor column keeps working (their rows carry null —
    // the CDC manifest merge detects that and falls back to a scan)
    val stats = cur
      .map(v => Sinks.readSnapshotTable(spark, root, "file_stats", Some(v))
        .unionByName(newStats, allowMissingColumns = true))
      .getOrElse(newStats)
    // append-manifest publish: the carried files' (n, xor) comes from
    // their own committed manifest (bit_xor merges file-wise), so the
    // commit scans ONLY this batch's bytes — per-batch cost stays flat
    // as the table grows; the read side still revalidates the whole
    // table against the merged manifest
    val carriedManifest = cur.map { v =>
      val (nPrev, xPrev) = Sinks.commitManifest(root, "data", Some(v))
      (nPrev, xPrev, carriedNames)
    }
    Some(publish(root, scratch, batchId, stage, keyCol, carriedManifest,
      stats))
  }

  /** The CDC twin of [[commitBatch]] — STREAMING MERGE INTO: one
    * micro-batch of CHANGELOG rows (`keyCol`, `op` ∈
    * insert|update|delete, payload…, `seq`) committed as a new snapshot
    * version with the s20 file-granular apply. Touched files are
    * decided from the CURRENT version's COMMITTED per-file stats by a
    * broadcast range join of the changed keys against `__min_/__max_`
    * of `keyCol` (metadata-scale — no data file opened for the
    * decision); only their rows pass
    * [[graft.operators.Sinks.applyChangelog]] and rewrite, untouched
    * files hard-link forward with their stats rows VERBATIM, the
    * rewritten files re-sketch, and the batch-id `meta` rides the same
    * atomic commit — replays are exactly-once exactly as in
    * [[commitBatch]]. The first batch (no current version) bootstraps
    * the table from the changelog's insert/update payloads.
    *
    * The data manifest MERGES here too: the stats table carries a
    * per-file key fingerprint ([[graft.operators.FileSkipping
    * .fileStatsKeyed]]'s `__keyxor`), so the carried subset contributes
    * Σ__n ⊕ ⊕__keyxor from its stats rows and only the REWRITTEN files
    * scan at publish — a mutation commit costs O(changed bytes), the
    * same flat cost as the append path. A root whose carried stats rows
    * predate the fingerprint column degrades to a full-scan manifest
    * (never a guess); the read side revalidates the whole table either
    * way.
    */
  def commitChangelogBatch(changes: DataFrame, batchId: Long, root: String,
      scratch: String, keyCol: String = "doc_id",
      statCols: Seq[String] = Seq("doc_id"),
      bootstrapPartitions: Int = 8): Option[Long] = {
    require(statCols.contains(keyCol),
      s"statCols must include $keyCol — the touched-file decision reads " +
        s"its per-file range")
    val spark = changes.sparkSession
    val cur = Sinks.currentVersion(root)
    if (alreadyCommitted(spark, root, cur, batchId)) return None
    // an empty micro-batch (heartbeat tick) commits nothing — rewriting
    // touched files under a no-op changelog would be pure churn
    if (changes.isEmpty) return None
    val payload = changes.drop("op", "seq")
    val stage = java.nio.file.Paths.get(s"$scratch/b$batchId/data")
    // carried manifest contribution: Σ__n ⊕ ⊕__keyxor over the carried
    // files' stats rows (Sinks.statsManifest)
    val (carryPaths, touchedPaths, carriedManifest) = cur match {
      case None => (Seq.empty[String], Seq.empty[String],
        Option.empty[(Long, Long)])
      case Some(v) =>
        val stats = Sinks.readSnapshotTable(spark, root, "file_stats",
          Some(v))
        val touchedNames = stats
          .join(broadcast(changes.select(col(keyCol).as("__k")).distinct()),
            col("__k") >= col(s"__min_$keyCol") &&
              col("__k") <= col(s"__max_$keyCol"), "left_semi")
          .select(col("__file").cast("string")).collect()
          .map(_.getString(0)).toSet
        val paths = Sinks.committedFilePaths(root, "data", Some(v))
        val carried = paths.filterNot(p => touchedNames(Sinks.fileName(p)))
        (carried, paths.filter(p => touchedNames(Sinks.fileName(p))),
          Sinks.statsManifest(stats, carried.map(Sinks.fileName)))
    }
    Sinks.linkForward(stage, carryPaths)
    val base =
      if (touchedPaths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          payload.schema)
      else spark.read.schema(payload.schema).parquet(touchedPaths.sorted: _*)
    // rewrite parallelism preserves file granularity (one rewritten
    // file per touched file); the BOOTSTRAP batch range-partitions into
    // `bootstrapPartitions` files so later band-local mutations touch a
    // strict subset instead of one monolith
    val parts =
      if (cur.isEmpty) math.max(1, bootstrapPartitions)
      else math.max(1, touchedPaths.size)
    Sinks.applyChangelog(base, changes, keyCol)
      .repartitionByRange(parts, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("append").parquet(stage.toString)
    val carriedNames = carryPaths.map(Sinks.fileName).toSet
    val newStats = newFileStats(spark, stage, carriedNames, payload.schema,
      statCols, keyCol)
    val stats = cur
      .map { v =>
        val touchedNameSet = touchedPaths.map(Sinks.fileName).toSet
        Sinks.readSnapshotTable(spark, root, "file_stats", Some(v))
          .filter(!col("__file").cast("string")
            .isin(touchedNameSet.toSeq: _*))
          .unionByName(newStats, allowMissingColumns = true)
      }
      .getOrElse(newStats)
    // with per-file fingerprints the mutation commit's data manifest
    // MERGES too (carried Σn/⊕xor + scan of the rewritten files only) —
    // O(changed bytes), the same flat cost as the append path; a root
    // whose carried rows predate __keyxor degrades to a full scan
    Some(publish(root, scratch, batchId, stage, keyCol,
      carriedManifest.map { case (n, x) => (n, x, carriedNames) }, stats))
  }

  /** Replay guard: true when `batchId` is at or below the batch id the
    * current version's `meta` holds. A root whose current version
    * predates the ingest (no meta table yet) has committed no batch, but
    * a validation failure is NEVER swallowed — a tampered meta must stop
    * the stream, not re-ingest.
    */
  private def alreadyCommitted(spark: SparkSession, root: String,
      cur: Option[Long], batchId: Long): Boolean =
    cur.flatMap { _ =>
      try Some(Sinks.readSnapshotTable(spark, root, "meta")
        .agg(max(col("batch_id"))).head().getLong(0))
      catch {
        case e: RuntimeException
            if e.getMessage != null &&
              e.getMessage.contains("has no table 'meta'") => None
      }
    }.exists(_ >= batchId)

  /** Keyed per-file stats rows (keyed by file NAME, stable across the
    * commit move) over the files of `stage` that are not carried — the
    * batch's new or rewritten files only.
    */
  private def newFileStats(spark: SparkSession, stage: java.nio.file.Path,
      carriedNames: Set[String], schema: StructType, statCols: Seq[String],
      keyCol: String): DataFrame = {
    val newPaths = spark.read.parquet(stage.toString).inputFiles
      .map(u => new java.net.URI(u).getPath)
      .filterNot(p => carriedNames(Sinks.fileName(p))).toSeq
    FileSkipping.fileStatsKeyed(
        spark.read.schema(schema).parquet(newPaths.sorted: _*),
        statCols, keyCol)
      .withColumn("__file", regexp_extract(col("__file"), "[^/]+$", 0))
  }

  /** Write the batch's stats table and one-row `meta`, then publish
    * data + stats + meta as ONE snapshot version.
    */
  private def publish(root: String, scratch: String, batchId: Long,
      stage: java.nio.file.Path, keyCol: String,
      carried: Option[Sinks.CarriedManifest], stats: DataFrame): Long = {
    val spark = stats.sparkSession
    import spark.implicits._
    stats.coalesce(1).write.parquet(s"$scratch/b$batchId/stats")
    Seq(batchId).toDF("batch_id").coalesce(1)
      .write.parquet(s"$scratch/b$batchId/meta")
    Sinks.publishSnapshotStagedAppend(Map(
      "data" -> ((stage.toString, keyCol, carried)),
      "file_stats" -> ((s"$scratch/b$batchId/stats", "__file", None)),
      "meta" -> ((s"$scratch/b$batchId/meta", "batch_id", None))),
      root, spark)
  }
}
