package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Manifest-based file skipping — the OPERATIONAL consumer of the
  * per-partition ANALYZE stats ([[TableQuality.partitionStats]]): what
  * Delta/Iceberg do with file-level min/max in the transaction log
  * instead of parquet footers. A footer-pruning scan still OPENS every
  * file to read its footer; at 100 TB (hundreds of thousands of files on
  * an object store) the listing + footer round-trips dominate a selective
  * scan, so the planner must decide from a STATS TABLE — metadata-scale
  * rows maintained incrementally (the s16c append discipline: new files
  * sketch once, stats merge forever) — and touch only the chosen files.
  *
  * The decision rule is the same box intersection the s13d gate measures
  * from real footers, so "files the stats table chooses" ==
  * "files a footer-pruning planner reads" is itself gate-checkable.
  */
object FileSkipping {

  /** Per-FILE stats rows in ONE scan: [[TableQuality.partitionStats]]
    * grouped by `input_file_name()` — one mergeable row per physical
    * file (`__file` column carries the path). This is the table a
    * lakehouse log keeps per data file; union rows for new files on
    * append, never rescan old ones.
    */
  def fileStats(df: DataFrame, cols: Seq[String]): DataFrame =
    TableQuality.partitionStats(
      df.withColumn("__file", input_file_name()), "__file", cols)

  /** [[fileStats]] plus a per-file KEY FINGERPRINT column `__keyxor`
    * (the [[Sinks.keyFingerprintSql]] bit_xor over `keyCol`, per file)
    * — the column that makes a MUTATION commit's manifest mergeable:
    * a CDC publish whose carried files have per-file (n, xor) rows can
    * compute the table manifest as Σ__n ⊕ ⊕__keyxor over the carried
    * rows plus a scan of only the rewritten files
    * ([[graft.streaming.SnapshotIngest.commitChangelogBatch]]), the
    * same flat-cost trick [[Sinks.publishSnapshotStagedAppend]] plays
    * for appends — there with the whole-table manifest, here at file
    * granularity because a mutation carries an arbitrary SUBSET
    * forward. Downstream stats consumers (mergeSketches,
    * detectUnclustered, pruning) ignore the extra column.
    */
  def fileStatsKeyed(df: DataFrame, cols: Seq[String],
      keyCol: String): DataFrame = {
    // ONE grouped pass: the sketch aggregates and the key fingerprint
    // ride the same groupBy(__file), so a commit sketches its batch's
    // files in a single scan — the old shape ran a second full scan of
    // the same files just for the xor and joined it back (guide §2.4:
    // two operations keyed the same way share one exchange). Same
    // aggregates, same grouping, same output column order.
    require(cols.nonEmpty, "fileStatsKeyed: no columns")
    require(!cols.contains("__file"),
      "__file is the grouping column, not a stats column")
    cols.foreach(TableQuality.validName(_, "column name"))
    val withFile = df.withColumn("__file", input_file_name())
    val aggs = TableQuality.sketchAggs(cols, 12) :+
      expr("coalesce(bit_xor(" +
        s"${Sinks.keyFingerprintSql(keyCol)}), 0)").as("__keyxor")
    withFile.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
  }

  /** A pruning predicate over one column, decided from the per-file stats
    * row alone. Pruning is a SUPERSET guarantee: a kept file may still
    * hold non-matching rows (the caller applies the row predicate on
    * top); a dropped file provably holds none.
    */
  sealed trait PrunePredicate { def column: String }

  /** `column BETWEEN lo AND hi` on a long-castable column: keep the file
    * iff its typed [min, max] intersects [lo, hi]. A file whose column is
    * all-null has null min/max and is dropped — correct, because a null
    * never satisfies a range predicate.
    */
  final case class LongRange(column: String, lo: Long, hi: Long)
      extends PrunePredicate

  /** `column IN (values)` on a STRING column: keep the file iff some
    * value falls inside the file's lexicographic [min, max] — the same
    * ordering parquet/Spark string min/max use, so the bound is sound
    * for equality. (The per-file HLL sketch deliberately does NOT
    * short-circuit membership here: HLL answers cardinality, not
    * membership, and a probabilistic "absent" would break the superset
    * guarantee. A Bloom filter column would be the sound upgrade.)
    */
  final case class StringIn(column: String, values: Seq[String])
      extends PrunePredicate {
    require(values.nonEmpty, s"StringIn($column): no values")
  }

  /** `column IS NULL`: keep the file iff its null count is non-zero —
    * the `__nulls_` column the stats rows already carry.
    */
  final case class NullOnly(column: String) extends PrunePredicate

  /** `column IN (values)` decided from a per-file BLOOM FILTER
    * ([[bloomFileStats]] rows joined/selected alongside the min/max
    * stats): the sound membership structure min/max can't give on
    * UNCLUSTERED data — a round-robin file spans the whole domain, so
    * the [[StringIn]] bracket keeps every file, while the bloom keeps
    * only files whose bitmap has all `probes` bits set for some value
    * (no false negatives by construction; false positives cost an extra
    * opened file, never a wrong row). `bits`/`probes` must match the
    * values the stats were built with.
    */
  final case class BloomEq(column: String, values: Seq[String],
      bits: Int = 1024, probes: Int = 2) extends PrunePredicate {
    require(values.nonEmpty, s"BloomEq($column): no values")
  }

  /** The bloom hash family, shared verbatim by the build aggregate (as
    * SQL) and the query side (as Scala): probe p of value v is the
    * md5-prefix-long of "bf<p>:<v>" (the repo's keyed-hash convention —
    * engine-portable, so a DuckDB oracle can replay the whole bitmap),
    * taken mod `bits`.
    */
  private def bloomPosSql(c: String, p: Int, bits: Int): String =
    s"pmod(cast(conv(substring(md5(concat('bf$p:', cast($c as string)))," +
      s" 1, 15), 16, 10) as bigint), $bits)"

  private[graft] def bloomPos(v: String, p: Int, bits: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"bf$p:$v".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % bits).toInt
  }

  /** Per-FILE Bloom filter over one column, built in ONE grouped scan:
    * `bits` bitmap bits packed into `bits/64` long words
    * (`__bf_<col>_w0..`), each word the `bit_or` of the rows' probe
    * bits. Metadata-scale output (one row per file), mergeable by
    * further `bit_or` (a compaction unions the inputs' blooms instead
    * of rescanning), and the membership test is pure word/bit math on
    * the stats row. Size it like any bloom: false-positive rate
    * ≈ (1 - e^(-probes·rowsPerFile/bits))^probes — at the default
    * 1024/2 keep files under ~300 rows per indexed column, or raise
    * `bits`.
    */
  def bloomFileStats(df: DataFrame, c: String, bits: Int = 1024,
      probes: Int = 2): DataFrame = {
    require(bits % 64 == 0 && bits > 0, s"bits must be a multiple of 64: $bits")
    require(probes >= 1, s"probes: $probes")
    val words = bits / 64
    val contrib = (w: Int) => (0 until probes).map { p =>
      val pos = bloomPosSql(c, p, bits)
      s"(case when ($pos div 64) = $w then " +
        s"shiftleft(cast(1 as bigint), cast($pos % 64 as int)) " +
        "else cast(0 as bigint) end)"
    }.mkString(" | ")
    val aggs = (0 until words).map(w =>
      expr(s"bit_or(${contrib(w)})").as(s"__bf_${c}_w$w"))
    df.withColumn("__file", input_file_name())
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The keep-file condition for a conjunction of predicates over one
    * stats row (null-safe: an undecidable comparison keeps nothing only
    * when that is provably sound, see each predicate's rule).
    */
  private def keepExpr(preds: Seq[PrunePredicate]): Column = {
    require(preds.nonEmpty, "FileSkipping: no predicates")
    preds.map {
      case LongRange(c, lo, hi) =>
        coalesce(col(s"__max_$c").cast("long") >= lo &&
          col(s"__min_$c").cast("long") <= hi, lit(false))
      case StringIn(c, vs) =>
        vs.map(v => coalesce(col(s"__min_$c").cast("string") <= lit(v) &&
          col(s"__max_$c").cast("string") >= lit(v), lit(false)))
          .reduce(_ || _)
      case NullOnly(c) =>
        coalesce(col(s"__nulls_$c") > 0L, lit(false))
      case BloomEq(c, vs, bits, probes) =>
        vs.map { v =>
          (0 until probes).map { p =>
            val pos = bloomPos(v, p, bits)
            coalesce((col(s"__bf_${c}_w${pos / 64}")
              .bitwiseAND(lit(1L << (pos % 64)))) =!= 0L, lit(false))
          }.reduce(_ && _)
        }.reduce(_ || _)
    }.reduce(_ && _)
  }

  /** The chosen-file set as a LAZY frame (one `__file` column) — the
    * form every consumer that must stay driver-safe composes on.
    */
  def chosenFiles(stats: DataFrame, preds: Seq[PrunePredicate]): DataFrame =
    stats.filter(keepExpr(preds)).select(col("__file").cast("string"))

  /** Stats-driven pruned read over typed predicates (conjunction): the
    * stats scan and the file-list collect are metadata-scale; no unchosen
    * file is opened. Returns the unfiltered union of the chosen files —
    * the caller applies its row predicate on top. A fully-pruned scan
    * returns an empty frame with the caller's `schema` (reading zero
    * paths cannot infer one).
    *
    * DRIVER BOUND: at 10⁵-10⁶ files a low-selectivity predicate makes
    * the chosen-path array itself the scale problem (r13 advice), so the
    * collect is capped at `maxListedFiles`. When the predicate chooses
    * more than the cap — pruning is not profitable there anyway — the
    * read falls back to the WHOLE table at `tableDir` (still a superset,
    * same contract), collecting nothing but one count. Callers that
    * need the exact chosen set (the gates' double-entry bookkeeping)
    * pass a cap above their known file count.
    */
  def prunedParquetTyped(spark: SparkSession, stats: DataFrame,
      preds: Seq[PrunePredicate], schema: StructType,
      tableDir: Option[String] = None,
      maxListedFiles: Int = 4096): DataFrame = {
    val keep = keepExpr(preds)
    val m = stats.agg(count(lit(1)).as("total"),
      sum(when(keep, 1L).otherwise(0L)).as("chosen")).head()
    val (total, chosen) =
      (m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
    if (chosen == 0L)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (tableDir.nonEmpty && (chosen > maxListedFiles || chosen == total))
      spark.read.schema(schema).parquet(tableDir.get)
    else {
      require(chosen <= maxListedFiles,
        s"prunedParquetTyped: predicate chooses $chosen of $total files " +
          s"(> maxListedFiles=$maxListedFiles) and no tableDir fallback " +
          "was given — refusing to materialize the path array on the driver")
      val paths = stats.filter(keep).select(col("__file").cast("string"))
        .collect().map(_.getString(0)).toSeq
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Long-range form kept for the established call sites: conjunctive
    * [lo, hi] ranges, exact chosen-set semantics (no fallback — gates
    * recompute footer decisions against exactly these files).
    */
  def prunedParquet(spark: SparkSession, stats: DataFrame,
      ranges: Seq[(String, Long, Long)], schema: StructType): DataFrame =
    prunedParquetTyped(spark, stats,
      ranges.map { case (c, lo, hi) => LongRange(c, lo, hi) }, schema,
      tableDir = None, maxListedFiles = Int.MaxValue)

  /** Layout-degradation detector for the OPTIMIZE loop (the s13f
    * decision, graduated to an API with a FILE-COUNT-ADAPTIVE cutoff —
    * r13 advice: the old fixed `coverage > 0.25` false-positives a
    * legitimate Hilbert tile once numFiles ≤ 16, because a contiguous
    * curve segment's bounding box can blow up ~4× over its area share).
    *
    * Coverage = the file's min/max box area over the key plane. The
    * distribution a degraded table shows is BIMODAL: clustered tiles
    * cover ~1/n (≤ ~4/n worst case), unsorted appends cover ~1. So the
    * cutoff is `min(0.5, marginFactor × median coverage)`: the median
    * rides the clustered mode while tiles dominate (margin 6 clears the
    * 4× worst case with room), and the 0.5 ceiling keeps full-plane
    * appends detectable even when appends are the majority or the table
    * has ≤ 4 files (a 4-file Hilbert layout is exact quadrants at
    * coverage 0.25 — below the ceiling, so a legit small table is never
    * flagged wholesale; spec-pinned). Metadata-scale: one aggregate over
    * the stats rows for the median, one filter.
    *
    * Returns the stats rows of the flagged files, `__cov` attached.
    */
  def detectUnclustered(stats: DataFrame, aCol: String, bCol: String,
      planeArea: Double, marginFactor: Double = 6.0): DataFrame = {
    require(planeArea > 0, s"planeArea must be positive: $planeArea")
    val covd = stats.withColumn("__cov",
      (col(s"__max_$aCol") - col(s"__min_$aCol") + 1).cast("double") *
        (col(s"__max_$bCol") - col(s"__min_$bCol") + 1).cast("double") /
        lit(planeArea))
    val med = covd.agg(expr("percentile(__cov, 0.5)")).head().getDouble(0)
    val cutoff = math.min(0.5, marginFactor * med)
    covd.filter(col("__cov") > cutoff)
  }

  /** A box over two long key columns: (aLo, aHi, bLo, bHi), inclusive. */
  type KeyBox = (Long, Long, Long, Long)

  /** The (min, max) of two clustering columns in one aggregate — the key
    * plane a Hilbert layout and [[detectUnclustered]]'s coverage are
    * measured against. An empty table (or an all-null column) has no
    * plane: fail with `what` named instead of getLong's opaque NPE.
    */
  def keyRange(df: DataFrame, aCol: String, bCol: String,
      what: String = "table"): KeyBox = {
    val r = df.agg(min(col(aCol)).cast("long"), max(col(aCol)).cast("long"),
      min(col(bCol)).cast("long"), max(col(bCol)).cast("long")).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"$what is empty (or $aCol/$bCol all-null) — nothing to cluster")
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Files a min/max-pruning scan of `df` must open for `box`: the
    * files whose footer box over (`aCol`, `bCol`) — recomputed from the
    * rows, one grouped pass — intersects it. The independent measure the
    * layout gates hold a stats-table decision against.
    */
  def footerBoxFiles(df: DataFrame, aCol: String, bCol: String,
      box: KeyBox): Long = {
    val (a1, a2, b1, b2) = box
    df.groupBy(input_file_name().as("f"))
      .agg(min(col(aCol)).as("mina"), max(col(aCol)).as("maxa"),
        min(col(bCol)).as("minb"), max(col(bCol)).as("maxb"))
      .filter(col("maxa") >= a1 && col("mina") <= a2 &&
        col("maxb") >= b1 && col("minb") <= b2)
      .count()
  }

  /** OPTIMIZE's decide-and-rewrite half: the files of `files` whose
    * per-file stats row in `stats` [[detectUnclustered]] flags over the
    * `range` plane (stats `__file` values and `files` are matched by file
    * name, so full paths and bare committed names both work) are
    * Hilbert-rewritten into `out` as `numFiles` files under `schema`.
    * Returns the rewritten input paths; empty means nothing was degraded
    * and nothing was written.
    */
  def reclusterDegraded(spark: SparkSession, stats: DataFrame,
      files: Seq[String], schema: StructType, aCol: String, bCol: String,
      range: KeyBox, out: String, numFiles: Int): Seq[String] = {
    val (aLo, aHi, bLo, bHi) = range
    val planeArea = (aHi - aLo + 1).toDouble * (bHi - bLo + 1).toDouble
    val flagged = detectUnclustered(stats, aCol, bCol, planeArea)
      .select(col("__file").cast("string")).collect()
      .map(r => Sinks.fileName(r.getString(0))).toSet
    val detected = files.filter(p => flagged(Sinks.fileName(p)))
    if (detected.nonEmpty)
      ZOrder.writeHilbert(spark.read.schema(schema).parquet(detected.sorted: _*),
        aCol, bCol, aLo, aHi, bLo, bHi, out, numFiles)
    detected
  }
}
