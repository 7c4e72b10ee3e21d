package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational data-quality primitives a 100 TB ingestion runs before
  * anything downstream trusts a drop: rule EXPECTATIONS (the dbt-test /
  * Deequ / Delta-constraints shape), a SCHEMA CONTRACT (the drift check a
  * production ingest hits first — a new/missing/retyped column), and
  * per-column TABLE STATS (the ANALYZE primitive that feeds CBO join
  * sizing and file-skipping decisions) in both a from-scratch and a
  * MERGEABLE per-partition form. Everything is pure column math over one
  * pass per table, so the whole report — not just the verdict — replays
  * in oracle SQL.
  */
object TableQuality {

  /** Rule and column names are interpolated into generated `stack(...)`
    * expressions (as string literals and backtick-quoted aliases), so a
    * name carrying a quote or backtick would break — or worse, silently
    * alter — the generated expression. Locked to the same identifier
    * alphabet `publishSnapshot` enforces for table names; CLI-supplied
    * names (`graft dq --rules`) hit this before any expr is built.
    */
  private[operators] def validName(n: String, what: String): Unit =
    require(n.matches("[A-Za-z0-9_]+"),
      s"$what must match [A-Za-z0-9_]+: '$n'")

  /** One expectation: `name` + a row predicate; a row violates the rule
    * when the predicate is false OR null (SQL three-valued logic would
    * otherwise let a null sneak past a range check silently — the
    * classic constraint-validation bug).
    */
  final case class Rule(name: String, predicate: Column)

  private def validateRules(rules: Seq[Rule]): Unit = {
    require(rules.nonEmpty, "no rules")
    require(rules.map(_.name).distinct.length == rules.length,
      s"duplicate rule names: ${rules.map(_.name).mkString(",")}")
    rules.foreach(r => validName(r.name, "rule name"))
  }

  /** Row-rule expectations over one table, FUSED into a single aggregate
    * pass: (rule, n_checked, n_violations, pass) per rule. However many
    * rules, the scan count stays 1 — the property that makes running the
    * whole rulebook on every ingest affordable at corpus scale.
    */
  def expectations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    validateRules(rules)
    val aggs = count(lit(1)).as("__n") +:
      rules.map(r => sum(when(coalesce(r.predicate, lit(false)), 0L)
        .otherwise(1L)).as(s"__v_${r.name}"))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map(r =>
      s"'${r.name}', `__v_${r.name}`").mkString(", ")
    row.select(col("__n"),
      expr(s"stack(${rules.length}, $stacked) AS (rule, n_violations)"))
      .select(col("rule"), col("__n").as("n_checked"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"))
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy(col("rule"))
  }

  /** Referential expectation: child keys that do not exist in the parent.
    * ONE pass over the child — a left join against the distinct parent
    * keys (broadcast when the parent side is small, shuffle otherwise;
    * Catalyst/AQE decide) feeds a single aggregate counting rows and
    * misses together, returned LAZILY like [[expectations]] (the r12 form
    * ran a separate `count()` action per side at call time — 2× the
    * child I/O and an eager surprise in an otherwise-lazy report). A null
    * child key matches nothing and counts as a violation, same
    * three-valued-logic stance as the row rules. Same output shape as one
    * [[expectations]] rule so reports union cleanly.
    */
  def referential(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, name: String): DataFrame = {
    validName(name, "rule name")
    child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)).distinct()
          .withColumn("__parent_hit", lit(1)),
        Seq(childKey), "left")
      .agg(count(lit(1)).as("n_checked"),
        coalesce(sum(when(col("__parent_hit").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_violations"))
      .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))
  }

  /** Uniqueness expectation: rows beyond the first per key tuple count
    * as violations — one hash aggregate on the key, reduced to the report
    * row by a second (single-row) aggregate, all LAZY (the r12 form
    * executed `.head()` at call time).
    */
  def unique(df: DataFrame, keyCols: Seq[String], name: String): DataFrame = {
    require(keyCols.nonEmpty, "unique: no key columns")
    validName(name, "rule name")
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("n_checked"),
        coalesce(sum(col("__c") - 1L), lit(0L)).as("n_violations"))
      .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))
  }

  /** DQ3: schema-drift contract — the OTHER half of ingest-time quality
    * next to row rules: a drop whose schema gained, lost, or retyped a
    * column must fail the gate before any row rule runs (a row rulebook
    * over a retyped column just throws; over a silently-added column it
    * checks nothing). Pure METADATA — no scan, no job — compared as
    * expected name→type (Spark `catalogString`, e.g. "bigint",
    * "decimal(12,2)") vs the frame's observed schema, emitted as three
    * report rows in the [[expectations]] shape so reports union:
    *
    *   - `schema_missing_cols`: expected columns absent from the drop
    *     (n_checked = expected count);
    *   - `schema_extra_cols`: observed columns the contract doesn't know
    *     (n_checked = observed count);
    *   - `schema_retyped_cols`: shared columns whose observed type
    *     differs (n_checked = shared count).
    *
    * Type match is case-insensitive on the catalog string. Routing a
    * drifted drop is [[schemaContractPass]] + the caller's quarantine
    * move: schema drift is a TABLE-level verdict, so the whole drop goes
    * to the dead letter, not per-row tags.
    */
  def schemaContract(df: DataFrame, expected: Seq[(String, String)])
      : DataFrame = {
    require(expected.nonEmpty, "schemaContract: empty contract")
    require(expected.map(_._1).distinct.length == expected.length,
      s"duplicate contract columns: ${expected.map(_._1).mkString(",")}")
    val exp = expected.map { case (n, t) => n -> t.trim.toLowerCase }
    val obs = df.schema.fields.toSeq
      .map(f => f.name -> f.dataType.catalogString.toLowerCase)
    val expM = exp.toMap
    val obsM = obs.toMap
    val missing = exp.count { case (n, _) => !obsM.contains(n) }
    val extra = obs.count { case (n, _) => !expM.contains(n) }
    val shared = exp.filter { case (n, _) => obsM.contains(n) }
    val retyped = shared.count { case (n, t) => obsM(n) != t }
    val spark = df.sparkSession
    import spark.implicits._
    Seq(
      ("schema_extra_cols", obs.length.toLong, extra.toLong),
      ("schema_missing_cols", exp.length.toLong, missing.toLong),
      ("schema_retyped_cols", shared.length.toLong, retyped.toLong))
      .toDF("rule", "n_checked", "n_violations")
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy(col("rule"))
  }

  /** ACCEPTANCE rule for contract evolution — the ALTER TABLE ADD COLUMN
    * discipline: an evolved contract is compatible iff it keeps every
    * existing column at its EXACT type and only ADDS columns (new
    * columns read as null on pre-evolution data, so old snapshot
    * versions stay readable under the evolved schema). Anything else —
    * a dropped column, a retype — stays a drift that quarantines the
    * drop. Pure metadata, same case-insensitive catalog-string match as
    * [[schemaContract]].
    */
  def contractEvolves(old: Seq[(String, String)],
      evolved: Seq[(String, String)]): Boolean = {
    val o = old.map { case (n, t) => n -> t.trim.toLowerCase }
    val e = evolved.map { case (n, t) => n -> t.trim.toLowerCase }
    val eM = e.toMap
    e.map(_._1).distinct.length == e.length &&
      o.forall { case (n, t) => eM.get(n).contains(t) }
  }

  /** Table-level contract verdict — metadata-only (no job), the gate a
    * caller routes a whole drifted drop on.
    */
  def schemaContractPass(df: DataFrame, expected: Seq[(String, String)])
      : Boolean = {
    val exp = expected.map { case (n, t) => n -> t.trim.toLowerCase }.toMap
    val obs = df.schema.fields
      .map(f => f.name -> f.dataType.catalogString.toLowerCase).toMap
    obs.keySet == exp.keySet && exp.forall { case (n, t) => obs(n) == t }
  }

  /** Quarantine routing — the production shape of [[expectations]]: a
    * single projection tags every row with the comma-joined names of the
    * rules it fails (empty string = clean), then one filter each side
    * splits the flow. Violating rows carry WHY they were quarantined (the
    * dead-letter contract: a re-ingest after a rule fix replays exactly
    * the affected rows), clean rows proceed untouched. Scale shape: one
    * map-only pass, no shuffle — the tag column is a when-chain over the
    * same predicates the report aggregates, so report and routing can
    * never disagree.
    */
  def quarantine(df: DataFrame, rules: Seq[Rule])
      : (DataFrame, DataFrame) = {
    validateRules(rules)
    // build the tag from the non-empty parts via array+filter (a plain
    // concat_ws would leave stray separators around passing rules)
    val failedArr = filter(array(rules.map(r =>
      when(coalesce(r.predicate, lit(false)), lit(""))
        .otherwise(lit(r.name))): _*), x => x =!= "")
    val tagged = df.withColumn("failed_rules",
      array_join(failedArr, ","))
    (tagged.filter(col("failed_rules") === "").drop("failed_rules"),
      tagged.filter(col("failed_rules") =!= ""))
  }

  /** Per-column table statistics in ONE aggregate pass: row count, null
    * count, exact distinct count, min and max (rendered as strings so
    * heterogeneous columns share a schema; restrict to types whose
    * string form is engine-portable — integers, dates, strings). The
    * ANALYZE shape: these five numbers per column are what a cost-based
    * optimizer sizes joins with and what a file-skipping planner builds
    * from.
    */
  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame =
    tableStatsImpl(df, cols, approxNdv = false, rsd = 0.0)

  /** The 100 TB form of [[tableStats]]: NDV via HyperLogLog++
    * (approx_count_distinct) instead of exact COUNT(DISTINCT). The exact
    * form's N distinct aggregates force an Expand ×(N+1) — at the 60M-row
    * decade probe that was a 360M-row shuffle and 183 s; the sketch form
    * is ONE map-side-combinable pass, no Expand (measured 12× cheaper
    * there). Exact stays the oracle anchor; this is what ANALYZE runs on
    * a corpus, gated by `s16b`'s relative-error bound.
    */
  def tableStatsApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.02): DataFrame =
    tableStatsImpl(df, cols, approxNdv = true, rsd = rsd)

  // INPUT CONTRACT (r14 advice): `df` must be a deterministic snapshot —
  // the split below scans it TWICE (NDV pass crossJoined with the min/max
  // pass), so a non-deterministic or concurrently-mutating source could
  // mix two states in one report row. Every call site reads parquet
  // snapshots; Materialize(df) first if that ever stops being true.
  private def tableStatsImpl(df: DataFrame, cols: Seq[String],
      approxNdv: Boolean, rsd: Double): DataFrame = {
    require(cols.nonEmpty, "tableStats: no columns")
    cols.foreach(validName(_, "column name"))
    // TWO aggregation passes on purpose. min/max over a STRING column has
    // an immutable agg buffer, and an aggregate with no
    // TypedImperativeAggregate falls all the way back to SortAggregate —
    // mixed into the exact-NDV pass that means FULLY SORTING the
    // (cols+1)x-Expanded table by the 6-column distinct key (measured:
    // the one job was ~85% of s16's wall at sf0.1). Split, the NDV pass
    // keeps pure long buffers (HashAggregate over the Expand, no Sort)
    // and the min/max pass is a global single-group agg — SortAggregate
    // still, but with no grouping key there is nothing to sort: one
    // streaming pass with map-side partials. Two scans beat one sorted
    // 6x Expand at any scale; the crossJoin glues two 1-row frames.
    val ndvAggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val ndv =
        if (approxNdv) approx_count_distinct(col(c), rsd)
        else count_distinct(col(c))
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        ndv.as(s"__ndv_$c"))
    }
    val mmAggs = cols.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    stackStats(df.agg(ndvAggs.head, ndvAggs.tail: _*)
      .crossJoin(df.agg(mmAggs.head, mmAggs.tail: _*)), cols)
  }

  /** Render the wide one-row stats frame (`__n`, and per column
    * `__nulls_/__ndv_/__min_/__max_`, min/max already strings) into the
    * long ANALYZE report shape shared by [[tableStats]] and
    * [[mergeSketches]].
    */
  private def stackStats(row: DataFrame, cols: Seq[String]): DataFrame = {
    val stacked = cols.map(c =>
      s"'$c', `__nulls_$c`, `__ndv_$c`, `__min_$c`, `__max_$c`")
      .mkString(", ")
    row.select(col("__n"), expr(s"stack(${cols.length}, $stacked) " +
        "AS (column_name, n_nulls, ndv, min_value, max_value)"))
      .select(col("column_name"), col("__n").as("n_rows"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("ndv"), lit(0L)).as("ndv"),
        col("min_value"), col("max_value"))
      .orderBy(col("column_name"))
  }

  /** The per-column MERGEABLE aggregate list shared by [[columnSketches]]
    * and [[partitionStats]]: row count, and per column null count, an
    * HLL (Apache DataSketches) binary sketch of the string-rendered
    * values (the sketch aggregate accepts int/long/string/binary only,
    * and the string cast is injective for every stats-bearing type, so
    * the rendered NDV is the value NDV), and TYPED min/max — typed, not
    * string-rendered, because merging string min/max would compare "9" >
    * "10"; the string render happens once, after the merge.
    */
  private[operators] def sketchAggs(cols: Seq[String], lgK: Int)
      : Seq[Column] =
    count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        hll_sketch_agg(col(c).cast("string"), lit(lgK)).as(s"__sk_$c"),
        min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"))
    }

  /** Incremental-ANALYZE maintenance unit: ONE wide row of mergeable
    * column statistics for a batch/partition — count and per-column
    * nulls, HLL sketch (binary, parquet-persistable), typed min/max.
    * Count/nulls merge by SUM, min/max by MIN/MAX (exact — the mergeable
    * half of ANALYZE), the sketch by HLL union (native, bounded error).
    * At 100 TB this is the row a stats table keeps PER PARTITION under
    * the s14 snapshot discipline: an append computes sketches over the
    * NEW batch only, unions them into the stats table, and every stats
    * refresh is [[mergeSketches]] over metadata-scale rows instead of a
    * full table rescan (183 s exact / 3.9 s approx per refresh at the
    * 60M-row decade — per refresh, forever, without this).
    */
  def columnSketches(df: DataFrame, cols: Seq[String], lgK: Int = 12)
      : DataFrame = {
    require(cols.nonEmpty, "columnSketches: no columns")
    cols.foreach(validName(_, "column name"))
    val aggs = sketchAggs(cols, lgK)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** [[columnSketches]] grouped by a partition column — the whole
    * per-partition stats table in ONE scan (one row per partition value),
    * the input both [[mergeSketches]] and a stats-driven compactor
    * consume. `partCol` is retained on the output rows.
    */
  def partitionStats(df: DataFrame, partCol: String, cols: Seq[String],
      lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "partitionStats: no columns")
    require(!cols.contains(partCol),
      s"partition column $partCol cannot also be a stats column")
    cols.foreach(validName(_, "column name"))
    val aggs = sketchAggs(cols, lgK)
    df.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge several per-partition stats ROWS into ONE wide row with the
    * sketch kept AS a sketch (`hll_union_agg` binary, still union-able
    * downstream) — the compaction maintenance unit: the stats row of a
    * file built by concatenating others is the MERGE of their rows —
    * count/nulls by SUM, typed min/max by MIN/MAX, sketches by HLL
    * union, the per-file key fingerprint (when present) by bit_xor —
    * so compaction never re-sketches the bytes it moves
    * ([[graft.operators.Sinks.compactSnapshotVersion]]). Contrast
    * [[mergeSketches]], which REPORTS the merged estimate and is not
    * re-mergeable.
    */
  def mergeStatRows(parts: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "mergeStatRows: no columns")
    cols.foreach(validName(_, "column name"))
    val xor =
      if (parts.columns.contains("__keyxor"))
        Seq(expr("coalesce(bit_xor(__keyxor), 0)").as("__keyxor"))
      else Seq.empty
    val aggs = (sum(col("__n")).as("__n") +: cols.flatMap { c =>
      Seq(
        sum(col(s"__nulls_$c")).as(s"__nulls_$c"),
        hll_union_agg(col(s"__sk_$c"), lit(true)).as(s"__sk_$c"),
        min(col(s"__min_$c")).as(s"__min_$c"),
        max(col(s"__max_$c")).as(s"__max_$c"))
    }) ++ xor
    parts.agg(aggs.head, aggs.tail: _*)
  }

  /** Merge per-partition sketch rows ([[columnSketches]] /
    * [[partitionStats]] output, any extra tag columns ignored) into the
    * [[tableStats]] report shape: counts/nulls SUM, min/max MIN/MAX
    * (both EXACTLY equal to a from-scratch recompute — merge ≡ recompute
    * is the s16c oracle), NDV from the unioned HLL sketch (bounded
    * relative error, gated like s16b). The merge itself touches only the
    * stats rows — metadata scale — never the data.
    */
  def mergeSketches(parts: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "mergeSketches: no columns")
    cols.foreach(validName(_, "column name"))
    val aggs = sum(col("__n")).as("__n") +: cols.flatMap { c =>
      Seq(
        sum(col(s"__nulls_$c")).as(s"__nulls_$c"),
        hll_sketch_estimate(hll_union_agg(col(s"__sk_$c"), lit(true)))
          .as(s"__ndv_$c"),
        min(col(s"__min_$c")).cast("string").as(s"__min_$c"),
        max(col(s"__max_$c")).cast("string").as(s"__max_$c"))
    }
    stackStats(parts.agg(aggs.head, aggs.tail: _*), cols)
  }

  /** Stats currency: does the [[mergeSketches]] report over a per-file
    * stats table still describe `data`? Row count, null count, min and
    * max must equal a from-scratch [[tableStats]] recompute exactly (the
    * mergeable fields), and the union-sketch NDV must lie within 10% of
    * the exact one. The check a maintenance or ingest commit owes its
    * readers: a stale `__n` or sketch would silently mis-drive every
    * stats-driven decision downstream.
    */
  def statsCurrent(stats: DataFrame, data: DataFrame, cols: Seq[String])
      : Boolean = {
    def report(df: DataFrame) = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    val merged = report(mergeSketches(stats, cols))
    val recomputed = report(tableStats(data, cols))
    cols.forall { c =>
      val (mn, mnn, mndv, mmin, mmax) = merged(c)
      val (rn, rnn, rndv, rmin, rmax) = recomputed(c)
      mn == rn && mnn == rnn && mmin == rmin && mmax == rmax &&
        math.abs(mndv - rndv).toDouble <= 0.1 * rndv
    }
  }
}
