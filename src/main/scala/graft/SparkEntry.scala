package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{charCount, cleanThinking, exactAvg, exactStddevPop, exactSum,
  r4, squeezeWhitespace, tokenCount, truncateTokens}
import graft.Scratch.{drain, withScratch}
import graft.OracleSqlGen.{DocIdKeySql, DocRowKeySql, LineitemKeySql, apCte,
  benchShingleCtes, bigramLmCtes, bm25Ctes, boilerCleanCtes, cdcChunkCtes, cos4,
  cosineTopk, countXorSql, domainSql, exactCosineCtes, exactSumSql, flaggedCte,
  jaccardComponentCtes, jaccardCountCtes, jaccardNearDupSql, keyRangeCte,
  lmAvgExpr, lmMeanCte, md5UnitSql, md5XorSql, mortonSql, plantedBoilerCte,
  quarterBoxCtes, queryCte, recallTail, refSlice, spanGramCtes, spanRewriteSql,
  splitCaseSql, tok, tokenSlicePairsCte, wordShingleCtes, zScaleSql}
import graft.operators.{CorpusOps, Dedup, FileSkipping, Multimodal, Similarity,
  Sinks, TableQuality, TextAnalysis}

/** Driver contract (SURVEY.md §7): `entry`, plus one registry table whose
  * two views, `queries` and `oracleSql`, Verify, Bench and the specs read.
  *
  * Each section below ends with its own `Seq` of named [[Entry]]s, so a
  * name, its builder and its DuckDB oracle SQL (if any) are written once,
  * side by side; `registry` concatenates the sections and rejects a
  * repeated name. Every operator family of SURVEY.md §2 has at least one
  * entry; entries whose semantics are ANSI-SQL-expressible carry an
  * oracle (column names and value rounding are kept bit-compatible
  * between the Spark plan and the SQL). Summarization pipelines run the
  * deterministic extractive scalar and are checked rows-only plus by
  * ScalaTest golden fixtures.
  */
object SparkEntry {

  /** Table reader with INPUT-SKEW protection (guide §2.5): the driver's
    * test tables are single parquet files with one row group, so every
    * query's pre-Exchange stage — where the CPU-heavy text/hash chains
    * live — would otherwise run as ONE task whatever the core count
    * (profiled: 6+ s single-task stages on a 32-core session). An
    * unsplittable input is repartitioned right after the read; the
    * round-robin assignment is retry-deterministic (sortBeforeRepartition
    * is on) and every registered computation is partition-order
    * independent by the repo's exactSum/min-keeper discipline. SCALE:
    * adaptive, not tuned to local[32] — a table that already scans with
    * >= cores partitions (any real large layout) passes through
    * untouched, and the threshold derives from the session's own
    * parallelism. The spread key is a deterministic full-row xxhash64,
    * NOT round-robin: RoundRobinPartitioning pays a local sort of the
    * whole row per partition for retry determinism
    * (sortBeforeRepartition — measured ~10x the query's own CPU on the
    * flagship aggregate), while a hash of the row is retry-deterministic
    * for free and spreads exactly as well.
    */
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val cores = spark.sparkContext.defaultParallelism
    // don't bother spreading the tiny dimension tables (nation/region/...):
    // they broadcast anyway and the exchange would be pure overhead.
    // Directory-layout datasets sum their files' sizes — Files.size on a
    // directory returns the inode size (~4 KB), which would silently
    // classify any multi-file table as "tiny" and skip the spread the
    // guard exists to provide (r14 advice).
    val bytes = try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(f => java.nio.file.Files.size(f)).sum()
        finally s.close()
      } else java.nio.file.Files.size(p)
    } catch { case _: Exception => Long.MaxValue }
    if (bytes >= 32 * 1024 && df.rdd.getNumPartitions < cores)
      df.repartition(cores, xxhash64(df.columns.map(col): _*))
    else df
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.mapReduce(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ relational

  /** G11: hierarchical ROLLUP report — the (flag, status) summary plus
    * per-flag subtotals plus the grand total in ONE pass (Catalyst
    * expands the grouping sets into a single Expand + hash-agg — one
    * scan, not three). Rollup nulls render as 'ALL' (the grouping
    * columns are non-null in this schema, so the sentinel is
    * unambiguous); sums decimal-exact like q1. FULL oracle via DuckDB's
    * GROUP BY ROLLUP.
    */
  private def g11Rollup(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(r4(exactSum(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy(col("flag"), col("status"))

  /** G2/G5/G9: grouped pricing summary over lineitem (sums/avgs/counts).
    * Decimal-exact sums: double summation is order-dependent, oracle is not.
    */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(exactSum(col("l_quantity"))).as("sum_qty"),
        r4(exactSum(col("l_extendedprice"))).as("sum_base_price"),
        r4(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        r4(exactAvg(col("l_quantity"))).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J1: multi-way equi-join revenue rollup; dims broadcast (region/nation
    * are tiny forever; customer joins via shuffle — AQE may still broadcast
    * it at small SF).
    */
  private def j1Revenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = tbl(spark, dir, "orders")
    val customer = tbl(spark, dir, "customer")
    val nation = broadcast(tbl(spark, dir, "nation"))
    val region = broadcast(tbl(spark, dir, "region"))
    orders.join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(r4(exactSum(col("o_totalprice"))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  /** J2: left-semi (EXISTS). */
  private def j2Semi(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "customer")
      .join(tbl(spark, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** J3/S6: left-anti (NOT EXISTS) — the incremental-recompute set.
    * The right side is pre-filtered (customers with no high-value order) so
    * the check is non-vacuous at every SF; the filter lands below the join.
    */
  private def j3Anti(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "customer")
      .join(tbl(spark, dir, "orders")
          .filter(col("o_totalprice") >= 150000.0).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), r4(col("c_acctbal")).as("acctbal"))
      .orderBy(col("c_custkey"))

  /** P5/O2: global top-N with deterministic tie-break. */
  private def p5Top(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), r4(col("o_totalprice")).as("total_price"))

  /** O3: windowed running aggregate + row_number. The ordering must be
    * TOTAL for oracle determinism: lineitem carries duplicate
    * (orderkey, linenumber) pairs — at sf0.1 even (suppkey, shipdate,
    * orderkey, linenumber) collides — so l_quantity joins the key (verified
    * unique across the testdata; ties beyond it would be identical rows).
    */
  private def o3Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        r4(sum(col("l_quantity").cast("decimal(38,10)")).over(wRows).cast("double"))
          .as("running_qty"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** O4: seeded uniform random document pick (reference:
    * streamlit_demo.py:45-51 `random.choice` over corpus files). The pick
    * is keyed-hash-based — min md5(seed || doc_id) — rather than Spark's
    * `rand(seed)`, whose values depend on partition layout and so change
    * with cluster size / AQE re-planning; the hash pick is uniform over
    * docs, reproducible on any partitioning, and exactly SQL-oracle-able.
    * One global sort-limit over a single small column: TakeOrderedAndProject,
    * no full shuffle.
    */
  private def o4RandomPick(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        md5(concat(lit("seed42_"), col("doc_id").cast("string"))).as("pick_key"))
      .orderBy(col("pick_key"))
      .limit(1)

  /** G3 (cumsum form): token-budget bin assignment as a pure window — the
    * SQL-expressible approximation of greedy packing (exact greedy is
    * `binpack_greedy`, checked by ScalaTest; SURVEY.md §7.4.2).
    */
  private def g3BinpackCumsum(spark: SparkSession, dir: String): DataFrame = {
    val chunks = tbl(spark, dir, "lineitem").select(
      col("l_orderkey").as("doc_id"),
      col("l_linenumber").as("chunk_idx"),
      floor(col("l_quantity")).cast("long").as("n_tokens"))
    CorpusOps.binPackCumsum(chunks, 50L)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("bin"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** G1/G4: ordered collect per group, concatenated (the reduce-input
    * assembly of the map-reduce strategy, on relational data).
    */
  private def g1Collect(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        array_join(transform(array_sort(collect_list(col("l_linenumber"))),
          x => x.cast("string")), ",").as("line_numbers"))
      .orderBy(col("l_orderkey"))

  /** G1b: the same ordered collect as g1, through the range-salted
    * two-phase concat (skew-safe path) — held to the SAME oracle as the
    * direct form, so salting is proven order-exact on real data. segSize=2
    * forces genuine multi-segment merges (lineitem has up to 7 lines).
    */
  private def g1bCollectSalted(spark: SparkSession, dir: String): DataFrame = {
    val chunks = tbl(spark, dir, "lineitem").select(
      col("l_orderkey").as("doc_id"), lit(0).as("bin"),
      col("l_linenumber").as("chunk_idx"),
      col("l_linenumber").cast("string").as("text"),
      lit(1L).as("n_tokens"))
    CorpusOps.concatBinsSalted(chunks, ",", segSize = 2)
      .select(col("doc_id").as("l_orderkey"),
        col("n_tokens_in").as("n_lines"),
        col("text").as("line_numbers"))
      .orderBy(col("l_orderkey"))
  }

  /** G1c: the salted collect on a DELIBERATELY skewed corpus — doc 0
    * absorbs every fifth order's lines (~20% of all chunks land on one
    * doc_id), the giant-document regime where the unsalted collect funnels
    * the whole hot payload through one reducer. Same oracle discipline as
    * g1b: held to the direct DuckDB string_agg, so the skew path is proven
    * order-exact on the hot key, not just on benign data. chunk_idx =
    * l_orderkey*10+l_linenumber keeps hot-doc chunks globally ordered and
    * unique (duplicate (okey, line) pairs collapse to identical text, so
    * ties cannot reorder output). segSize=256 bounds any reducer to ~30
    * chunks even though doc 0 holds ~12k.
    */
  private def g1cCollectHotkey(spark: SparkSession, dir: String): DataFrame = {
    val idx = col("l_orderkey") * lit(10L) + col("l_linenumber")
    val chunks = tbl(spark, dir, "lineitem").select(
      when(col("l_orderkey") % 5 === 0, lit(0L))
        .otherwise(col("l_orderkey")).as("doc_id"),
      lit(0).as("bin"),
      idx.as("chunk_idx"),
      idx.cast("string").as("text"),
      lit(1L).as("n_tokens"))
    CorpusOps.concatBinsSalted(chunks, ",", segSize = 256)
      .select(col("doc_id"), col("n_tokens_in").as("n_lines"),
        col("text").as("line_numbers"))
      .orderBy(col("doc_id"))
  }

  /** G6: mean/std/min/max metric block (population std, like numpy's
    * default in the reference eval).
    */
  private def g6Stats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        r4(exactAvg(col("l_extendedprice"))).as("mean_price"),
        r4(exactStddevPop(col("l_extendedprice"))).as("std_price"),
        r4(min(col("l_extendedprice"))).as("min_price"),
        r4(max(col("l_extendedprice"))).as("max_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** G7: bucket histogram with percentages. */
  private def g7Histogram(spark: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("o_totalprice") >= 300000.0, "high")
      .when(col("o_totalprice") >= 150000.0, "moderate")
      .otherwise("low")
    val counts = tbl(spark, dir, "orders")
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    // The grand total is a broadcast scalar, not a global window: a window
    // with no partition key would funnel the frame through one partition.
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .withColumn("pct", r4(col("n") * 100.0 / col("total")))
      .drop("total")
      .orderBy(col("bucket"))
  }

  /** G8: argmax per group with deterministic tie-break. */
  private def g8Argmax(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").desc)
    tbl(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("c_custkey").as("best_custkey"),
        r4(col("c_acctbal")).as("best_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** g1's direct ordered collect — g1b's salted two-phase concat must be
    * indistinguishable from it, so both are held to this oracle.
    */
  private val g1CollectSql: String =
    """SELECT l_orderkey, COUNT(*) AS n_lines,
       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_numbers
       FROM lineitem GROUP BY 1 ORDER BY 1"""

  private def relationalEntries: Seq[(String, Entry)] = Seq(
    // g11: one-pass grouping-sets rollup; sentinel 'ALL' for the
    // subtotal/grand-total rows (grouping columns non-null here)
    "g11_rollup" -> Entry(g11Rollup(_, _), Some("""
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
  COALESCE(l_linestatus, 'ALL') AS status,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(38, 10))) AS DOUBLE), 4) AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY flag, status""")),
    "q1_agg" -> Entry(q1Agg(_, _), Some(
      s"""SELECT l_returnflag, l_linestatus,
         round(${exactSumSql("l_quantity")}, 4) AS sum_qty,
         round(${exactSumSql("l_extendedprice")}, 4) AS sum_base_price,
         round(${exactSumSql("l_extendedprice * (1 - l_discount)")}, 4) AS sum_disc_price,
         round(${exactSumSql("l_quantity")} / COUNT(*), 4) AS avg_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),
    "j1_join_revenue" -> Entry(j1Revenue(_, _), Some(
      s"""SELECT r_name AS region_name, n_name AS nation_name,
         round(${exactSumSql("o_totalprice")}, 4) AS revenue, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    "j2_semi_join" -> Entry(j2Semi(_, _), Some(
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1 ORDER BY 1""")),
    "j3_anti_join" -> Entry(j3Anti(_, _), Some(
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice >= 150000.0)
         ORDER BY c_custkey""")),
    "p5_top_orders" -> Entry(p5Top(_, _), Some(
      """SELECT o_orderkey, round(o_totalprice, 4) AS total_price FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),
    "o3_window_running" -> Entry(o3Window(_, _), Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         ROW_NUMBER() OVER w AS rn,
         round(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) OVER w AS DOUBLE), 4) AS running_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY l_suppkey, rn""")),
    "o4_random_pick" -> Entry(o4RandomPick(_, _), Some(
      """SELECT doc_id, text, md5('seed42_' || CAST(doc_id AS VARCHAR)) AS pick_key
         FROM documents ORDER BY pick_key LIMIT 1""")),
    "g3_binpack_cumsum" -> Entry(g3BinpackCumsum(_, _), Some(
      """SELECT l_orderkey AS doc_id, l_linenumber AS chunk_idx,
         CAST(floor(l_quantity) AS BIGINT) AS n_tokens,
         CAST(floor((SUM(CAST(floor(l_quantity) AS BIGINT)) OVER w - CAST(floor(l_quantity) AS BIGINT)) / 50.0) AS INT) AS bin
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, CAST(floor(l_quantity) AS BIGINT)
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY doc_id, chunk_idx""")),
    "g1_collect_ordered" -> Entry(g1Collect(_, _), Some(g1CollectSql)),
    "g1b_collect_salted" -> Entry(g1bCollectSalted(_, _), Some(g1CollectSql)),
    "g1c_collect_hotkey" -> Entry(g1cCollectHotkey(_, _), Some(
      """SELECT CASE WHEN l_orderkey % 5 = 0 THEN 0 ELSE l_orderkey END AS doc_id,
         COUNT(*) AS n_lines,
         string_agg(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), ','
                    ORDER BY l_orderkey * 10 + l_linenumber) AS line_numbers
         FROM lineitem GROUP BY 1 ORDER BY 1""")),
    "g6_metric_stats" -> Entry(g6Stats(_, _), Some(
      s"""SELECT l_returnflag,
         round(${exactSumSql("l_extendedprice")} / COUNT(*), 4) AS mean_price,
         round(sqrt(greatest(
           (${exactSumSql("l_extendedprice * l_extendedprice")}
            - ${exactSumSql("l_extendedprice")} * ${exactSumSql("l_extendedprice")} / CAST(COUNT(*) AS DOUBLE))
           / CAST(COUNT(*) AS DOUBLE), 0.0)), 4) AS std_price,
         round(MIN(l_extendedprice), 4) AS min_price,
         round(MAX(l_extendedprice), 4) AS max_price,
         COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""")),
    "g7_histogram" -> Entry(g7Histogram(_, _), Some(
      """SELECT bucket, n, round(n * 100.0 / SUM(n) OVER (), 4) AS pct FROM (
           SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
                       WHEN o_totalprice >= 150000.0 THEN 'moderate'
                       ELSE 'low' END AS bucket, COUNT(*) AS n
           FROM orders GROUP BY 1) ORDER BY bucket""")),
    "g8_argmax" -> Entry(g8Argmax(_, _), Some(
      """SELECT c_mktsegment, c_custkey AS best_custkey, round(c_acctbal, 4) AS best_acctbal
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey DESC) AS rn FROM customer)
         WHERE rn = 1 ORDER BY c_mktsegment""")))

  // ------------------------------------------------------------------ text

  /** F1: cleaner (thinking-tag strip + whitespace squeeze). */
  private def f1Clean(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        squeezeWhitespace(cleanThinking(col("text"))).as("clean_text"))
      .orderBy(col("doc_id"))

  /** F2/F4/C4: token/char counts + chunk-count estimate. */
  private def f2TokenCounts(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        charCount(col("text")).as("n_chars"),
        greatest(lit(1L), floor(tokenCount(col("text")) / 50.0).cast("long"))
          .as("est_chunks"))
      .orderBy(col("doc_id"))

  /** F3: exact BPE token counts next to the whitespace proxy — the
    * reference's HF-tokenizer counting (utils/calculate_tokens.py:7-19)
    * re-expressed as a real greedy-merge BPE over the pinned
    * [[graft.core.Bpe.DemoMerges]] table. The oracle replays the merge
    * loop rank-for-rank in a DuckDB recursive CTE over DISTINCT pretokens
    * (the same distinct-word memoization the tokenizer's cache does).
    */
  private def f3BpeCount(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.udfs.bpeCountUdf(graft.core.Bpe.demo)(col("text"))
          .cast("long").as("n_bpe_tokens"),
        tokenCount(col("text")).as("n_ws_tokens"))
      .orderBy(col("doc_id"))

  /** C3: token truncation (first 20 whitespace tokens). */
  private def c3Truncate(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), truncateTokens(col("text"), 20).as("head20"))
      .orderBy(col("doc_id"))

  /** C1 (fixed-stride form): chunk explode with exact SQL semantics
    * (size 120 chars, stride 100). The pipeline's recursive splitter is
    * ScalaTest-checked; this entry oracles the explode/carry machinery.
    */
  private def c1ChunkFixed(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((length(col("text")) - 1) / 100.0).cast("int")),
          k => col("text").substr(k * 100 + 1, lit(120)))).as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** C2: recursive separator-priority split — the reference's DEFAULT
    * splitter, used by every strategy
    * (run_full_evaluation_pipeline.py:356-361 — RecursiveCharacterTextSplitter
    * with separators ["\n\n","\n",".","!","?",";"," ",""]). Registered at
    * 180 chars / 40 overlap with CharLen. The test corpus is single-line
    * word text, so the first applicable separator is " " and the query
    * exercises exactly the semantics c1 cannot: separator selection plus
    * the greedy merge / overlap-carry loop of [[graft.core.Splitter
    * .mergeSplits]]. The oracle replays that loop exactly in SQL: both
    * pop-from-front stop conditions reduce to one prefix-sum threshold
    * T(k,i-1) <= least(overlap, chunkSize - len_i - sepLen), so the
    * post-flush window start is max(j, kmin_i) with kmin_i precomputable
    * per piece, and the chunk boundaries fall out of a linear recursive
    * CTE (validated piece-for-piece against the Scala loop on the full
    * sf0.01 corpus before registration).
    */
  private def c2ChunkRecursive(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.udfs.recursiveSplitUdf(180, 40, byTokens = false)
          .apply(col("text"))).as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** C2 (deep): the FULL recursion of the splitter under the driver gate —
    * a paragraph-structured corpus is derived in-query (every 32 words
    * joined by "\n\n"), so the splitter sees a mix of small paragraphs
    * (merged into runs under the top "\n\n" separator, sepLen 2) and
    * oversized ones (>= chunkSize, recursing through the separator
    * priority list down to " ", sepLen 1) — the case `c2_chunk_recursive`'s
    * single-level corpus cannot reach. The oracle unrolls both levels into
    * ONE recursive CTE: pieces of both levels share a merge state machine
    * keyed by (doc, anchor) with a per-group separator length, run
    * segmentation falls out of a cumulative oversized-piece count, and
    * output order is (group anchor, window start). Validated
    * piece-for-piece against a faithful simulation of the full Scala
    * recursion on the whole sf0.01 corpus (1212 chunks, 178 recursing
    * paragraphs, 0 mismatches) before registration.
    */
  private def c2bChunkRecursiveDeep(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val paras = transform(
      sequence(lit(0), floor((size(toks) - 1) / 32.0).cast("int")),
      g => array_join(slice(toks, g * 32 + 1, lit(32)), " "))
    tbl(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.udfs.recursiveSplitUdf(180, 40, byTokens = false)
          .apply(array_join(paras, "\n\n"))).as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** F7/F8/F9: the filename/payload scalar trio, driver-checked on
    * corpus-derived inputs with closed-form oracles. The corpus text is
    * pure lowercase words + single spaces (no ':', '.', '/', fences), so
    * each expected value is constructible directly in SQL:
    *  - F7 safe-encode on "model:<text12>.q" -> "model_<text12>_q"
    *    (reference: run_full_evaluation_pipeline.py:170);
    *  - F8 stem on "corpus/doc_<id>.v2.txt" -> "doc_<id>.v2" (path dropped,
    *    LAST extension only — the multi-dot base pins that semantics);
    *  - F9 fence-strip round-trips a built "```json ... ```" wrapper on
    *    even ids and falls through to trim on odd ids (reference:
    *    evaluate/evaluate_summaries_semantic.py:87-91).
    * The UDFs wrap the graft.core.Text scalars themselves, so the library
    * functions (not parallel Column reimplementations) are what the driver
    * checks.
    */
  private def f7NameScalars(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.udfs.{safeNameUdf, stemUdf, stripCodeFenceUdf}
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        safeNameUdf(concat(lit("model:"), substring(col("text"), 1, 12), lit(".q")))
          .as("safe_name"),
        stemUdf(concat(lit("corpus/doc_"), col("doc_id").cast("string"),
          lit(".v2.txt"))).as("fname_stem"),
        stripCodeFenceUdf(
          when(col("doc_id") % 2 === 0,
            concat(lit("```json\n"), substring(col("text"), 1, 40), lit("\n```")))
            .otherwise(substring(col("text"), 1, 40))).as("payload"))
      .orderBy(col("doc_id"))
  }

  /** S1 (text-dir variant) / P2 / F8: the raw-ingest path driver-checked
    * end-to-end — a bounded subset of docs is written as one `<doc_id>.txt`
    * per file (plus a non-txt decoy), then read back through
    * `CorpusOps.docsFromTextDir` (wholetext + pathGlobFilter + stem ids;
    * reference: run_full_evaluation_pipeline.py:417-444). The oracle
    * recomputes from `documents`: the decoy proves the P2 extension filter
    * excludes it, the ids prove the stem keying, the text proves wholetext
    * fidelity.
    */
  private def s1TextdirScan(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s1_") { out =>
      operators.Sinks.writeSummaryFiles(
        tbl(spark, dir, "documents").filter(col("doc_id") < 200),
        out.toString, idCol = "doc_id", textCol = "text")
      java.nio.file.Files.write(out.resolve("decoy.json"),
        "{\"not\":\"a doc\"}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.operators.Materialize(
        CorpusOps.docsFromTextDir(spark, out.toString)
          .select(col("doc_name").cast("long").as("doc_id"), col("text")))
        .orderBy(col("doc_id"))
    }
  }

  /** S1 (JSONL variant): the dominant training-data interchange format,
    * round-tripped end-to-end — a bounded doc subset is written as JSONL
    * from the executors (distributed `df.write.json`), read back through
    * [[CorpusOps.docsFromJsonl]] (explicit schema — no inference scan),
    * and held to the same recompute-from-`documents` oracle as the
    * text-dir ingest. Any serialization infidelity (escaping, encoding,
    * lost rows, type drift) breaks the hash.
    */
  private def s1bJsonlScan(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s1b_") { out =>
      tbl(spark, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").json(s"$out/corpus")
      graft.operators.Materialize(
        CorpusOps.docsFromJsonl(spark, s"$out/corpus"))
        .orderBy(col("doc_id"))
    }
  }

  /** f3_bpe_count oracle: replay the greedy BPE merge loop rank-for-rank
    * as a recursive CTE over DISTINCT pretokens, then weight by per-doc
    * pretoken counts. The merge table is emitted from Bpe.DemoMerges, so
    * Scala and SQL can never drift. Each step merges the LEFTMOST
    * occurrence of the lowest-rank pair (rank*10^12 + position keeps the
    * tie-break total — see the multiplier note at `bi` below); a word
    * leaves the recursion when no adjacent pair is in the table.
    */
  private def f3BpeSql: String = {
    val ranked = graft.core.Bpe.DemoMerges.zipWithIndex
    val keys = ranked.map { case ((a, b), _) => s"'$a $b'" }.mkString(", ")
    val vals = ranked.map(_._2).mkString(", ")
    val mm = s"MAP([$keys], [$vals])"
    def rank(pair: String) = s"element_at($mm, $pair)"
    val pair = "toks[i] || ' ' || toks[i+1]"
    // (rank, position) tie-break packed as rank*10^12 + i on BIGINT: rank is
    // bounded by the merge-table size (~10^5) so the product stays < 10^18,
    // and 10^12 is safely above any pretoken symbol count (a pretoken is one
    // \p{L}+/\p{N}+/punct run — nowhere near 10^12 chars), so the position
    // can never overflow into the next rank bucket.
    val bi = "CAST(best % 1000000000000 AS INT)"
    raw"""WITH RECURSIVE
pts AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS w
  FROM documents),
wcnt AS (SELECT doc_id, w, COUNT(*) AS c FROM pts GROUP BY 1, 2),
words0 AS (SELECT DISTINCT w FROM pts),
bpe_walk AS (
  SELECT w, regexp_extract_all(w, '.') AS toks, 0 AS step FROM words0
  UNION ALL
  SELECT w,
    toks[1:$bi - 1] || [toks[$bi] || toks[$bi + 1]] || toks[$bi + 2:],
    step + 1
  FROM (
    SELECT w, toks, step,
      list_min([
        CASE WHEN len(${rank(pair)}) > 0
          THEN ${rank(pair)}[1] * 1000000000000 + i END
        FOR i IN range(1, len(toks))]) AS best
    FROM bpe_walk) s
  WHERE best IS NOT NULL),
wtok AS (SELECT w, len(arg_max(toks, step)) AS n FROM bpe_walk GROUP BY w),
agg AS (
  SELECT wc.doc_id, SUM(wc.c * wt.n) AS n_bpe
  FROM wcnt wc JOIN wtok wt ON wt.w = wc.w GROUP BY 1)
SELECT d.doc_id, CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
  ${tok("text")} AS n_ws_tokens
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id"""
  }

  /** s1/s1b ingest round trip: the files written from documents
    * (doc_id < 200) must read back byte-identical, keyed by stem, from
    * the text dir (its non-txt decoy must not appear) and the JSONL file
    * alike.
    */
  private val s1ScanSql: String =
    """SELECT doc_id, text FROM documents WHERE doc_id < 200
       ORDER BY doc_id"""

  private def textEntries: Seq[(String, Entry)] = Seq(
    "f1_clean_text" -> Entry(f1Clean(_, _), Some(
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_text
         FROM documents ORDER BY doc_id""")),
    "f2_token_counts" -> Entry(f2TokenCounts(_, _), Some(
      s"""SELECT doc_id, ${tok("text")} AS n_tokens, length(text) AS n_chars,
         greatest(1, CAST(floor(${tok("text")} / 50.0) AS BIGINT)) AS est_chunks
         FROM documents ORDER BY doc_id""")),
    "f3_bpe_count" -> Entry(f3BpeCount(_, _), Some(f3BpeSql)),
    "c3_truncate" -> Entry(c3Truncate(_, _), Some(
      """SELECT doc_id, array_to_string(string_split_regex(trim(text), '\s+')[1:20], ' ') AS head20
         FROM documents ORDER BY doc_id""")),
    "c1_chunk_fixed" -> Entry(c1ChunkFixed(_, _), Some(
      """SELECT doc_id, CAST(k AS INT) AS chunk_idx, substr(text, CAST(k*100+1 AS INT), 120) AS chunk
         FROM documents, LATERAL UNNEST(generate_series(0, CAST(floor((length(text)-1)/100.0) AS BIGINT))) AS t(k)
         WHERE length(text) > 0 ORDER BY doc_id, chunk_idx""")),
    // c2: exact replay of Splitter.recursiveSplit(180, 40, CharLen) for a
    // corpus whose first applicable separator is " ". The merge loop's
    // queue state is (window start j); after a flush both pop conditions
    // collapse to T(k,i-1) <= least(40, 180 - len_i - 1) with
    // T(k,i-1) = pfx_i - pfx_k + (i-1-k), so j' = max(j, kmin_i) and the
    // whole loop is a linear recursive CTE over piece indices.
    "c2_chunk_recursive" -> Entry(c2ChunkRecursive(_, _), Some(
      """WITH RECURSIVE
         ws AS (
           SELECT doc_id, string_split(text, ' ') AS parr FROM documents
           WHERE trim(text) <> ''),
         pieces AS (
           SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS idx,
                  parr[CAST(k AS INT)] AS piece, length(parr[CAST(k AS INT)]) AS len
           FROM ws, LATERAL UNNEST(generate_series(1, len(parr))) AS u(k)
           WHERE trim(parr[CAST(k AS INT)]) <> ''),
         info0 AS (
           SELECT doc_id, idx, len,
                  SUM(len) OVER (PARTITION BY doc_id ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len AS pfx,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n
           FROM pieces),
         info AS (
           SELECT a.doc_id, a.idx, a.len, a.pfx, a.n,
                  COALESCE((SELECT MIN(b.idx) FROM info0 b
                            WHERE b.doc_id = a.doc_id AND b.idx < a.idx
                              AND a.pfx - b.pfx + (a.idx - 1 - b.idx)
                                  <= least(40, 180 - a.len - 1)), a.idx) AS kmin
           FROM info0 a),
         st AS (
           SELECT doc_id, 0 AS i, 0 AS j,
                  CAST(NULL AS BIGINT) AS ea, CAST(NULL AS BIGINT) AS eb, n
           FROM info WHERE idx = 0
           UNION ALL
           SELECT s.doc_id, s.i + 1,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) + p.len + 1 > 180
                       THEN greatest(s.j, p.kmin) ELSE s.j END,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) + p.len + 1 > 180
                       THEN s.j END,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) + p.len + 1 > 180
                       THEN s.i - 1 END,
                  s.n
           FROM st s
           JOIN info p ON p.doc_id = s.doc_id AND p.idx = s.i
           JOIN info q ON q.doc_id = s.doc_id AND q.idx = s.j
           WHERE s.i < s.n),
         bounds AS (
           SELECT doc_id, ea AS a, eb AS b FROM st WHERE ea IS NOT NULL
           UNION ALL
           SELECT doc_id, j, n - 1 FROM st WHERE i = n),
         parr2 AS (SELECT doc_id, list(piece ORDER BY idx) AS ps FROM pieces GROUP BY 1)
         SELECT b.doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY b.doc_id ORDER BY b.a) - 1 AS INT) AS chunk_idx,
                trim(array_to_string(p.ps[CAST(b.a + 1 AS INT):CAST(b.b + 1 AS INT)], ' ')) AS chunk
         FROM bounds b JOIN parr2 p USING (doc_id)
         ORDER BY doc_id, chunk_idx""")),
    // c2b: exact replay of the FULL recursion on the derived
    // paragraph corpus — both separator levels ("\n\n" runs, sepLen 2;
    // oversized paragraphs recursing to " ", sepLen 1) share one merge
    // state machine keyed by (doc, anchor) with per-group sep_len; run
    // segmentation = cumulative count of oversized pieces
    "c2b_chunk_recursive_deep" -> Entry(c2bChunkRecursiveDeep(_, _), Some(
      """WITH RECURSIVE
         base AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
           WHERE trim(text) <> ''),
         paras AS (
           SELECT doc_id, CAST(g AS INT) AS pidx,
                  array_to_string(toks[CAST(g*32+1 AS INT):CAST(g*32+32 AS INT)], ' ') AS piece
           FROM base, LATERAL UNNEST(generate_series(0, CAST(floor((len(toks)-1)/32.0) AS BIGINT))) AS u(g)),
         marks AS (
           SELECT doc_id, pidx, piece, length(piece) AS plen,
                  CASE WHEN length(piece) >= 180 THEN 1 ELSE 0 END AS big,
                  SUM(CASE WHEN length(piece) >= 180 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pidx ROWS UNBOUNDED PRECEDING) AS rid
           FROM paras),
         runs AS (
           SELECT doc_id, rid, MIN(pidx) AS anchor FROM marks WHERE big = 0 GROUP BY 1, 2),
         lvl1 AS (
           SELECT m.doc_id, r.anchor, 2 AS sep_len,
                  ROW_NUMBER() OVER (PARTITION BY m.doc_id, m.rid ORDER BY m.pidx) - 1 AS idx,
                  m.piece, m.plen AS len
           FROM marks m JOIN runs r ON m.doc_id = r.doc_id AND m.rid = r.rid
           WHERE m.big = 0),
         lvl2 AS (
           SELECT m.doc_id, m.pidx AS anchor, 1 AS sep_len,
                  CAST(w.k - 1 AS BIGINT) AS idx,
                  string_split(m.piece, ' ')[CAST(w.k AS INT)] AS piece,
                  length(string_split(m.piece, ' ')[CAST(w.k AS INT)]) AS len
           FROM marks m, LATERAL UNNEST(generate_series(1, len(string_split(m.piece, ' ')))) AS w(k)
           WHERE m.big = 1),
         upieces AS (
           SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2),
         info0 AS (
           SELECT doc_id, anchor, sep_len, idx, piece, len,
                  SUM(len) OVER (PARTITION BY doc_id, anchor ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len AS pfx,
                  COUNT(*) OVER (PARTITION BY doc_id, anchor) AS n
           FROM upieces),
         info AS (
           SELECT a.doc_id, a.anchor, a.sep_len, a.idx, a.len, a.pfx, a.n,
                  COALESCE((SELECT MIN(b.idx) FROM info0 b
                            WHERE b.doc_id = a.doc_id AND b.anchor = a.anchor AND b.idx < a.idx
                              AND a.pfx - b.pfx + (a.idx - 1 - b.idx) * a.sep_len
                                  <= least(40, 180 - a.len - a.sep_len)), a.idx) AS kmin
           FROM info0 a),
         st AS (
           SELECT doc_id, anchor, sep_len, 0 AS i, 0 AS j,
                  CAST(NULL AS BIGINT) AS ea, CAST(NULL AS BIGINT) AS eb, n
           FROM info WHERE idx = 0
           UNION ALL
           SELECT s.doc_id, s.anchor, s.sep_len, s.i + 1,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) * s.sep_len + p.len + s.sep_len > 180
                       THEN greatest(s.j, p.kmin) ELSE s.j END,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) * s.sep_len + p.len + s.sep_len > 180
                       THEN s.j END,
                  CASE WHEN s.j < s.i AND p.pfx - q.pfx + (s.i - 1 - s.j) * s.sep_len + p.len + s.sep_len > 180
                       THEN s.i - 1 END,
                  s.n
           FROM st s
           JOIN info p ON p.doc_id = s.doc_id AND p.anchor = s.anchor AND p.idx = s.i
           JOIN info q ON q.doc_id = s.doc_id AND q.anchor = s.anchor AND q.idx = s.j
           WHERE s.i < s.n),
         bounds AS (
           SELECT doc_id, anchor, sep_len, ea AS a, eb AS b FROM st WHERE ea IS NOT NULL
           UNION ALL
           SELECT doc_id, anchor, sep_len, j, n - 1 FROM st WHERE i = n),
         parr AS (
           SELECT doc_id, anchor, list(piece ORDER BY idx) AS ps FROM upieces GROUP BY 1, 2)
         SELECT b.doc_id AS doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY b.doc_id ORDER BY b.anchor, b.a) - 1 AS INT) AS chunk_idx,
                CASE WHEN b.sep_len = 2
                  THEN trim(array_to_string(p.ps[CAST(b.a + 1 AS INT):CAST(b.b + 1 AS INT)], e'\n\n'))
                  ELSE trim(array_to_string(p.ps[CAST(b.a + 1 AS INT):CAST(b.b + 1 AS INT)], ' '))
                END AS chunk
         FROM bounds b JOIN parr p ON b.doc_id = p.doc_id AND b.anchor = p.anchor
         ORDER BY b.doc_id, chunk_idx""")),
    // f7/f8/f9: corpus text has no ':', '.', '/', or fences, so every
    // expected value is constructible directly (see the query scaladoc)
    "f7_name_scalars" -> Entry(f7NameScalars(_, _), Some(
      """SELECT doc_id,
         'model_' || substr(text, 1, 12) || '_q' AS safe_name,
         'doc_' || CAST(doc_id AS VARCHAR) || '.v2' AS fname_stem,
         trim(substr(text, 1, 40)) AS payload
         FROM documents ORDER BY doc_id""")),
    "s1_textdir_scan" -> Entry(s1TextdirScan(_, _), Some(s1ScanSql)),
    "s1b_jsonl_scan" -> Entry(s1bJsonlScan(_, _), Some(s1ScanSql)))

  // ----------------------------------------------------------------- dedup

  /** DD1: exact duplicate groups (hash groupBy). */
  private def dd1ExactDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicates(tbl(spark, dir, "documents"))
      .orderBy(col("text_md5"))

  /** DD1b: exact-dup groups on the 100-char document head — the boilerplate
    * -prefix heuristic of training-data pipelines; unlike full-text dd1 it
    * finds real groups at small SF, so the oracle check is non-vacuous.
    */
  private def dd1bPrefixDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicates(
      tbl(spark, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 100).as("text")))
      .orderBy(col("text_md5"))

  /** DD2: MinHash signatures (md5-derived, 8 hashes over 3-gram shingles). */
  private def dd2MinhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignature(tbl(spark, dir, "documents"), "text", 3, 8)
      .orderBy(col("doc_id"))

  /** DD3: MinHash LSH candidate pairs (4 bands x 2 rows). */
  private def dd3MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(tbl(spark, dir, "documents"), "text", 3, 4, 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DD14: greedy single-pass LSH dedup at the SHARP 6x4 geometry
    * (drop-on-collision needs sharp banding — no verify stage follows;
    * see [[Dedup.lshDedupGreedy]]) — the keeper rule the streaming ingest
    * filter evaluates per micro-batch ([[streamNeardup]] is held to THIS
    * query's oracle verbatim). FULL oracle: DuckDB replays the
    * shingle/minhash/band chain and the min-of-every-bucket rule
    * independently.
    */
  private def dd14LshDedupGreedy(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshDedupGreedy(tbl(spark, dir, "documents"))
      .select(col("doc_id")).orderBy(col("doc_id"))

  /** Boilerplate text planted on every tenth doc for the hot-bucket query:
    * identical text => identical minhash signature => one LSH bucket holds
    * n/10 docs in EVERY band (the degenerate "shared header" key real
    * corpora produce at scale).
    */
  private val BoilerText =
    "standard legal disclaimer header text repeated verbatim on many pages"

  /** DD3b: MinHash LSH on a deliberately skewed corpus — every tenth doc
    * carries identical boilerplate, creating one bucket of n/10 members per
    * band whose m^2/2 candidate pairs would dominate the job. The
    * hot-bucket cap (maxBucketSize=4, firing at every test SF) drops those
    * buckets; the oracle mirrors the cap with a HAVING clause, so exactly
    * WHAT the cap drops is hash-checked, not just asserted. See SCALE.md
    * §hot-bucket for the dropped-pair arithmetic.
    */
  private def dd3bMinhashLshCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(BoilerText))
        .otherwise(col("text")).as("text"))
    Dedup.minhashLshPairs(docs, "text", 3, 4, 2, maxBucketSize = Some(4))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DD4: word-3-gram Jaccard near-dup pairs (threshold 0.5). */
  private def dd4Jaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(tbl(spark, dir, "documents"), "text", 3, 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DD4b: the linear-scale Jaccard composition — MinHash-LSH candidates
    * (dd3's exact parameters) verified with exact shingle-intersection
    * Jaccard. The 10x probe measured dd4's inverted-index form going
    * candidate-quadratic (93x candidates for 10x docs); this form's
    * candidate volume follows the flat dd3 curve instead. The oracle
    * composes dd3's band replay with dd4's intersection arithmetic
    * restricted to candidate pairs, so both the candidate set AND every
    * surviving jaccard value are hash-checked.
    */
  private def dd4bJaccardLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardVerifiedPairs(tbl(spark, dir, "documents"), "text", 3, 4, 2, 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DD4c: the SHARP banding operating point — 6 bands x 4 rows. The 100x
    * probe measured (4 x 2) admitting background-similarity candidates
    * (4.38M candidates -> 23.7k pairs at 500k docs: 0.5% precision);
    * 4-row bands raise the banding threshold (1-(1-j^4)^6 ≈ 0 below
    * j~0.5) and cut candidates 189x at 94-98% of the verified pairs
    * (SCALE.md §scale-probe-100x). Registered so the production geometry,
    * not just the small-SF anchor, is hash-checked end to end.
    */
  private def dd4cJaccardSharp(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardVerifiedPairs(tbl(spark, dir, "documents"), "text", 3, 6, 4, 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DC1: benchmark decontamination report — the train/test-leak guard.
    * Benchmark slice = doc_id % 10 == 0 (an "eval set" carved from the
    * corpus so the near-dup structure guarantees real collisions); corpus =
    * the rest; 5-token shingles (the 13-gram production default would find
    * nothing on this synthetic corpus — the knob, not the shape, changes).
    */
  private def dc1Decontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Dedup.contaminationReport(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "text", 5)
      .orderBy(col("doc_id"))
  }

  /** DC4: span-surgical decontamination on the dc1 fixture — contaminated
    * 5-gram spans cut, clean remainders kept; the oracle replays gram
    * positions, covered-index expansion, and the rewritten text per doc.
    */
  private def dc4SpanDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Dedup.spanDecontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "text", 5)
      .orderBy(col("doc_id"))
  }

  /** DC5: semantic decontamination — every training vector's nearest
    * benchmark vector (vec_id % 17 = 0 as the stand-in eval suite) by
    * exact cosine, flagged at 0.45. FULL oracle: the SQL replays the
    * split-cosine formula, the 4dp snap, and the (cos desc, bench_id)
    * argmax.
    */
  private def dc5SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.Dedup.semanticDecontamReport(
        emb.filter(col("vec_id") % 17 =!= 0),
        emb.filter(col("vec_id") % 17 === 0), 0.45)
      .orderBy(col("vec_id"))
  }

  /** DD12: cross-document exact-substring self-dedup (Lee et al.
    * ExactSubstr) — 5-token spans appearing in ≥2 docs survive only in
    * the minimum doc_id; the oracle replays the gram table, the
    * min/distinct-doc keeper aggregate, and the covered-index rewrite.
    */
  private def dd12SpanSelfDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.spanSelfDedup(
        tbl(spark, dir, "documents").select(col("doc_id"), col("text")),
        "text", 5)
      .orderBy(col("doc_id"))

  /** DC2: the decontaminated corpus itself — every training doc with zero
    * benchmark shingle collisions (strict maxOverlap=0 form).
    */
  private def dc2DecontamCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Dedup.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "text", 5)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** DC3: the SAME decontamination report through the Bloom-prefilter path
    * — the plan for when the eval suite outgrows a broadcast. Bloom filters
    * have no false negatives and survivors are exactly verified, so dc3 is
    * held to dc1's oracle verbatim: a bit-identical result from a
    * different (scale-path) plan is precisely what the gate should prove.
    */
  private def dc3DecontamBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Dedup.contaminationReportBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "text", 5)
      .orderBy(col("doc_id"))
  }

  /** DD9: duplicate-span coverage — the substring-level dedup signal (Lee
    * et al. 2021): per doc, the fraction of its 5-token windows (with
    * multiplicity) occurring >= 2 times corpus-wide. Catches boilerplate /
    * templated assembly that whole-doc dedup (dd1–dd7) is blind to.
    */
  private def dd9SpanCoverage(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpanCoverage(
      tbl(spark, dir, "documents").select(col("doc_id"), col("text")), "text", 5, 2)
      .orderBy(col("doc_id"))

  /** SP1: deterministic train/val/test assignment. Weights 0.75/0.125/0.125
    * are binary-exact so the cumulative thresholds carry no float dust and
    * the oracle's CASE literals are the same doubles bit-for-bit (the
    * operator default 0.9/0.05/0.05 is for users; specs pin it).
    */
  private def sp1Split(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.assignSplits(
      tbl(spark, dir, "documents").select(col("doc_id")),
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .orderBy(col("doc_id"))

  /** SP4: leakage-safe splits — every near-dup component (dd7's closure
    * over the dd4 jaccard-0.5 pairs) keys its split on the component
    * representative, so duplicate clusters never straddle a train/test
    * boundary; singletons are identical to sp1 (same weights, same seed).
    */
  private def sp4ComponentSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.componentSplits(
        tbl(spark, dir, "documents").select(col("doc_id")),
        Dedup.ngramJaccardPairs(tbl(spark, dir, "documents"), "text", 3, 0.5))
      .orderBy(col("doc_id"))

  /** SP2: per-stratum exact-fraction sample (even ids keep 3/4, odd 1/4;
    * the stratum column is deliberately trivial — the op under test is the
    * per-stratum keyed-hash filter, not the stratum derivation).
    */
  private def sp2Stratified(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      tbl(spark, dir, "documents").select(col("doc_id")),
      when(col("doc_id") % 2 === 0, "even").otherwise("odd"),
      Map("even" -> 0.75), defaultFraction = 0.25)
      .orderBy(col("doc_id"))

  /** SP3: deterministic fixed-SIZE uniform sample — exactly 100 docs by
    * smallest md5(seed‖id) key with a dense 1-based rank (the eval-set
    * carve; TakeOrderedAndProject, never a global sort). Lowercase-hex md5
    * collates identically in both engines (the sh1 convention), so
    * membership AND ranks carry a full hash oracle.
    */
  private def sp3FixedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedSample(
      tbl(spark, dir, "documents").select(col("doc_id")), 100)
      .orderBy(col("sample_rank"))

  /** MX1: weighted deterministic resampling — the corpus-mixing primitive.
    * Weights by id class: 2.5x upsample / 0.25 downsample / 1.0 keep / 0
    * drop (all binary-exact fractions; see sp1).
    */
  private def mx1Resample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedResample(
      tbl(spark, dir, "documents").select(col("doc_id")),
      when(col("doc_id") % 4 === 0, 2.5).when(col("doc_id") % 4 === 1, 0.25)
        .when(col("doc_id") % 4 === 2, 1.0).otherwise(0.0))
      .orderBy(col("doc_id"), col("copy"))

  /** SH1: deterministic epoch shuffle — dense training-order positions in
    * md5(seed‖id) order, computed with the distributed two-pass rank (no
    * global sort funnel).
    */
  private def sh1Shuffle(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicShuffle(
      tbl(spark, dir, "documents").select(col("doc_id")))
      .orderBy(col("doc_id"))

  /** PK1: GPT-style concat-and-cut sequence packing — global token layout
    * via distributed prefix sum (range partition → local window cumsum →
    * metadata-scale offset collect; see Packing.packSequences).
    */
  private def pk1Pack(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.tokenCount(col("text")).as("n_tokens"))
    graft.operators.Packing.packSequences(docs, budget = 256)
      .orderBy(col("doc_id"))
  }

  /** PK1b: packed-sequence document-span manifest — the cross-document
    * attention-mask / per-doc loss-reset metadata over pk1's layout
    * (within-sequence span start/length + doc first/last-token flags).
    * Same budget as pk1 so the two queries describe one layout.
    */
  private def pk1bPackedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.tokenCount(col("text")).as("n_tokens"))
    graft.operators.Packing.packedSpans(docs, budget = 256)
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** PK2: no-split first-fit packing within hash shards (whole docs,
    * greedy reset — the BinPack semantics at corpus scale).
    */
  private def pk2PackGreedy(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.tokenCount(col("text")).as("n_tokens"))
    graft.operators.Packing.packGreedyShards(docs, budget = 1000, shards = 8)
      .orderBy(col("doc_id"))
  }

  /** S11: WARC-style shard roundtrip — serialize the corpus into
    * length-prefixed record blobs (8 hash shards, records in doc_id
    * order) and parse them back with the Content-Length-driven reader.
    * Every 7th payload gets a complete FAKE RECORD injected (version
    * line, headers, empty body): a delimiter-splitting parser would
    * shred it; the length-driven parse must return it byte-identical.
    * Full oracle — record framing, byte offsets (strlen = UTF-8 octets,
    * exercised by the multi-byte corpus), and payloads replayed in SQL.
    */
  private val warcInjection: String =
    "\r\n\r\n" + graft.operators.Warc.VersionLine +
      "\r\nWARC-Record-ID: 999999\r\nContent-Length: 0\r\n\r\n\r\n\r\n"

  private def s11WarcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(coalesce(col("text"), lit("")), lit(warcInjection)))
        .otherwise(coalesce(col("text"), lit(""))).as("text"))
    graft.operators.Warc.parseShards(
        graft.operators.Warc.buildShards(docs, 8))
      .orderBy(col("shard"), col("rec_idx"))
  }

  /** DD7: near-dup groups = connected components over the dd4 pair graph
    * (min-label propagation; oracled against a recursive-CTE transitive
    * closure on the same pairs).
    */
  private def dd7Components(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(tbl(spark, dir, "documents"), "text", 3, 0.5))
      .orderBy(col("doc_id"))

  /** DD8: the exact-deduplicated corpus itself — one keeper (min doc_id)
    * per distinct text.
    */
  private def dd8DedupCorpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpus(tbl(spark, dir, "documents"))
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  /** DD8b: the near-dup-deduplicated corpus under the QUALITY keeper
    * policy — longest member (ties: min id) survives each dd4/dd7
    * component instead of the min-id member. Oracle recomputes the
    * closure AND the argmax.
    */
  private def dd8bDedupBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    // LSH-verified pair stage (the linear 100 TB path) held to the
    // EXACT-closure oracle — valid because banding recall is 1.0 on this
    // corpus (the pipe_curation_lsh pattern; measured in SCALE.md)
    Dedup.nearDupCorpusBestKeeper(docs,
        Dedup.jaccardVerifiedPairs(docs, "text", 3, 4, 2, 0.5),
        length(col("text")).cast("long"))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** DD11: content-defined chunking — boundary-after-gram-hash-on-grid
    * (expected ~16-token chunks), the shift-robust segmentation for
    * chunk-level dedup. Every cut decision and chunk hash replays exactly
    * in SQL (md5-prefix grid).
    */
  private def dd11CdcChunks(spark: SparkSession, dir: String): DataFrame =
    Dedup.contentDefinedChunks(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** DD11b: the composed CDC story end to end — content-defined chunks →
    * shared-chunk containment pairs (≥ 0.5 of the smaller doc's chunk
    * mass, ≥ 4-token chunks, 256-doc boilerplate cap) → connected
    * components → min-id keeper. The shift-robust near-dup removal dd11's
    * segmentation exists for: an edited copy keeps every untouched chunk,
    * so it pairs with its source where whole-doc hashing sees two
    * unrelated rows. Oracle replays chunking, weights, cap, containment,
    * AND the component closure.
    */
  private def dd11bCdcDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcDedupCorpus(tbl(spark, dir, "documents"))
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  /** DD5: SimHash near-dup pairs (Hamming <= 3, pigeonhole-blocked). */
  private def dd5Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(tbl(spark, dir, "documents"), "text", 3)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DD6: embedding-cosine near-dup pairs (exact, native VecCosine). */
  private def dd6EmbeddingPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(tbl(spark, dir, "embeddings"), 0.45)
      .orderBy(col("id_a"), col("id_b"))

  /** Minhash mins (md5-derived so bit-identical to the Spark UDF): h_i =
    * min over a doc's distinct 3-gram shingles `sh` of (first 15 md5 hex
    * chars of "s<i>:<shingle>" as int).
    */
  private def minhashMinsN(numHashes: Int): String = (0 until numHashes).map { i =>
    s"MIN(CAST(('0x' || substr(md5('s$i:' || shingle), 1, 15)) AS BIGINT)) AS mh_$i"
  }.mkString(", ")

  private def minhashSigSql: String =
    s"WITH ${wordShingleCtes(3, "shingle")} SELECT doc_id, ${minhashMinsN(8)} FROM sh GROUP BY doc_id ORDER BY doc_id"

  /** `Dedup.minhashLshPairs`' banding at `nBands` x `rowsPerBand`: `sig`
    * = the minhash mins per doc over `sh`, `bands` (doc_id, band,
    * band_key) with band b's key = md5 of its rows' '_'-joined mins.
    */
  private def minhashBandCtes(nBands: Int, rowsPerBand: Int): String =
    s"""sig AS (SELECT doc_id, ${minhashMinsN(nBands * rowsPerBand)} FROM sh GROUP BY doc_id),
       bands AS (
         SELECT doc_id, band, ${bandKeySql(nBands, rowsPerBand)} AS band_key
         FROM sig, (VALUES ${bandValsSql(nBands)}) AS b(band))"""

  private def bandKeySql(nBands: Int, rowsPerBand: Int): String =
    (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${rowsPerBand * b + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"WHEN ${b} THEN md5($parts)"
    }.mkString("CASE band ", " ", " END")

  private def bandValsSql(nBands: Int): String =
    (0 until nBands).map(b => s"($b)").mkString(",")

  /** dd3 oracle: band the signature exactly like `Dedup.minhashLshPairs`
    * (band b = md5 of '_'-joined (mh_{2b}, mh_{2b+1})), self-join on
    * (band, band_key), distinct ordered pairs.
    */
  private def minhashLshSql: String =
    s"""WITH ${wordShingleCtes(3, "shingle")},
       ${minhashBandCtes(4, 2)}
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       FROM bands x JOIN bands y USING (band, band_key)
       WHERE x.doc_id < y.doc_id
       ORDER BY doc_a, doc_b"""

  /** dd14/stream_neardup oracle: the shingle/minhash/band replay at the
    * sharp 6x4 geometry, then the greedy keeper rule — a doc survives iff
    * it is the MIN doc_id of every (band, band_key) bucket it occupies.
    * Docs with no signature are always kept: the `trim(text) <> ''` guard
    * both mirrors the Spark side's null-signature ban from banding and
    * keeps DuckDB's ['']-token rows (its split of an empty string) out of
    * the band space.
    */
  private def lshGreedyDedupSql(nBands: Int = 6, rowsPerBand: Int = 4): String =
    s"""WITH ${wordShingleCtes(3, "shingle")},
       sig AS (SELECT doc_id, ${minhashMinsN(nBands * rowsPerBand)} FROM sh GROUP BY doc_id),
       bands AS (
         SELECT s.doc_id, band, ${bandKeySql(nBands, rowsPerBand)} AS band_key
         FROM sig s JOIN documents d USING (doc_id),
           (VALUES ${bandValsSql(nBands)}) AS b(band)
         WHERE trim(coalesce(d.text, '')) <> ''),
       dropped AS (
         SELECT DISTINCT b.doc_id
         FROM bands b JOIN (
           SELECT band, band_key, MIN(doc_id) AS keeper
           FROM bands GROUP BY 1, 2) m USING (band, band_key)
         WHERE b.doc_id <> m.keeper)
       SELECT d.doc_id FROM documents d
       LEFT JOIN dropped x USING (doc_id)
       WHERE x.doc_id IS NULL
       ORDER BY d.doc_id"""

  /** dd4b/dd4c oracle: dd3's minhash/band replay produces the candidate
    * set; dd4's intersection/size arithmetic is evaluated on candidate
    * pairs only. Both stages reuse SQL proven on their standalone queries.
    * Parameterized on the banding geometry so the sharp (6 bands x 4 rows)
    * 100 TB operating point (SCALE.md §scale-probe-100x) is hash-checked
    * with the same generator as the (4 x 2) small-SF anchor.
    */
  private def jaccardLshVerifiedSql(nBands: Int = 4, rowsPerBand: Int = 2): String =
    s"""WITH ${wordShingleCtes(3, "shingle")},
       ${minhashBandCtes(nBands, rowsPerBand)},
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y USING (band, band_key)
         WHERE x.doc_id < y.doc_id),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT c.doc_a, c.doc_b, COUNT(*) AS cnt
         FROM cand c
         JOIN sh x ON x.doc_id = c.doc_a
         JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, jaccard FROM (
         SELECT doc_a, doc_b,
           round(cnt * 1.0 / (sa.n + sb.n - cnt), 4) AS jaccard
         FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                    JOIN sizes sb ON doc_b = sb.doc_id)
       WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** dd3b oracle: same shingle/minhash/band replay as dd3 but over the
    * boilerplate-skewed corpus, with the hot-bucket cap mirrored as a
    * HAVING on bucket size — DuckDB independently decides which buckets
    * are hot and which pairs the cap drops, so the cap semantics are
    * hash-checked end to end.
    */
  private def minhashLshCappedSql(cap: Int): String =
    s"""WITH sdocs AS (
         SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN '$BoilerText' ELSE text END AS text
         FROM documents),
       ${wordShingleCtes(3, "shingle", "sdocs")},
       ${minhashBandCtes(4, 2)},
       ok AS (
         SELECT band, band_key FROM bands GROUP BY 1, 2
         HAVING COUNT(*) > 1 AND COUNT(*) <= $cap)
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       FROM bands x JOIN bands y USING (band, band_key)
       JOIN ok USING (band, band_key)
       WHERE x.doc_id < y.doc_id
       ORDER BY doc_a, doc_b"""

  /** dc1's benchmark-decontamination report: 5-token shingle collisions
    * between the corpus (doc_id % 10 <> 0) and the benchmark slice
    * (% 10 = 0). dc3's Bloom-prefiltered plan has no false negatives and
    * an exact verify, so it is held to this oracle too.
    */
  private def dc1DecontamSql: String =
    s"""WITH ${benchShingleCtes()},
       corp AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
       sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM corp GROUP BY 1),
       hits AS (
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         FROM corp JOIN bench USING (g) GROUP BY 1)
       SELECT doc_id, n_hits, n_ngrams,
         round(n_hits * 1.0 / n_ngrams, 4) AS overlap
       FROM hits JOIN sz USING (doc_id) ORDER BY doc_id"""

  private def dedupEntries: Seq[(String, Entry)] = Seq(
    "dd1_exact_dups" -> Entry(dd1ExactDups(_, _), Some(
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_doc_id,
         COUNT(*) AS dup_count,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
         FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_md5""")),
    "dd1b_prefix_dups" -> Entry(dd1bPrefixDups(_, _), Some(
      """SELECT md5(substr(text, 1, 100)) AS text_md5, MIN(doc_id) AS canonical_doc_id,
         COUNT(*) AS dup_count,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
         FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_md5""")),
    "dd2_minhash_sig" -> Entry(dd2MinhashSig(_, _), Some(minhashSigSql)),
    "dd3_minhash_lsh" -> Entry(dd3MinhashLsh(_, _), Some(minhashLshSql)),
    "dd14_lsh_dedup_greedy" -> Entry(dd14LshDedupGreedy(_, _), Some(lshGreedyDedupSql())),
    "dd3b_minhash_lsh_capped" -> Entry(dd3bMinhashLshCapped(_, _),
      Some(minhashLshCappedSql(4))),
    "dd4_jaccard_pairs" -> Entry(dd4Jaccard(_, _), Some(
      s"""WITH ${jaccardCountCtes()}
         SELECT doc_a, doc_b, jaccard FROM $jaccardNearDupSql
         ORDER BY doc_a, doc_b""")),
    "dd4b_jaccard_lsh" -> Entry(dd4bJaccardLsh(_, _), Some(jaccardLshVerifiedSql())),
    "dd4c_jaccard_sharp" -> Entry(dd4cJaccardSharp(_, _),
      Some(jaccardLshVerifiedSql(nBands = 6, rowsPerBand = 4))),
    "dc1_decontam" -> Entry(dc1Decontam(_, _), Some(dc1DecontamSql)),
    // dc4: positional grams (k 0-based, gram k covers tokens k..k+4),
    // covered-index expansion capped at doc length, original-case tokens
    // rejoined with single spaces — the whole rewrite replayed per doc
    "dc4_span_decontam" -> Entry(dc4SpanDecontam(_, _), Some(
      s"""WITH $spanGramCtes,
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
         corp AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
         hits AS (SELECT doc_id, k FROM corp JOIN bench USING (g)),
         ${spanRewriteSql("WHERE doc_id % 10 <> 0")}""")),
    // dc5: the dd6 split-cosine replay, corpus-vs-benchmark, argmax per
    // corpus vector over the snapped cosine with bench_id tie-break
    "dc5_semantic_decontam" -> Entry(dc5SemanticDecontam(_, _), Some(
      s"""WITH bench AS (
           SELECT vec_id AS bench_id, embedding FROM embeddings
           WHERE vec_id % 17 = 0),
         corp AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 0),
         p AS (
           SELECT c.vec_id, b.bench_id,
             ${cos4("c.embedding", "b.embedding")} AS cos
           FROM corp c CROSS JOIN bench b),
         best AS (
           SELECT vec_id, bench_id, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, bench_id) AS rn
           FROM p)
         SELECT vec_id, bench_id, cos AS max_cosine,
           CAST(cos >= 0.45 AS INT) AS contaminated
         FROM best WHERE rn = 1 ORDER BY vec_id""")),
    // dd12: the dc4 gram/rewrite chains, corpus-vs-itself, with the
    // min-doc_id keeper rule replayed
    "dd12_span_self_dedup" -> Entry(dd12SpanSelfDedup(_, _), Some(
      s"""WITH $spanGramCtes,
         dup AS (
           SELECT g, MIN(doc_id) AS keeper
           FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         hits AS (
           SELECT x.doc_id, x.k FROM g x JOIN dup d USING (g)
           WHERE x.doc_id <> d.keeper),
         ${spanRewriteSql("")}""")),
    "dc2_decontam_corpus" -> Entry(dc2DecontamCorpus(_, _), Some(
      s"""WITH ${benchShingleCtes()},
         $flaggedCte
         SELECT doc_id FROM documents
         WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
         ORDER BY doc_id""")),
    "dc3_decontam_bloom" -> Entry(dc3DecontamBloom(_, _), Some(dc1DecontamSql)),
    // dd9: same toks derivation as dd4 but windows keep MULTIPLICITY (no
    // DISTINCT) — a span repeated inside one doc is duplicated text too.
    "dd9_span_coverage" -> Entry(dd9SpanCoverage(_, _), Some(
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
         win AS (
           SELECT doc_id, array_to_string(t[k:k+4], ' ') AS g
           FROM toks, LATERAL UNNEST(generate_series(1, greatest(len(t)-4, 1))) AS u(k)),
         occ AS (SELECT g, COUNT(*) AS c FROM win GROUP BY 1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS dup_fraction
         FROM win JOIN occ USING (g) GROUP BY doc_id ORDER BY doc_id""")),
    // sp1/sp2/mx1: keyed-hash sampling family. u = first 60 bits of
    // md5("<seed>:<id>") / 2^60 — the ta4/o4 md5-prefix-long idiom; all
    // registered weights are binary-exact so thresholds match bit-for-bit.
    "sp1_split" -> Entry(sp1Split(_, _), Some(
      s"""WITH u AS (SELECT doc_id, ${md5UnitSql("split")} AS u FROM documents)
         SELECT doc_id, $splitCaseSql AS split
         FROM u ORDER BY doc_id""")),
    // sp4: the dd7 closure verbatim + sp1's split CASE keyed on the
    // component representative (singletons key on their own id)
    "sp4_component_split" -> Entry(sp4ComponentSplit(_, _), Some(
      s"""WITH RECURSIVE ${jaccardComponentCtes()},
         k AS (
           SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         uu AS (
           SELECT doc_id, split_key, ${md5UnitSql("split", "split_key")} AS u
           FROM k)
         SELECT doc_id, split_key, $splitCaseSql AS split
         FROM uu ORDER BY doc_id""")),
    "sp2_stratified" -> Entry(sp2Stratified(_, _), Some(
      s"""SELECT doc_id FROM (
           SELECT doc_id, ${md5UnitSql("strat")} AS u
           FROM documents)
         WHERE u < CASE WHEN doc_id % 2 = 0 THEN 0.75 ELSE 0.25 END
         ORDER BY doc_id""")),
    // sp3: exact-size sample = first n rows in keyed-md5 order (the sh1
    // collation argument: lowercase hex == identical order both engines)
    "sp3_fixed_sample" -> Entry(sp3FixedSample(_, _), Some(
      """SELECT doc_id, sample_rank FROM (
           SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS INT) AS sample_rank
           FROM documents)
         WHERE sample_rank <= 100 ORDER BY sample_rank""")),
    "mx1_resample" -> Entry(mx1Resample(_, _), Some(
      s"""WITH w AS (
           SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 2.5 WHEN 1 THEN 0.25
               WHEN 2 THEN 1.0 ELSE 0.0 END AS w,
             ${md5UnitSql("mix")} AS u
           FROM documents),
         c AS (
           SELECT doc_id,
             CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS INT) AS n
           FROM w)
         SELECT doc_id, CAST(g.k AS INT) AS copy
         FROM c, LATERAL UNNEST(generate_series(1, n)) AS g(k)
         ORDER BY doc_id, copy""")),
    // sh1: rank in keyed-md5 order; hex is lowercase ASCII, so DuckDB
    // string order == Spark UTF8String binary order
    "sh1_shuffle" -> Entry(sh1Shuffle(_, _), Some(
      """SELECT doc_id,
           ROW_NUMBER() OVER (
             ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
             AS shuffle_pos
         FROM documents ORDER BY doc_id""")),
    // pk1: concat-and-cut layout = exclusive prefix sum over doc_id order;
    // integer // division mirrors Spark's `div`. pk2: per-shard greedy
    // reset — the g3 recursive-CTE shape partitioned by shard.
    "pk1_pack" -> Entry(pk1Pack(_, _), Some(
      s"""WITH d AS (
           SELECT doc_id, CAST(${tok("text")} AS BIGINT) AS n_tokens FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
           FROM d)
         SELECT doc_id, n_tokens, start_offset,
           start_offset // 256 AS seq_id,
           (start_offset + greatest(n_tokens, 1) - 1) // 256 AS seq_last,
           ((start_offset + greatest(n_tokens, 1) - 1) // 256)
             > (start_offset // 256) AS crosses_boundary
         FROM c ORDER BY doc_id""")),
    // pk1b: pk1's prefix-sum CTE + generate_series over each doc's
    // spanned sequences; within-sequence span arithmetic is end-exclusive
    // (span covers [max(start, base), min(start+n, base+budget)))
    "pk1b_packed_spans" -> Entry(pk1bPackedSpans(_, _), Some(
      s"""WITH d AS (
           SELECT doc_id, CAST(${tok("text")} AS BIGINT) AS n_tokens FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
           FROM d),
         p AS (
           SELECT doc_id, n_tokens, start_offset,
             UNNEST(generate_series(start_offset // 256,
               (start_offset + n_tokens - 1) // 256)) AS seq_id
           FROM c WHERE n_tokens > 0)
         SELECT seq_id, doc_id,
           greatest(start_offset, seq_id * 256) - seq_id * 256 AS span_start,
           least(start_offset + n_tokens, seq_id * 256 + 256)
             - greatest(start_offset, seq_id * 256) AS span_len,
           start_offset >= seq_id * 256 AS is_doc_start,
           start_offset + n_tokens <= seq_id * 256 + 256 AS is_doc_end
         FROM p ORDER BY seq_id, doc_id""")),
    "pk2_pack_greedy" -> Entry(pk2PackGreedy(_, _), Some(
      s"""WITH RECURSIVE d AS (
           SELECT doc_id, CAST(${tok("text")} AS BIGINT) AS w,
             CAST(doc_id % 8 AS BIGINT) AS shard
           FROM documents),
         sq AS (
           SELECT doc_id, w, shard,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
           FROM d),
         rec AS (
           SELECT shard, rn, doc_id, w, 0 AS seq, w AS cur
           FROM sq WHERE rn = 1
           UNION ALL
           SELECT s.shard, s.rn, s.doc_id, s.w,
             CASE WHEN r.cur + s.w > 1000 THEN r.seq + 1 ELSE r.seq END,
             CASE WHEN r.cur + s.w > 1000 THEN s.w ELSE r.cur + s.w END
           FROM rec r JOIN sq s ON s.shard = r.shard AND s.rn = r.rn + 1)
         SELECT doc_id, w AS n_tokens, shard, seq FROM rec ORDER BY doc_id""")),
    // s11: record framing + byte offsets replayed in SQL (strlen = UTF-8
    // octets = Spark's octet_length); the injected fake record is part of
    // the expected payload — length-driven parsing returns it intact
    "s11_warc_roundtrip" -> Entry(s11WarcRoundtrip(_, _), Some {
      val crlf = "chr(13) || chr(10)"
      val inj = s"$crlf || $crlf || 'WARC/1.0' || $crlf || " +
        s"'WARC-Record-ID: 999999' || $crlf || 'Content-Length: 0' || " +
        s"$crlf || $crlf || $crlf || $crlf"
      s"""WITH d AS (
           SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || $inj
                  ELSE coalesce(text, '') END AS payload
           FROM documents),
         r AS (
           SELECT doc_id, shard, payload,
             'WARC/1.0' || $crlf ||
             'WARC-Record-ID: ' || CAST(doc_id AS VARCHAR) || $crlf ||
             'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) ||
             $crlf || $crlf || payload || $crlf || $crlf AS rec
           FROM d)
         SELECT shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) - 1
             AS BIGINT) AS rec_idx,
           CAST(COALESCE(SUM(strlen(rec)) OVER (PARTITION BY shard
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             1 PRECEDING), 0) AS BIGINT) AS byte_offset,
           doc_id, payload AS text
         FROM r ORDER BY shard, rec_idx"""
    }),
    // dd7: transitive closure (recursive CTE) over the SAME pair derivation
    // as dd4; component = min reachable id. Mirrors min-label propagation's
    // fixed point exactly.
    "dd7_components" -> Entry(dd7Components(_, _), Some(
      s"""WITH RECURSIVE ${jaccardComponentCtes()}
         SELECT doc_id, component FROM comp ORDER BY doc_id""")),
    // dd8: keep the min doc_id per distinct text
    "dd8_dedup_corpus" -> Entry(dd8DedupCorpus(_, _), Some(
      """SELECT doc_id, length(text) AS n_chars FROM (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""")),
    // dd8b: the dd7 closure + per-component argmax keeper (length, -id)
    "dd8b_dedup_best" -> Entry(dd8bDedupBest(_, _), Some(
      s"""WITH RECURSIVE ${jaccardComponentCtes()},
         scored AS (
           SELECT d.doc_id, length(d.text) AS n_chars, c.component
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         keepers AS (
           SELECT doc_id FROM (
             SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
               ORDER BY n_chars DESC, doc_id ASC) AS rn
             FROM scored WHERE component IS NOT NULL)
           WHERE rn = 1)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM scored
         WHERE component IS NULL
            OR doc_id IN (SELECT doc_id FROM keepers)
         ORDER BY doc_id""")),
    // dd11: cut after token i iff md5-grid hit on gram (i, i+1)
    "dd11_cdc_chunks" -> Entry(dd11CdcChunks(_, _), Some(
      s"""WITH $cdcChunkCtes
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(CASE WHEN length(chunk) = 0 THEN 0
             ELSE len(string_split(chunk, ' ')) END AS BIGINT) AS n_toks,
           md5(chunk) AS chunk_md5
         FROM x ORDER BY doc_id, chunk_idx""")),
    // dd11b: dd11's chunk derivation -> per-doc distinct chunk weights ->
    // boilerplate cap -> shared-mass containment pairs -> component
    // closure -> min-id survivors
    "dd11b_cdc_dedup_corpus" -> Entry(dd11bCdcDedup(_, _), Some(
      s"""WITH RECURSIVE $cdcChunkCtes,
         xt AS (
           SELECT doc_id, md5(chunk) AS h,
             CASE WHEN length(chunk) = 0 THEN 0
               ELSE len(string_split(chunk, ' ')) END AS nt
           FROM x),
         ch AS (
           SELECT doc_id, h, MAX(nt) AS w FROM xt WHERE nt >= 4 GROUP BY 1, 2),
         tot AS (SELECT doc_id, SUM(w) AS tot FROM ch GROUP BY 1),
         hot AS (SELECT h FROM ch GROUP BY h HAVING COUNT(*) > 256),
         pr AS (
           SELECT ch.doc_id, ch.h, ch.w, tot.tot
           FROM ch JOIN tot USING (doc_id)
           WHERE ch.h NOT IN (SELECT h FROM hot)),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(SUM(a.w) * 1.0 / LEAST(a.tot, b.tot), 4) AS containment
             FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, a.tot, b.doc_id, b.tot)
           WHERE containment >= 0.5),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT DISTINCT a AS src, a AS dst FROM edges
           UNION
           SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         comp AS (SELECT src AS doc_id, MIN(dst) AS component
           FROM reach GROUP BY src)
         SELECT dd.doc_id, CAST(length(dd.text) AS INT) AS n_chars
         FROM documents dd LEFT JOIN comp ON dd.doc_id = comp.doc_id
         WHERE comp.component IS NULL OR comp.component = dd.doc_id
         ORDER BY dd.doc_id""")),
    // SimHash is md5-derived (60-bit token hashes), so the weighted bit-sum
    // signature, the 4x15-bit pigeonhole blocking AND the Hamming verify
    // all reproduce exactly in SQL.
    "dd5_simhash_pairs" -> Entry(dd5Simhash(_, _), Some(
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS t
           FROM documents),
         cnt AS (
           SELECT doc_id, t, COUNT(*) AS w,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
           FROM tok GROUP BY 1, 2),
         bits AS (
           SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS s
           FROM cnt, LATERAL UNNEST(generate_series(0, 59)) AS g(b) GROUP BY 1, 2),
         sig0 AS (
           SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
           FROM bits GROUP BY 1),
         sig AS (
           SELECT d.doc_id, COALESCE(sig0.simhash, 0) AS simhash
           FROM documents d LEFT JOIN sig0 ON d.doc_id = sig0.doc_id),
         blocks AS (
           SELECT doc_id, simhash, blk, (simhash >> (blk * 15)) & 32767 AS key
           FROM sig, LATERAL UNNEST([0, 1, 2, 3]) AS u(blk))
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
         FROM blocks x JOIN blocks y USING (blk, key)
         WHERE x.doc_id < y.doc_id AND bit_count(xor(x.simhash, y.simhash)) <= 3
         ORDER BY doc_a, doc_b""")),
    "dd6_embedding_pairs" -> Entry(dd6EmbeddingPairs(_, _), Some(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ${cos4("a.embedding", "b.embedding")} AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE cosine >= 0.45 ORDER BY id_a, id_b""")))

  // ------------------------------------------------------------ similarity

  /** The top-k query set: vectors 0–4 as (query_id, embedding) — the
    * Scala twin of `OracleSqlGen.queryCte`.
    */
  private def topkQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** SS1: brute-force cosine top-5 for query vectors (vec_id < 5). */
  private def ss1CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, topkQueries(emb), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS11: MMR-diversified top-5 over the exact top-20 shortlist, λ=0.7
    * (ss1's query set). FULL oracle — the 5 greedy rounds unroll as
    * generated CTEs (the gr1 pattern), with λ and 1−λ interpolated as
    * the exact double literals the Scala walk uses.
    */
  private def ss11MmrTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Similarity.mmrTopK(emb, topkQueries(emb), k = 5, shortlist = 20)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS2: LSH-bucketed approximate top-5 (the 100 TB path; rows-only check
    * — hyperplane banding is not reasonably SQL-expressible).
    */
  private def ss2LshTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Similarity.lshTopK(emb, topkQueries(emb), 5, 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS3: IVF approximate top-5 (coarse-quantizer cells + probe rerank —
    * the second ANN scale path; rows-only, k-means cells aren't
    * SQL-expressible). The quantizer trains on a deterministic 1/4 sample —
    * the at-scale shape (training never scans the full corpus).
    */
  private def ss3IvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, topkQueries(emb), 5, 64, trainSampleMod = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS7: IVF index LIFECYCLE gate — build the index (coarse quantizer +
    * inverted file) at ss3's operating point, persist it to parquet, load
    * it back, and serve the same query batch from BOTH the fresh and the
    * loaded index. At corpus scale the index outlives any query batch
    * (train/assign once, store, serve forever); this gate pins that the
    * store→load round trip is lossless — floats round-trip parquet
    * exactly, so the served top-k must be row-identical. Oracled to the
    * literal (1, 0, 1): results exist, zero rows differ, pass.
    */
  private def ss7IndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val queries = topkQueries(emb)
    val (cells, cs) = Similarity.buildIvfIndex(emb, 16, 2, trainSampleMod = 4)
    withScratch("graft_ivf_") { idxDir =>
      Similarity.saveIvfIndex(cells, cs, idxDir.toString)
      val (cells2, cs2) = Similarity.loadIvfIndex(spark, idxDir.toString)
      val fresh = Similarity.ivfSearch(cells, cs, queries, 5, 6)
        .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      val served = Similarity.ivfSearch(cells2, cs2, queries, 5, 6)
        .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      val diff = served.exceptAll(fresh).count() + fresh.exceptAll(served).count()
      val n = served.count()
      import spark.implicits._
      Seq(((n > 0), diff, (diff == 0L)))
        .toDF("has_rows", "n_diff", "pass")
        .select(col("has_rows").cast("int").as("has_rows"),
          col("n_diff").cast("long").as("n_diff"),
          col("pass").cast("int").as("pass"))
    }
  }

  /** SS8: IVF-PQ (IVFADC) approximate top-5 — the two quantizers composed
    * into the FAISS billion-scale default: coarse cells prune the probe
    * set to nProbe/nCells of the corpus AND the probed cells scan m-byte
    * residual codes instead of float vectors, with the exact float rerank
    * on the shortlist. Rows-only (two k-means models in the loop); recall
    * measured by ss8_recall, floored by ss8_gate, determinism + rerank
    * exactness pinned by PqSpec. Operating point (ProbeSs8 sweep, r8):
    * 16 cells, probe 8, m=8/ksub=64 on residuals (6-bit subcodes — the
    * r7 ksub=16 point left ADC resolution on the table), sampled
    * training, shortlist 250. On this adversarial corpus (near-uniform
    * vectors: weak cells AND maximal ADC distortion) the sweep showed
    * nProbe as the binding lever (6→8: recall 0.72→0.84 at sf0.1) with
    * ksub=64 adding the rest; measured 0.88/0.80/0.84 across the driver
    * SFs vs the r7 point's 0.80/0.72/0.68.
    */
  private def ss8IvfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.Pq.ivfPqTopK(emb, topkQueries(emb), 5,
        ksub = 64, nProbe = 8, trainSampleMod = 4, shortlist = 250)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS8 recall@5 vs the exact ss1 baseline — the composed index pays both
    * pruning losses (unprobed cells + ADC shortlist misses), so this is
    * the number that says whether composing the quantizers kept enough
    * signal.
    */
  private def ss8Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      graft.operators.Pq.ivfPqTopK(emb, q, 5,
        ksub = 64, nProbe = 8, trainSampleMod = 4, shortlist = 250))
      .orderBy(col("query_id"))
  }

  /** SS7b: index APPEND gate — train the coarse model on the even-id half
    * only, build its inverted file, then append the odd-id half against
    * the frozen centroids. Serving the same query batch from the appended
    * index must be row-identical to the index built over the full corpus
    * in one shot WITH THE SAME model (assignment is a pure function of
    * (vector, centroids)) — the maintenance story a 100 TB index needs:
    * appends re-assign the delta only, retraining is a rebuild decision.
    * Oracled to the literal (1, 0, 1).
    */
  private def ss7bIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val queries = topkQueries(emb)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val (evenCells, cs) = Similarity.buildIvfIndex(even, 16, 2,
      trainSampleMod = 4)
    val appended = Similarity.ivfAppend(evenCells, cs, odd)
    val oneShot = Similarity.ivfAssign(emb, cs)
    val a = Similarity.ivfSearch(appended, cs, queries, 5, 6)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
    val b = Similarity.ivfSearch(oneShot, cs, queries, 5, 6)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    val n = a.count()
    import spark.implicits._
    Seq(((n > 0), diff, (diff == 0L))).toDF("has_rows", "n_diff", "pass")
      .select(col("has_rows").cast("int").as("has_rows"),
        col("n_diff").cast("long").as("n_diff"),
        col("pass").cast("int").as("pass"))
  }

  /** QZ1: per-vector symmetric int8 quantization with worst-case
    * reconstruction error carried per row.
    */
  private def qz1Quantize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.quantizeInt8(tbl(spark, dir, "embeddings"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        // CSV-of-bytes, not the raw list: the driver's compare sorts and
        // hashes row values, and list cells are unhashable there
        array_join(col("qvec").cast("array<string>"), ",").as("qvec_csv"),
        round(col("max_abs_err"), 6).as("max_abs_err"))
      .orderBy(col("vec_id"))

  /** QZ2: top-5 cosine search over the quantized vectors — scales cancel
    * out of the cosine, so the whole search is integer math plus one sqrt
    * and carries an exact oracle (unlike the LSH/IVF paths).
    */
  private def qz2TopkQuant(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.Quantize.quantizedTopK(emb, topkQueries(emb), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** QZ3: recall@5 of the quantized search against the exact float
    * baseline — and because both sides are deterministic arithmetic, the
    * recall itself is oracled, not just measured.
    */
  private def qz3Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val queries = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, queries, 5),
      graft.operators.Quantize.quantizedTopK(emb, queries, 5))
      .orderBy(col("query_id"))
  }

  /** QZ5: matryoshka-truncated cosine top-5 — search on the 32-dim prefix
    * of the 64-dim embeddings (half the scan bytes and half the
    * dot-product cost, no codebook). Deterministic arithmetic → full
    * oracle, like qz2.
    */
  private def qz5MatryoshkaTopk(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.operators.Quantize.matryoshkaTruncate(
      tbl(spark, dir, "embeddings"), 32)
    Similarity.bruteForceTopK(t, topkQueries(t), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** QZ5 recall: truncated-prefix search vs the full-dim exact baseline —
    * deterministic both sides, so the recall is oracled, not just
    * measured (the qz3 pattern). On these structureless synthetic vectors
    * the measured value IS the worst case; MRL-trained embeddings sit far
    * above it.
    */
  private def qz5Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val t = graft.operators.Quantize.matryoshkaTruncate(emb, 32)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, topkQueries(emb), 5),
      Similarity.bruteForceTopK(t, topkQueries(t), 5))
      .orderBy(col("query_id"))
  }

  /** QZ6: sign-quantized Hamming top-5 — one bit per dimension, the
    * codebook-free deepest scan cut (8 B/vector at dim 64, integer-only
    * search). Deterministic packing and integer distances → full oracle,
    * like qz2/qz5; recall vs the float baseline is the oracled quality
    * row.
    */
  private def qz6SignTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.Quantize.signTopK(emb, topkQueries(emb), 5, 64)
      .orderBy(col("query_id"), col("rank"))
  }

  private def qz6Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      graft.operators.Quantize.signTopK(emb, q, 5, 64))
      .orderBy(col("query_id"))
  }

  /** QZ6b: sign shortlist + exact rerank — the production two-stage form,
    * and the one two-stage ANN whose ENTIRE chain is fully oracled
    * (integer shortlist + deterministic rerank; the model-backed stages
    * can only gate recall). Shortlist 100 (20x k) recovers most of the
    * pure-sign loss on this corpus.
    */
  private def qz6bSignRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.Quantize.signTopKReranked(emb, topkQueries(emb), 5, 64,
        shortlist = 100)
      .orderBy(col("query_id"), col("rank"))
  }

  private def qz6bRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      graft.operators.Quantize.signTopKReranked(emb, q, 5, 64,
        shortlist = 100))
      .orderBy(col("query_id"))
  }

  /** QZ4: product-quantization top-5 — ADC code scan (m=8 bytes/vector, a
    * 32x scan cut vs float32) shortlists, exact float rerank ranks.
    * Rows-only (k-means codebooks aren't SQL-expressible); recall measured
    * by qz4_recall, rerank-exactness and determinism pinned by PqSpec.
    */
  private def qz4PqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    // shortlist 150 (30x k): the near-uniform corpus maximizes ADC
    // distortion, so the shortlist needs depth (measured recall@5 at
    // sf0.01: 0.80 at shortlist=50, 0.96 at 150); the extra depth costs
    // only rerank rows, never a wider code scan
    graft.operators.Pq.pqTopK(emb, topkQueries(emb), 5, shortlist = 150)
      .orderBy(col("query_id"), col("rank"))
  }

  /** QZ4 recall@5 of the PQ shortlist+rerank against the exact float
    * baseline — the hard quality signal for the compressed-scan path on
    * the driver's near-uniform corpus (the adversarial case for PQ:
    * no cluster structure to compress).
    */
  private def qz4Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      graft.operators.Pq.pqTopK(emb, q, 5, shortlist = 150))
      .orderBy(col("query_id"))
  }

  /** Near-dup benchmark corpus for the dd6b family. The raw testdata
    * embeddings have NO true near-duplicates (measured max pairwise cosine
    * 0.60 at sf0.1), so an LSH query registered at a semantically-real
    * near-dup threshold (>= 0.85, where sign-LSH actually prunes — see
    * [[Dedup.embeddingCosinePairsLsh]]'s recall economics) would be vacuous
    * on them, and the old 0.45 operating point made the prefilter a no-op
    * (random-pair collision ~1 across tables). This helper plants real
    * near-dups: every vector also appears as a deterministically jittered
    * copy (vec_id + 10^6) with relative noise r = ||w||/||v|| in
    * [0.25, 0.45], giving planted-pair cosine ~ 1/sqrt(1+r^2) in
    * ~[0.91, 0.97] while cross pairs stay below ~0.65. The jitter is a pure
    * function of (vec_id, vector) — java.util.Random's LCG is spec-pinned —
    * so the corpus is identical across runs, partitionings and platforms.
    */
  private def nearDupEmbeddings(emb: DataFrame): DataFrame = {
    val jit = udf { (id: Long, v: Seq[Float]) =>
      if (v == null) null
      else {
        val rnd = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
        val r = 0.25 + 0.20 * rnd.nextDouble()
        val g = Array.fill(v.length)(rnd.nextGaussian())
        var nv = 0.0
        var ng = 0.0
        v.foreach(x => nv += x.toDouble * x.toDouble)
        g.foreach(x => ng += x * x)
        val s = if (ng == 0.0) 0.0 else r * math.sqrt(nv) / math.sqrt(ng)
        Array.tabulate(v.length)(i => (v(i) + s * g(i)).toFloat)
      }
    }
    val base = emb.select(col("vec_id"), col("embedding"))
    base.unionByName(base.select((col("vec_id") + 1000000L).as("vec_id"),
      jit(col("vec_id"), col("embedding")).as("embedding")))
  }

  /** DD6b: embedding near-dup pairs via the LSH prefilter (the 100 TB path
    * of dd6; rows-only — approximate by construction; recall measured by
    * dd6b_recall against the exact baseline on the same corpus). Registered
    * at the realistic 0.85 threshold on the planted-near-dup corpus with
    * auto-scaled planes and the default bucket cap — the operating point
    * where the prefilter actually prunes (candidate volume ~ n * bucket *
    * tables, vs the exact verifier's n^2/2).
    */
  private def dd6bEmbeddingPairsLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairsLsh(
        nearDupEmbeddings(tbl(spark, dir, "embeddings")), 0.85, 64)
      .orderBy(col("id_a"), col("id_b"))

  /** Shared int8-quantization CTE mirroring [[graft.operators.Quantize]]:
    * scale = max|x|/127 per vector, q = clamp(round(x/scale), ±127). All
    * double arithmetic — bit-identical to the Spark Column expressions.
    */
  private val quantizeCte =
    """qs0 AS (
         SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
             AS scale
         FROM embeddings),
       qz AS (
         SELECT vec_id, embedding, scale,
           CASE WHEN scale > 0 THEN
             list_transform(embedding, x ->
               CAST(greatest(least(round(CAST(x AS DOUBLE) / scale), 127.0), -127.0)
                 AS TINYINT))
           ELSE list_transform(embedding, x -> CAST(0 AS TINYINT)) END AS qvec
         FROM qs0)"""

  /** Quantized-search scoring CTE (needs [[quantizeCte]]): scales cancel
    * out of the cosine, so score = int dot / sqrt(int norm product).
    */
  private val quantScoredCte =
    """qn AS (
         SELECT vec_id, qvec,
           list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)))
             AS inorm
         FROM qz),
       qnq AS (
         SELECT vec_id AS query_id, qvec AS q_q, inorm AS in_q
         FROM qn WHERE vec_id < 5 AND inorm > 0),
       qscored AS (
         SELECT qnq.query_id, c.vec_id,
           round(list_sum(list_transform(list_zip(qnq.q_q, c.qvec),
             p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
             / sqrt(CAST(qnq.in_q AS DOUBLE) * CAST(c.inorm AS DOUBLE)), 4) AS cosine
         FROM qn c, qnq WHERE c.vec_id <> qnq.query_id AND c.inorm > 0)"""

  private def qz2TopkSql: String =
    s"""WITH $quantizeCte,
       $quantScoredCte
       SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk("qscored")}
       ORDER BY query_id, rank"""

  /** Shared qz6 signature CTE: the 32-bit-word sign packing of the 64-dim
    * embeddings, exactly [[graft.operators.Quantize.signBits]].
    */
  private val signSigCte: String =
    """sig AS (
       SELECT vec_id,
         [CAST(list_sum(list_transform(range(0, 32),
            i -> CASE WHEN embedding[CAST(i + 1 AS INT)] >= 0
              THEN CAST(POWER(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT),
          CAST(list_sum(list_transform(range(0, 32),
            i -> CASE WHEN embedding[CAST(i + 33 AS INT)] >= 0
              THEN CAST(POWER(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT)] AS sig
       FROM embeddings)"""

  /** qz6's sign scan: [[signSigCte]], `q` = the vec_id < 5 query
    * signatures, `hscored` (query_id, vec_id, hamming) = the popcount of
    * the per-word XOR — integers end to end.
    */
  private def signHammingCtes: String =
    s"""$signSigCte,
       q AS (SELECT vec_id AS query_id, sig AS sig_q FROM sig WHERE vec_id < 5),
       hscored AS (
         SELECT q.query_id, c.vec_id,
           CAST(list_sum(list_transform(list_zip(c.sig, q.sig_q),
             p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
         FROM sig c, q WHERE c.vec_id <> q.query_id)"""

  /** FROM-clause body: `hscored`'s first `k` per query by (hamming ASC,
    * vec_id ASC), numbered as `rank`.
    */
  private def hammingTopk(k: Int, rank: String): String =
    s"""(
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY hamming ASC, vec_id ASC) AS $rank FROM hscored)
       WHERE $rank <= $k"""

  /** qz6b's two-stage scan: the integer Hamming shortlist `sl` (<= 100)
    * then the exact cosine rerank `rr` of the shortlist rows only.
    */
  private def signRerankCtes: String =
    s"""$signHammingCtes,
       sl AS (SELECT query_id, vec_id FROM ${hammingTopk(100, "srank")}),
       ${queryCte("fq")},
       rr AS (
         SELECT sl.query_id, sl.vec_id,
           ${cos4("fq.eq", "c.embedding")} AS cosine
         FROM sl
         JOIN embeddings c ON sl.vec_id = c.vec_id
         JOIN fq ON sl.query_id = fq.query_id)"""

  /** qz5's 32-dim Matryoshka prefix `m` (list_slice is Spark's
    * slice(_, 1, 32) — both inclusive 1-based).
    */
  private val matryoshkaCte: String =
    """m AS (SELECT vec_id, list_slice(embedding, 1, 32) AS embedding
                    FROM embeddings)"""

  private def similarityEntries: Seq[(String, Entry)] = Seq(
    "ss1_cosine_topk" -> Entry(ss1CosineTopk(_, _), Some(
      s"""WITH ${exactCosineCtes()}
         SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk("scored")}
         ORDER BY query_id, rank""")),
    // ss11: the 5 greedy MMR rounds unrolled as generated CTEs over the
    // r4-snapped cosine tables; λ / (1−λ) are the exact double literals
    // the Scala walk uses (1−0.7 interpolated, never a DECIMAL literal)
    "ss11_mmr_topk" -> Entry(ss11MmrTopk(_, _), Some {
      val lam = "0.7e0"
      val olam = s"${1.0 - 0.7}e0"
      // zero-norm guard mirrors the Scala when(denom === 0.0, 0.0)
      def cosExpr(x: String, y: String) = {
        def nrm(v: String) =
          s"sqrt(list_sum(list_transform($v, w -> CAST(w AS DOUBLE) * CAST(w AS DOUBLE))))"
        s"""CASE WHEN ${nrm(x)} * ${nrm(y)} = 0 THEN 0.0 ELSE round(
             list_sum(list_transform(list_zip($x, $y),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (${nrm(x)} * ${nrm(y)}),
           4) END"""
      }
      val rounds = (2 to 5).map { i =>
        val joins = (1 until i).map(j =>
          s"JOIN sel$j s$j ON c.query_id = s$j.query_id " +
            s"LEFT JOIN prs p$j ON p$j.query_id = c.query_id " +
            s"AND p$j.a = c.vec_id AND p$j.b = s$j.vec_id").mkString(" ")
        val reds = (1 until i).map(j => s"COALESCE(p$j.cs, 0.0e0)").mkString(", ")
        val notPicked = (1 until i).map(j => s"c.vec_id <> s$j.vec_id").mkString(" AND ")
        s"""red$i AS (
           SELECT c.query_id, c.vec_id, c.cosine, greatest($reds) AS red
           FROM cand c $joins
           WHERE $notPicked),
         sel$i AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY $lam * cosine - $olam * red DESC, vec_id ASC) AS rn
             FROM red$i) WHERE rn = 1)"""
      }.mkString(",\n         ")
      val unions = (1 to 5).map(i =>
        s"SELECT query_id, CAST($i AS INT) AS rank, vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""WITH ${queryCte("q")},
         scored AS (
           SELECT q.query_id, c.vec_id, c.embedding,
             ${cosExpr("q.eq", "c.embedding")} AS cosine
           FROM embeddings c, q WHERE c.vec_id <> q.query_id),
         cand AS (
           SELECT query_id, vec_id, embedding, cosine FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM scored) WHERE rnk <= 20),
         prs AS (
           SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
             ${cosExpr("x.embedding", "y.embedding")} AS cs
           FROM cand x JOIN cand y
             ON x.query_id = y.query_id AND x.vec_id <> y.vec_id),
         sel1 AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS rn
             FROM cand) WHERE rn = 1),
         $rounds
         SELECT query_id, rank, vec_id FROM ($unions)
         ORDER BY query_id, rank"""
    }),
    // ss2: the sign-LSH top-5 REPLAYED end to end — hyperplanes are
    // corpus-independent seeded constants interpolated as literals;
    // bucket keys, the Hamming-1 multiprobe shell, candidate dedup and
    // the 4dp rerank are all re-derived in SQL (OracleSqlGen.ss2TopkSql).
    // The former "approximate by construction => rows-only" stance was
    // too weak: approximate vs the EXACT scan, yes — but deterministic
    // given the corpus, so fully oracle-able.
    "ss2_lsh_topk" -> Entry(ss2LshTopk(_, _), Some(OracleSqlGen.ss2TopkSql)),
    // ss3: the IVF top-5 with the coarse quantizer RE-TRAINED in SQL
    // (lowest-vec_id seeds, two Lloyd rounds with double-cosine
    // assignment and decimal-exact float means, empty cells keeping
    // their centroid), then probe + rerank (OracleSqlGen.ss3TopkSql).
    "ss3_ivf_topk" -> Entry(ss3IvfTopk(_, _), Some(OracleSqlGen.ss3TopkSql)),
    // ss7: the persisted IVF index serves bit-identical results to the
    // freshly built one (floats round-trip parquet exactly)
    "ss7_index_roundtrip" -> Entry(ss7IndexRoundtrip(_, _), Some(
      "SELECT 1 AS has_rows, CAST(0 AS BIGINT) AS n_diff, 1 AS pass")),
    // ss8: IVFADC composed — the ss3 coarse-quantizer replay + float-
    // exact residuals + the qz4 PQ trainer on residual space + the
    // (centroid-dot-first) ADC accumulation, shortlist 250, 4dp rerank.
    "ss8_ivfpq_topk" -> Entry(ss8IvfPqTopk(_, _), Some(OracleSqlGen.ss8TopkSql)),
    "ss8_recall" -> Entry(ss8Recall(_, _), Some(OracleSqlGen.ss8RecallSql)),
    // ss7b: appended index ≡ one-shot index under the same frozen model
    "ss7b_index_append" -> Entry(ss7bIndexAppend(_, _), Some(
      "SELECT 1 AS has_rows, CAST(0 AS BIGINT) AS n_diff, 1 AS pass")),
    "qz1_quantize" -> Entry(qz1Quantize(_, _), Some(
      s"""WITH $quantizeCte
         SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(list_transform(qvec, x -> CAST(x AS VARCHAR)), ',')
             AS qvec_csv,
           round(list_max(list_transform(list_zip(qvec, embedding),
             p -> abs(CAST(p[1] AS DOUBLE) * scale - CAST(p[2] AS DOUBLE)))), 6)
             AS max_abs_err
         FROM qz ORDER BY vec_id""")),
    "qz2_topk_quant" -> Entry(qz2TopkQuant(_, _), Some(qz2TopkSql)),
    "qz3_recall" -> Entry(qz3Recall(_, _), Some(
      s"""WITH $quantizeCte,
         $quantScoredCte,
         ${apCte("qscored")},
         $recallTail""")),
    // qz5: ss1's cosine replay on the 32-dim list prefix
    "qz5_matryoshka_topk" -> Entry(qz5MatryoshkaTopk(_, _), Some(
      s"""WITH $matryoshkaCte,
         ${exactCosineCtes("m")}
         SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk("scored")}
         ORDER BY query_id, rank""")),
    // qz5_recall: truncated top-5 vs full-dim top-5, both re-derived —
    // the qz3 recall-composition shape
    "qz5_recall" -> Entry(qz5Recall(_, _), Some(
      s"""WITH $matryoshkaCte,
         ${exactCosineCtes("m")},
         ${apCte("scored")},
         $recallTail""")),
    // qz6: the sign packing replayed exactly — bit j of word w set iff
    // embedding[w*32 + j + 1] >= 0 (POWER(2, j) is double-exact to 2^31);
    // Hamming = popcount of per-word XOR. Integers end to end.
    "qz6_sign_topk" -> Entry(qz6SignTopk(_, _), Some(
      s"""WITH $signHammingCtes
         SELECT query_id, vec_id, hamming, rank FROM ${hammingTopk(5, "rank")}
         ORDER BY query_id, rank""")),
    // qz6_recall: sign top-5 vs the float exact top-5, both re-derived
    "qz6_recall" -> Entry(qz6Recall(_, _), Some(
      s"""WITH $signHammingCtes,
         ap AS (SELECT query_id, vec_id FROM ${hammingTopk(5, "rank")}),
         $recallTail""")),
    // qz6b: the FULL two-stage replay — integer Hamming shortlist (<=100)
    // then the exact cosine rerank on shortlist rows only
    "qz6b_sign_rerank" -> Entry(qz6bSignRerank(_, _), Some(
      s"""WITH $signRerankCtes
         SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk("rr")}
         ORDER BY query_id, rank""")),
    // qz6b_recall: two-stage top-5 vs the float exact top-5 — every stage
    // of BOTH sides re-derived, so even the recall of a two-stage ANN is
    // a hash-checked number here
    "qz6b_recall" -> Entry(qz6bRecall(_, _), Some(
      s"""WITH $signRerankCtes,
         ${apCte("rr")},
         $recallTail""")),
    // qz4: the PQ shortlist+rerank REPLAYED end to end — per-subspace
    // codebooks re-trained in SQL (lowest-vec_id seeds, two L2 Lloyd
    // rounds, decimal-exact means), every row re-encoded, the ADC score
    // accumulated in the UDF's exact order via order-pinned list sums,
    // shortlist 150 and the 4dp rerank re-derived (OracleSqlGen.qz4*).
    // Deterministic given the corpus, so fully oracle-able — the ss2/ss3
    // conversion argument, extended to the compressed-scan family.
    "qz4_pq_topk" -> Entry(qz4PqTopk(_, _), Some(OracleSqlGen.qz4TopkSql)),
    "qz4_recall" -> Entry(qz4Recall(_, _), Some(OracleSqlGen.qz4RecallSql)),
    "dd6b_embedding_pairs_lsh" -> Entry(dd6bEmbeddingPairsLsh(_, _)))

  // ------------------------------------------------------------ ANN recall

  /** SS10: exact top-5 over the mean-CENTERED embeddings table
    * (All-but-the-top step 1) — FULL oracle: the SQL re-computes the
    * decimal-exact per-dim means, replays the double-subtract +
    * float-re-round centering, and runs the ss1 cosine/rank chain on the
    * centered lists. Holds the centering transform itself to SQL parity;
    * dd13 then applies it where it matters (anisotropic tx embeddings).
    */
  private def ss10CenteredTopk(spark: SparkSession, dir: String): DataFrame = {
    // Materialized: the corpus AND query sides of the broadcast scan both
    // consume the centered table — without this the per-dim decimal mean
    // aggregate runs twice
    val cent = graft.operators.Materialize(
      Similarity.centerEmbeddings(tbl(spark, dir, "embeddings")))
    Similarity.bruteForceTopK(cent, topkQueries(cent), 5)
      .select("query_id", "vec_id", "cosine", "rank")
      .orderBy(col("query_id"), col("rank"))
  }

  /** DD13: SEMANTIC near-dup pairs on raw TEXT through the in-process
    * model — tx sentence embeddings, mean-centered (ProbeDd13 measured
    * the anisotropy that makes centering load-bearing: 27% of ALL doc
    * pairs sat above cosine 0.93 raw; centered, the 0.8-threshold pair
    * set shrinks ~200x while every lexical near-dup pair keeps cosine
    * ≥ 0.88), then the LSH-bucketed pair scan. The SemDeDup-on-text
    * shape: embed -> center -> bucket -> verify. Rows-only (the encoder
    * has no SQL replay); dd13_gate floors lexical-pair recall.
    */
  private def dd13TextSemanticPairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.operators.Materialize(txDocEmb(spark, dir))
    // planes from the Materialized base table's count (same rule, same k)
    // — the auto path would execute the centering subplan just to learn n
    Dedup.embeddingCosinePairsLsh(Similarity.centerEmbeddings(emb),
        0.8, txModel.dim, planes = Dedup.autoPlanes(emb.count()))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared dd13/dd13b gate contract (literal oracle): every lexical
    * (jaccard ≥ 0.8) near-dup pair must surface in the given semantic
    * pair set — semantic dedup may catch MORE than lexical (that is its
    * point) but never less. Floor 0.90; measured 1.0 at sf0.001/0.01/0.1
    * (ProbeDd13). One helper so the threshold/floor pair cannot drift
    * between the LSH and clustered twins.
    */
  private def textSemGate(spark: SparkSession, dir: String,
      semPairs: DataFrame): DataFrame = {
    val lex = Dedup.ngramJaccardPairs(tbl(spark, dir, "documents"), "text", 3, 0.8)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val sem = semPairs.select(col("id_a"), col("id_b"), lit(1).as("h"))
    recallGate(lex.join(sem, Seq("id_a", "id_b"), "left")
      .select(coalesce(col("h"), lit(0)).cast("double").as("recall")), 90)
  }

  private def dd13Gate(spark: SparkSession, dir: String): DataFrame =
    textSemGate(spark, dir, dd13TextSemanticPairs(spark, dir))

  /** DD13b: the OUTPUT-bounded twin of dd13 — SemDeDup-on-text through
    * the in-process model with k-means cluster routing (the cl2 recipe,
    * Abbas et al. 2023) instead of a global LSH pair scan. The 100x probe
    * measured the tradeoff from both sides. dd13's pair LISTING is
    * output-bound on a structure-dense corpus (tiny vocabulary, so token
    * mixes repeat): the ≥0.8 centered-cosine pair mass grows
    * quadratically — its first 100x bench attempt exhausted the probe
    * host's 74 GB of spill disk; the retry completed in 503 s. dd13b
    * bounds CANDIDATE VOLUME to ~n x targetClusterSize and caps
    * degenerate cells (maxClusterSize), so its shuffle/spill footprint
    * stays linear — but auto-k makes the centroid-assignment pass
    * O(n x k) = n²/targetClusterSize FLOPs, which is exactly the step
    * the SemDeDup paper runs on GPUs at LAION scale: measured 4.8/53.5 s
    * at 1x/10x, and the 100x point extrapolates to ~an hour on 32 CPU
    * threads (probe killed, recorded in SCALE.md). Routing rule: capped
    * dd13 is the CPU wall-clock path while pair mass is manageable;
    * dd13b is the memory/spill-safe shape whose 100 TB story assumes an
    * accelerated or ANN-assisted assignment step (e.g. routing
    * assignment itself through sign-LSH). Rows-only; dd13b_gate floors
    * the planted-lexical-pair recall at the dd13_gate contract.
    */
  private def dd13bTextSemdedupClustered(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = graft.operators.Materialize(txDocEmb(spark, dir))
    graft.operators.Clustering.semDedupPairs(
        Similarity.centerEmbeddings(emb), 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DD13b gate: [[textSemGate]] on the clustered twin. */
  private def dd13bGate(spark: SparkSession, dir: String): DataFrame =
    textSemGate(spark, dir, dd13bTextSemdedupClustered(spark, dir))

  /** DD13c: dd13b's clustered SemDeDup with the ANN-ASSISTED assignment
    * (assignGroups = 4 coarse groups per row,
    * [[graft.operators.CentroidIndex.searchApprox]]) — the shape that
    * closes dd13b's measured O(n·k) assignment wall: per-row cost drops
    * from O(k·d) to O(√k·(1+4)·d), and the 100× probe point that was
    * killed at ~1 h extrapolated for the exact form COMPLETES (SCALE.md
    * r10). Rows-only like its twins; dd13c_gate holds the same
    * lexical-recall contract.
    */
  private def dd13cTextSemdedupAnn(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = graft.operators.Materialize(txDocEmb(spark, dir))
    graft.operators.Clustering.semDedupPairs(
        Similarity.centerEmbeddings(emb), 0.8, assignGroups = 4)
      .orderBy(col("id_a"), col("id_b"))
  }

  private def dd13cGate(spark: SparkSession, dir: String): DataFrame =
    textSemGate(spark, dir, dd13cTextSemdedupAnn(spark, dir))

  /** DD13r: the semantic-dedup ROUTER itself, driver-verified (the ev7c
    * discipline) — [[graft.operators.Clustering.semDedupPairsRouted]]
    * probes the corpus's pair mass on a deterministic sample and picks
    * the LSH listing (output-linear corpora) or the ANN-assigned
    * clustered shape (pair-dense corpora). At the verify SFs the probe
    * measures ~0.25 pairs/doc and routes to the LSH branch; the 100×
    * structure-dense probe corpus routes clustered (SCALE.md r10 pins
    * both decisions). Held to the same recall gate whichever branch
    * fires — routing is a plan choice inside one contract.
    */
  private def dd13rTextSemdedupRouted(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = graft.operators.Materialize(txDocEmb(spark, dir))
    graft.operators.Clustering.semDedupPairsRouted(
        Similarity.centerEmbeddings(emb), 0.8, txModel.dim)
      .orderBy(col("id_a"), col("id_b"))
  }

  private def dd13rGate(spark: SparkSession, dir: String): DataFrame =
    textSemGate(spark, dir, dd13rTextSemdedupRouted(spark, dir))

  /** SS9: mined hard negatives — per query the five highest-cosine
    * DIFFERENT-label vectors below the 0.45 denoise cap (on this corpus,
    * dd6's pair threshold: real ≥0.45 different-label pairs exist, so
    * the false-negative exclusion demonstrably fires). FULL oracle: the
    * SQL replays the label filter, the denoise cap, the split cosine,
    * and the (cosine desc, vec_id) rank.
    */
  private def ss9HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Similarity.hardNegatives(emb,
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"), col("label")),
        5, 0.45)
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** SS2 recall@5 vs the exact ss1 baseline — the hard quality signal for
    * the sign-LSH path (per-query rows; spec floors the mean).
    */
  private def ss2Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      Similarity.lshTopK(emb, q, 5, 64))
      .orderBy(col("query_id"))
  }

  /** SS3 recall@5 vs the exact ss1 baseline (IVF path, sampled training). */
  private def ss3Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      Similarity.ivfTopK(emb, q, 5, 64, trainSampleMod = 4))
      .orderBy(col("query_id"))
  }

  /** SS13: graph-ANN top-5 ([[graft.operators.GraphAnn]]) — the fourth
    * index family (HNSW paradigm, BSP form): k-NN graph from the
    * registered LSH candidate pairs, symmetrized top-8 out-edges, three
    * synchronized beam-search rounds (beam 16) from the four lowest-id
    * entry points. FULL oracle: the whole chain — hyperplane literals,
    * bucket pair expansion, per-node top-m window, symmetrize, and the
    * three unrolled beam rounds — replays in DuckDB
    * (OracleSqlGen.ss13TopkSql), so the graph index is hash-checked, not
    * just recall-floored.
    */
  private def ss13GraphTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.operators.GraphAnn.graphTopK(emb, topkQueries(emb), 5, 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS13 recall@5 vs the exact ss1 baseline (the family's quality row). */
  private def ss13Recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val q = topkQueries(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, 5),
      graft.operators.GraphAnn.graphTopK(emb, q, 5, 64))
      .orderBy(col("query_id"))
  }

  /** SS4: TF-IDF cosine near-dup pairs at 0.8 — the lexical near-dup
    * detector: sparse-vector cosine with no embedding model in the loop.
    * Every floating step is one IEEE op on 6dp-grid inputs or a decimal
    * sum, so the oracle is exact.
    *
    * Registration note (r4 advice): the synthetic corpus has a ~31-token
    * vocabulary where every term but one sits at df ≈ 0.78·n, so the
    * production default cap (0.5) left a single surviving term and every
    * pair at cosine exactly 1.0 — the threshold arithmetic was vacuous.
    * Here we admit the full vocabulary (cap 1.0) and bound the quadratic
    * pair cost with a 200-doc slice instead; measured cosines then span
    * 0.02–0.91 with ~500 pairs genuinely straddling the 0.8 threshold.
    * On a real corpus the df cap (fraction or absolute `maxDf`) is the
    * scale guard; the slice is purely a testdata-vocabulary artifact.
    */
  private def ss4TfidfPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Lexical.tfidfCosinePairs(
      tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 200),
      0.8, maxDfFraction = 1.0)
      .orderBy(col("id_a"), col("id_b"))

  /** SS5: BM25 top-5 retrieval (k1=1.2, b=0.75), querying the corpus with
    * its own first five documents (the ss1 slice convention — each query's
    * top hit should be itself, a built-in sanity signal the oracle checks
    * for free).
    */
  private def ss5Bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    // cap 1.0 (r4 advice): with the testdata's 31-token vocabulary every
    // query term has df ≈ 0.78·n, so the production default (0.5) pruned
    // the whole query and the oracle passed vacuously at 0 rows. BM25's
    // idf already discounts ubiquitous terms (≈0.25 at df/n = 0.78), so
    // admitting them keeps scores meaningful while the ranking is real.
    graft.operators.Lexical.bm25TopK(docs, queries, 5, maxDfFraction = 1.0)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SS6: hybrid retrieval — dense cosine top-10 (ss1's exact path) and
    * lexical BM25 top-10 (ss5) fused by reciprocal-rank fusion at k=60,
    * top-5 out. The standard RAG retrieval stack as one composed, fully
    * oracled plan; vec_id ≡ doc_id in the testdata, which is what makes
    * the fusion meaningful. rank_a/rank_b carry provenance (0 = the item
    * was absent from that list; the dense list excludes self-matches by
    * ss1 convention, BM25 does not — fusion handles the asymmetry).
    */
  private def ss6HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val emb = tbl(spark, dir, "embeddings")
    val qText = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    val dense = Similarity.bruteForceTopK(emb, topkQueries(emb), 10)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    // cap 1.0 — same testdata-vocabulary rationale as ss5; with the
    // default cap the BM25 leg was empty and "hybrid" degenerated to the
    // dense ranking with rank_b = 0 everywhere.
    val lexical = graft.operators.Lexical.bm25TopK(docs, qText, 10,
      maxDfFraction = 1.0)
    Similarity.rrfFuse(dense, lexical, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private def annRecallEntries: Seq[(String, Entry)] = Seq(
    // ss10: the centering transform + ss1's chain on the centered lists —
    // decimal-exact per-dim means, double-subtract, float re-round
    "ss10_centered_topk" -> Entry(ss10CenteredTopk(_, _), Some(
      s"""WITH dm AS (
           SELECT u.i AS i,
             CAST(SUM(CAST(CAST(e.embedding[u.i] AS DOUBLE)
               AS DECIMAL(38, 10))) AS DOUBLE) / COUNT(*) AS mu
           FROM embeddings e
           CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) u
           GROUP BY 1),
         mv AS (SELECT list(mu ORDER BY i) AS m FROM dm),
         cent AS (
           SELECT vec_id,
             list_transform(list_zip(embedding, (SELECT m FROM mv)),
               p -> CAST(CAST(p[1] AS DOUBLE) - p[2] AS REAL)) AS embedding
           FROM embeddings),
         ${queryCte("q", "cent")},
         scored AS (
           -- unlike the raw-fixture ss1 shape, CENTERING can produce an
           -- exact-zero vector (an embedding equal to the mean), so the
           -- Scala path's zero-denominator guard is replayed here
           SELECT q.query_id, c.vec_id,
             CASE WHEN
               (sqrt(list_sum(list_transform(q.eq, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) = 0
             THEN 0.0 ELSE round(
               list_sum(list_transform(list_zip(q.eq, c.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.eq, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4) END AS cosine
           FROM cent c, q WHERE c.vec_id <> q.query_id)
         SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk("scored")}
         ORDER BY query_id, rank""")),
    "dd13_text_semantic_pairs" -> Entry(dd13TextSemanticPairs(_, _)),
    // dd13_gate: lexical near-dups must all surface in the semantic set
    "dd13_gate" -> Entry(dd13Gate(_, _),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "dd13b_text_semdedup" -> Entry(dd13bTextSemdedupClustered(_, _)),
    "dd13b_gate" -> Entry(dd13bGate(_, _),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "dd13c_text_semdedup_ann" -> Entry(dd13cTextSemdedupAnn(_, _)),
    // dd13c/dd13r: the ANN-assigned clustered form and the measured
    // router both hold the identical lexical-recall contract
    "dd13c_gate" -> Entry(dd13cGate(_, _),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "dd13r_text_semdedup_routed" -> Entry(dd13rTextSemdedupRouted(_, _)),
    "dd13r_gate" -> Entry(dd13rGate(_, _),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    // ss9: ss1's cosine replay + label-mismatch filter + denoise cap +
    // per-query rank — the full mined-negative set
    "ss9_hard_negatives" -> Entry(ss9HardNegatives(_, _), Some(
      s"""WITH ${exactCosineCtes()},
         neg AS (
           SELECT s.query_id, s.vec_id, s.cosine FROM scored s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.vec_id
           WHERE ce.label <> qe.label AND s.cosine < 0.45)
         SELECT query_id, neg_rank, vec_id, cosine FROM (
           SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS neg_rank
           FROM neg)
         WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""")),
    "ss2_recall" -> Entry(ss2Recall(_, _), Some(OracleSqlGen.ss2RecallSql)),
    "ss3_recall" -> Entry(ss3Recall(_, _), Some(OracleSqlGen.ss3RecallSql)),
    // ss13: the graph-ANN chain — LSH-pair graph build, per-node top-m
    // window, symmetrize, three unrolled beam rounds — replayed whole
    // (hyperplane literals; the ss2 machinery one level up)
    "ss13_graph_topk" -> Entry(ss13GraphTopk(_, _), Some(OracleSqlGen.ss13TopkSql)),
    "ss13_recall" -> Entry(ss13Recall(_, _), Some(OracleSqlGen.ss13RecallSql)),
    // ss13_gate: recall floor for the graph index (floor set ~0.15 under
    // the min measured across SFs - the recallGate convention)
    "ss13_gate" -> Entry((s: SparkSession, d: String) =>
      recallGate(ss13Recall(s, d), 80),
      Some("SELECT 80 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    // ss4: TF-IDF cosine pairs. The idf is rounded to the 6dp grid before
    // weighting (ta11 rule: 1-ulp ln differences cannot reach the result);
    // dot products and norm-squares go through round-then-decimal-sum, so
    // summation order cannot move the cosine in either engine.
    "ss4_tfidf_pairs" -> Entry(ss4TfidfPairs(_, _), Some(
      """WITH t AS (
           SELECT doc_id,
             UNNEST(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
           FROM documents WHERE doc_id < 200),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM t GROUP BY 1, 2),
         d AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
         w AS (
           SELECT doc_id, tok, tf * round(ln(n_docs / df), 6) AS w
           FROM tf JOIN d USING (tok), n
           WHERE df <= 1.0 * n_docs),
         nrm AS (
           SELECT doc_id,
             sqrt(CAST(SUM(CAST(round(w * w, 6) AS DECIMAL(38,10))) AS DOUBLE))
               AS nrm
           FROM w GROUP BY 1),
         dot AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(CAST(round(a.w * b.w, 6) AS DECIMAL(38,10))) AS DOUBLE)
               AS dot
           FROM w a JOIN w b USING (tok)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         cosed AS (
           SELECT id_a, id_b,
             round(CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
               ELSE dot / (na.nrm * nb.nrm) END, 4) AS cosine
           FROM dot JOIN nrm na ON dot.id_a = na.doc_id
                    JOIN nrm nb ON dot.id_b = nb.doc_id)
         SELECT id_a, id_b, cosine FROM cosed
         WHERE cosine >= 0.8 ORDER BY id_a, id_b""")),
    // ss5: BM25 top-5 (bm25Ctes)
    "ss5_bm25_topk" -> Entry(ss5Bm25Topk(_, _), Some(
      s"""WITH ${bm25Ctes()}
         SELECT query_id, doc_id, score, rank FROM (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS INT) AS rank FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank""")),
    // ss6: the ss1 (dense, k=10) and ss5 (BM25, k=10) oracles composed as
    // CTEs, fused by RRF — one IEEE division per list (CAST AS DOUBLE:
    // DuckDB would otherwise divide in DECIMAL) and one addition on a
    // full-outer join, so exactness is inherited from the two inputs.
    "ss6_hybrid_rrf" -> Entry(ss6HybridRrf(_, _), Some(
      s"""WITH ${bm25Ctes("bmscored")},
         bm AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rank FROM bmscored)
           WHERE rank <= 10),
         ${exactCosineCtes(scored = "dnscored")},
         dn AS (
           SELECT query_id, vec_id AS doc_id, rank FROM ${cosineTopk("dnscored", 10)}),
         fused AS (
           SELECT COALESCE(a.query_id, b.query_id) AS query_id,
             COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CAST(COALESCE(a.rank, 0) AS INT) AS rank_a,
             CAST(COALESCE(b.rank, 0) AS INT) AS rank_b,
             round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.rank), 0.0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.rank), 0.0), 9)
               AS score
           FROM dn a FULL OUTER JOIN bm b
             ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
         SELECT query_id, doc_id, rank_a, rank_b, score,
           CAST(rn AS INT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rn FROM fused)
         WHERE rn <= 5 ORDER BY query_id, rank""")))

  // --------------------------------------------------------------- graph

  /** Customer→supplier edge set (who buys from whom), the natural TPC-H
    * digraph: one distinct edge per (customer, supplier) trading pair;
    * supplier nodes offset by 10^6 to keep the id spaces disjoint.
    */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = tbl(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
  }

  /** GR1: PageRank (3 power iterations, d=0.85, dangling redistribution)
    * over the trade graph — supplier authority scoring. Ranks live on a
    * 9dp grid with decimal-summed contributions, so the oracle (the same
    * three iterations unrolled as CTEs) matches bit-for-bit.
    */
  private def gr1Pagerank(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(tradeEdges(spark, dir), 3)
      .orderBy(col("node"))

  /** GR1b: the same PageRank through the salted two-phase contribution
    * aggregate (celebrity-dst skew path) — held to the SAME oracle SQL as
    * gr1, so the salted decimal partial-sum is proven bit-exact on real
    * data (the `g1b` pattern for graphs).
    */
  private def gr1bPagerankSalted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(tradeEdges(spark, dir), 3, saltBuckets = 8)
      .orderBy(col("node"))

  /** GR2: per-node degree profile of the trade graph — the hub/skew report
    * that sizes every downstream graph join.
    */
  private def gr2Degrees(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.degreeStats(tradeEdges(spark, dir))
      .orderBy(col("node"))

  /** DD6b pair-recall vs the exact cartesian baseline, both at dd6b's
    * registered operating point (planted-near-dup corpus, 0.85 threshold,
    * auto planes). Spec floor >= 0.9 (RecallSpec); theory predicts ~0.99
    * (q = 1 - acos(0.91)/pi = 0.864, k = 8 planes at sf0.1 corpus size ->
    * per-table collision q^k = 0.31, 16 tables -> 1 - (1-0.31)^16).
    */
  private def dd6bRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    Similarity.pairRecall(
      Dedup.embeddingCosinePairs(emb, 0.85),
      Dedup.embeddingCosinePairsLsh(emb, 0.85, 64))
  }

  /** DD6c: the semantic-dedup ROUTER on the fully oracle-able embeddings
    * table — the dd13r machinery with the hard anchors the tx path
    * cannot carry: containment is ORACLED (whichever branch fires, every
    * routed pair is exact-scored and must appear in the cartesian at the
    * threshold with an identical cosine) and the recall gate floors the
    * planted-pair recall at dd6b's 95. At the verify SFs the pair-mass
    * probe measures the planted corpus pair-sparse and routes the LSH
    * listing; the clustered branch is pinned by ClusteringSpec's
    * forced-branch case and the 100x probe.
    */
  private def dd6cEmbeddingPairsRouted(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.Clustering.semDedupPairsRouted(
        nearDupEmbeddings(tbl(spark, dir, "embeddings")), 0.85, 64)
      .orderBy(col("id_a"), col("id_b"))

  private def dd6cContainment(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    containmentAudit(
      graft.operators.Clustering.semDedupPairsRouted(emb, 0.85, 64),
      Dedup.embeddingCosinePairs(emb, 0.85))
  }

  private def dd6cRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    Similarity.pairRecall(
      Dedup.embeddingCosinePairs(emb, 0.85),
      graft.operators.Clustering.semDedupPairsRouted(emb, 0.85, 64))
  }

  /** gr1 oracle: `iters` PageRank power iterations over the trade graph,
    * unrolled as CTE pairs (dangling mass d{i}, contributions c{i}, next
    * ranks r{i}) — arithmetic, rounding grid, and literals (emitted from
    * the Scala doubles, so both engines parse identical bit patterns)
    * mirror Graph.pageRank exactly.
    */
  private def gr1PagerankSql(iters: Int, damping: Double): String = {
    val setup =
      """e AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg
                    FROM e GROUP BY 1),
         r0 AS (SELECT node, round(1.0 / n, 9) AS rank FROM nodes, nn)"""
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (
           SELECT COALESCE(${exactSumSql("rank")}, 0.0) AS dm
           FROM r${i - 1} r LEFT JOIN outdeg o ON r.node = o.src
           WHERE o.src IS NULL),
         c$i AS (
           SELECT e.dst AS node, ${exactSumSql("round(r.rank / o.outdeg, 9)")} AS s
           FROM e JOIN r${i - 1} r ON e.src = r.node
                JOIN outdeg o ON e.src = o.src
           GROUP BY 1),
         r$i AS (
           SELECT nd.node,
             round(${1.0 - damping} / nn.n + $damping *
               (COALESCE(c.s, 0.0) + d$i.dm / nn.n), 9) AS rank
           FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node, nn, d$i)"""
    }.mkString(",\n         ")
    s"""WITH $setup,
         $rounds
         SELECT node, rank FROM r$iters ORDER BY node"""
  }

  /** The near-dup pair listings' precision-1.0 literal (cl2, dd6b, dd6c):
    * the Spark side recomputes the violation counters from the two pair
    * sets (anti-join + cosine equality), so any false-positive pair or
    * scoring drift lands a nonzero counter and breaks the hash; has_pairs
    * guards vacuity (an empty approximation yields 0 rows). dd6c's routed
    * listing is exact-scored whichever branch the pair-mass probe picks.
    */
  private val pairContainmentSql: String =
    """SELECT 1 AS has_pairs, CAST(0 AS BIGINT) AS n_missing,
         CAST(0 AS BIGINT) AS n_cosine_mismatch"""

  private def graphEntries: Seq[(String, Entry)] = Seq(
    // gr1: PageRank's three power iterations unrolled as CTEs — same 9dp
    // grid, same decimal sums, same dangling/teleport arithmetic (all
    // literals emitted from the Scala doubles), so the match is bit-exact.
    "gr1_pagerank" -> Entry(gr1Pagerank(_, _), Some(gr1PagerankSql(3, 0.85))),
    // gr1b: the salted two-phase variant must produce bit-identical ranks,
    // so it is held to gr1's oracle VERBATIM — any divergence introduced by
    // the salt partials is a hash mismatch.
    "gr1b_pagerank_salted" -> Entry(gr1bPagerankSalted(_, _),
      Some(gr1PagerankSql(3, 0.85))),
    "gr2_degrees" -> Entry(gr2Degrees(_, _), Some(
      """WITH e AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         o AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg
               FROM e GROUP BY 1),
         i AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg
               FROM e GROUP BY 1)
         SELECT COALESCE(o.node, i.node) AS node,
           COALESCE(out_deg, CAST(0 AS BIGINT)) AS out_deg,
           COALESCE(in_deg, CAST(0 AS BIGINT)) AS in_deg
         FROM o FULL OUTER JOIN i ON o.node = i.node ORDER BY node""")),
    "dd6b_recall" -> Entry(dd6bRecall(_, _)),
    "dd6c_embedding_pairs_routed" -> Entry(dd6cEmbeddingPairsRouted(_, _)),
    "dd6c_containment" -> Entry(dd6cContainment(_, _), Some(pairContainmentSql)),
    "dd6c_recall" -> Entry(dd6cRecall(_, _)))

  // ------------------------------------------------------------ clustering

  /** CL1: k-means cluster cardinality profile (8 cells, 2 Lloyd rounds,
    * deterministic sampled training — the [[Similarity.ivfTopK]] trainer).
    * Rows-only: centroid evolution is not SQL-expressible; determinism and
    * coverage are pinned by ClusteringSpec.
    */
  private def cl1ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.clusterSizes(
      tbl(spark, dir, "embeddings"), 8, 2)
      .orderBy(col("cluster"))

  /** CL1 coverage gate: k-means assignment must PARTITION the corpus —
    * cluster sizes sum to exactly the embedding count (no row dropped or
    * double-assigned) and every one of the 8 cells is non-empty on this
    * corpus. cl1 itself is now FULLY oracled (the ss3 k-means replay at
    * nCells=8/trainMod=1 — OracleSqlGen.cl1SizesSql); this gate stays as
    * the partition-invariant check that holds at any operating point.
    * Oracled to the literal (8, 1).
    */
  private def cl1Gate(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val sizes = graft.operators.Clustering.clusterSizes(emb, 8, 2)
    sizes.agg(count(lit(1)).as("cells"), sum(col("n_vectors")).as("assigned"))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("total"))))
      .select(col("cells").cast("int").as("n_cells"),
        (col("assigned") === col("total")).cast("int").as("coverage_ok"))
  }

  /** CL2: SemDeDup near-dup pairs (Abbas et al. 2023) on the planted
    * near-dup corpus at the realistic 0.85 threshold — within-cluster exact
    * cosine only, the n²/k pruning. Registered at the AUTO operating point
    * (nClusters=0 → k = n/targetClusterSize, the dd6b auto-planes rule —
    * a fixed k is quadratic at scale) with sampled training (mod 4, the
    * ss3 shape). Rows-only; pair quality measured by cl3_semdedup_recall.
    */
  private def cl2SemdedupPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.semDedupPairs(
      nearDupEmbeddings(tbl(spark, dir, "embeddings")), 0.85,
      trainSampleMod = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** CL3: SemDeDup pair-recall vs the exact cartesian at the same
    * threshold/corpus — the measured miss rate of the centroid-boundary
    * approximation (RecallSpec floors it at 0.9). Measured at sf0.01:
    * 0.868 with single assignment, 0.996 at the default nAssign=2
    * (top-2-cell multi-assignment — the multiprobe analogue), with
    * precision exactly 1.0 both ways (within-cluster pairs are
    * exact-scored).
    */
  private def cl3SemdedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    Similarity.pairRecall(
      Dedup.embeddingCosinePairs(emb, 0.85),
      graft.operators.Clustering.semDedupPairs(emb, 0.85, trainSampleMod = 4))
  }

  /** Containment audit of an approximate pair set against the exact
    * cartesian baseline on the same corpus/threshold — the driver-visible
    * form of "precision is exactly 1.0" (r4 verdict next-#4; the qz3_recall
    * pattern: a quality claim emitted as a hash-checked row). One row:
    *   - has_pairs:          1 iff the approximate set is non-empty — the
    *                         non-vacuity guard (an empty approximation
    *                         would "contain" trivially);
    *   - n_missing:          approx pairs absent from the exact set (anti
    *                         join on ids) — any false-positive pair makes
    *                         this nonzero and breaks the oracle hash;
    *   - n_cosine_mismatch:  joined pairs whose cosines differ — both
    *                         sides compute r4(dot/(norm*norm)) with the
    *                         same IEEE op order, so equality is bit-exact.
    * The oracle is the literal (1, 0, 0): hard on precision and scoring,
    * while the (approximate-by-construction) recall stays a measured row
    * (cl3_semdedup_recall / dd6b_recall).
    */
  private def containmentAudit(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("id_a"), col("id_b"), col("cosine"))
    val e = exact.select(col("id_a"), col("id_b"),
      col("cosine").as("cosine_exact"))
    val joined = a.join(e, Seq("id_a", "id_b"), "left")
    joined.agg(
      max(lit(1)).as("has_pairs"), // agg over >=1 row iff approx non-empty
      count(when(col("cosine_exact").isNull, 1)).as("n_missing"),
      count(when(col("cosine_exact").isNotNull &&
        col("cosine") =!= col("cosine_exact"), 1)).as("n_cosine_mismatch"))
      .filter(col("has_pairs").isNotNull)
  }

  /** Recall floor emitted as a hash-checked row — the containmentAudit
    * pattern applied to the measured-recall family. The recall value
    * itself stays a measured (rows-only) query (the approximate paths ride
    * non-SQL models: MurmurHash planes / Lloyd centroids / PQ codebooks),
    * but whether it clears a floor is a deterministic boolean the driver
    * CAN gate on: every path is seeded, so per-SF the recall is exact, and
    * a parameter regression (planes, nProbe, shortlist, banding) that
    * halves recall flips `pass` and breaks the oracle hash. Floors sit
    * ~0.1-0.2 under the min measured across sf0.001/0.01/0.1 (ProbeRecalls:
    * ss2 0.84-1.0, ss3 0.72-0.8, qz4 0.84-1.0, dd6b >=0.9995,
    * cl3 >=0.959) — far above any broken operating point. One row:
    * (floor_x100, has_rows = non-vacuity guard, pass).
    */
  private def recallGate(recall: DataFrame, floorX100: Int): DataFrame =
    recall.agg(count(lit(1)).as("n"), avg(col("recall")).as("r"))
      .select(lit(floorX100).as("floor_x100"),
        (col("n") > 0).cast("int").as("has_rows"),
        (col("r") >= lit(floorX100.toDouble / 100.0)).cast("int").as("pass"))

  /** CL2 containment: every SemDeDup pair is an exact-cartesian pair at the
    * same 0.85 threshold with an identical cosine (within-cluster scoring
    * IS the exact formula — SemDeDup prunes candidates, never relaxes
    * scoring). Oracled to the literal (1, 0, 0).
    */
  private def cl2Containment(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    containmentAudit(
      graft.operators.Clustering.semDedupPairs(emb, 0.85, trainSampleMod = 4),
      Dedup.embeddingCosinePairs(emb, 0.85))
  }

  /** DD6b containment: the LSH prefilter's surviving pairs are exactly
    * verified (same formula), so dd6b ⊆ dd6 on the same corpus/threshold
    * with bit-identical cosines. Oracled to the literal (1, 0, 0).
    */
  private def dd6bContainment(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    containmentAudit(
      Dedup.embeddingCosinePairsLsh(emb, 0.85, 64),
      Dedup.embeddingCosinePairs(emb, 0.85))
  }

  /** Recall-floor gates for the measured-recall family ([[recallGate]]):
    * each turns its rows-only recall query into a hash-checked pass/fail
    * row against a literal oracle. Floors sit well under the min measured
    * across sf0.001/0.01/0.1 (ProbeRecalls) so only a genuine parameter
    * regression flips them.
    */
  private def ss2Gate(spark: SparkSession, dir: String): DataFrame =
    recallGate(ss2Recall(spark, dir), 70)

  private def ss3Gate(spark: SparkSession, dir: String): DataFrame =
    recallGate(ss3Recall(spark, dir), 60)

  private def qz4Gate(spark: SparkSession, dir: String): DataFrame =
    recallGate(qz4Recall(spark, dir), 70)

  private def ss8Gate(spark: SparkSession, dir: String): DataFrame =
    recallGate(ss8Recall(spark, dir), 65)

  private def dd6bGate(spark: SparkSession, dir: String): DataFrame =
    recallGate(dd6bRecall(spark, dir), 95)

  private def dd6cGate(spark: SparkSession, dir: String): DataFrame =
    recallGate(dd6cRecall(spark, dir), 95)

  private def cl3Gate(spark: SparkSession, dir: String): DataFrame =
    recallGate(cl3SemdedupRecall(spark, dir), 90)

  /** CL4 removal-precision audit: the SemDeDup-deduplicated corpus may
    * only UNDER-remove (missed pairs lower recall), never drop a doc that
    * lacks a verified near-dup partner — every removed doc must be an
    * endpoint of an exact-cosine pair at the same threshold (the dd6
    * cartesian baseline). Structural guarantee: removal happens only
    * inside a connected component of semDedupPairs, and cl2_containment
    * proves those pairs ⊆ exact pairs; this query re-derives the claim
    * from the outputs rather than trusting it. Oracled to the literal
    * (1, 0).
    */
  private def cl4Containment(spark: SparkSession, dir: String): DataFrame = {
    val emb = nearDupEmbeddings(tbl(spark, dir, "embeddings"))
    val kept = graft.operators.Clustering
      .semDedupCorpus(emb, 0.85, trainSampleMod = 4)
      .select(col("vec_id"))
    val removed =
      emb.select(col("vec_id")).join(kept, Seq("vec_id"), "left_anti")
    val pairs = Dedup.embeddingCosinePairs(emb, 0.85)
    val endpoints = pairs.select(col("id_a").as("vec_id"))
      .unionByName(pairs.select(col("id_b").as("vec_id")))
      .distinct()
      .withColumn("paired", lit(1))
    removed.join(endpoints, Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_removed"),
        count(when(col("paired").isNull, 1)).as("n_removed_unpaired"))
      .select((col("n_removed") > 0).cast("int").as("has_removed"),
        col("n_removed_unpaired"))
  }

  private def clusteringEntries: Seq[(String, Entry)] = Seq(
    // cl1: the k-means cluster-size profile with the model RE-TRAINED in
    // SQL (the ss3 replay at nCells=8, trainMod=1) — the "centroid values
    // ride a non-SQL model" stance fell with ss3's conversion.
    "cl1_cluster_sizes" -> Entry(cl1ClusterSizes(_, _), Some(OracleSqlGen.cl1SizesSql)),
    // cl1 partition invariant: 8 non-empty cells covering every vector
    "cl1_gate" -> Entry(cl1Gate(_, _), Some("SELECT 8 AS n_cells, 1 AS coverage_ok")),
    "cl2_semdedup_pairs" -> Entry(cl2SemdedupPairs(_, _)),
    "cl3_semdedup_recall" -> Entry(cl3SemdedupRecall(_, _)),
    "cl2_containment" -> Entry(cl2Containment(_, _), Some(pairContainmentSql)),
    "dd6b_containment" -> Entry(dd6bContainment(_, _), Some(pairContainmentSql)),
    // Recall-floor gates (recallGate): pass/fail is deterministic (seeded
    // approximate paths), so the driver hash-checks it even though the
    // recall VALUE rides non-SQL models (planes / centroids / codebooks).
    "ss2_gate" -> Entry(ss2Gate(_, _),
      Some("SELECT 70 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "ss3_gate" -> Entry(ss3Gate(_, _),
      Some("SELECT 60 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "qz4_gate" -> Entry(qz4Gate(_, _),
      Some("SELECT 70 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "ss8_gate" -> Entry(ss8Gate(_, _),
      Some("SELECT 65 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "dd6b_gate" -> Entry(dd6bGate(_, _),
      Some("SELECT 95 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "dd6c_gate" -> Entry(dd6cGate(_, _),
      Some("SELECT 95 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "cl3_gate" -> Entry(cl3Gate(_, _),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    // cl4 removal precision: every removed doc has an exactly-verified
    // near-dup partner (see cl4Containment scaladoc).
    "cl4_containment" -> Entry(cl4Containment(_, _), Some(
      """SELECT 1 AS has_removed, CAST(0 AS BIGINT) AS n_removed_unpaired""")))

  // --------------------------------------------------------- text analysis

  /** TA1: quality-score gates. */
  private def ta1Quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA2: stopword-vote language ID. */
  private def ta2LangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA3: BPE-ish token statistics. */
  private def ta3TokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA4: md5-derived 60-bit document fingerprint (exact DuckDB oracle). */
  private def ta4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA5: corpus vocabulary stats (vocab size, token count, TTR). */
  private def ta5Vocab(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabStats(tbl(spark, dir, "documents"))

  /** TA5b: HLL approximate vocabulary — the scale path next to ta5's exact
    * form, with the sketch-vs-exact error bound itself driver-checked (the
    * HLL estimate is a deterministic function of the token set, so the
    * within-5% flag is hash-oracle-able; rsd=2%).
    */
  private def ta5bVocabHll(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabStatsApprox(tbl(spark, dir, "documents"))

  /** TA15: sketch-pruned exact heavy hitters at k=50 (count > 2% of all
    * tokens). Full oracle — the exact SQL replay recomputes every heavy
    * token; a Misra-Gries sketch that dropped one would break the hash
    * (the sketch's containment guarantee IS the checked property).
    */
  private def ta15HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitters(tbl(spark, dir, "documents"), 50)
      .orderBy(col("cnt").desc, col("token"))

  /** TA7: PII redaction on a PII-bearing corpus derived in-query (the
    * clean test corpus carries none, so deterministic email / phone / IPv4
    * tokens are appended per doc — both redaction branches and the
    * count-on-original semantics get exercised on every row).
    */
  private def ta7PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val pii = tbl(spark, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +84 90 123 45"), col("doc_id").cast("string"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 now")).as("text"))
    TextAnalysis.redactPii(pii)
      .select(col("doc_id"), col("text_redacted"),
        col("n_emails"), col("n_phones"), col("n_ips"))
      .orderBy(col("doc_id"))
  }

  /** TA19: HTML-to-text extraction on an HTML corpus derived in-query
    * (the clean test corpus is prose, so each doc is wrapped in a
    * deterministic page template carrying every rule's trigger: comment,
    * script with a raw `<` inside, style, title, nav list with anchors,
    * block tags, `<br/>`, and all five structural entities). The body
    * prose rides through the full transform, so the extraction is
    * exercised on real text, not just the template. Full oracle — the
    * SQL replays the template and every regex/replace stage verbatim.
    */
  private def ta19HtmlCorpus(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    tbl(spark, dir, "documents").select(col("doc_id"),
      concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style type=\"text/css\">body { color: #fff; }" +
          "</style><script type=\"text/javascript\">var x = 1; " +
          "if (x < 2) { x = \"a&b\"; }</script></head><body><!-- nav "), id,
        // h1 is CONSTANT (not id-bearing): extraction must map exact-dup
        // source docs to exact-dup clean text, or downstream dedup
        // (stream_ccingest) would see phantom uniqueness. The id still
        // exercises id-varying removal via title and comment.
        lit(" --><div id=\"nav\"><ul><li><a href=\"/home\">Home</a></li>" +
          "<li><a href=\"/about\">About&nbsp;Us</a></li></ul></div>" +
          "<h1>Corpus</h1><p>"), coalesce(col("text"), lit("")),
        lit("</p><p>Fish &amp; Chips say &quot;hi&quot; to " +
          "&lt;b&gt;bold&lt;/b&gt;</p><br/></body></html>")).as("text"))
  }

  private def ta19HtmlExtract(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.extractHtml(ta19HtmlCorpus(spark, dir))
      .select(col("doc_id"), col("clean_text"), col("n_tags"),
        col("n_links"), col("text_ratio"))
      .orderBy(col("doc_id"))

  /** TA8: repetition signals on a multi-line corpus derived in-query
    * (8-word lines plus the first line repeated once, so every doc has a
    * known injected duplicate and the natural word-salad bigram mode on
    * top — both signals non-degenerate on every row).
    */
  /** TA9: Unicode normalization over a derived denormalized corpus — each
    * doc gets a combining-accent sequence, a BEL control char, and a
    * zero-width space appended, so every normalization rule fires on every
    * row and the oracle (DuckDB nfc_normalize + the same regexes) checks
    * the full transform, not just the ASCII identity path.
    */
  private def ta9Normalize(spark: SparkSession, dir: String): DataFrame = {
    val injected = tbl(spark, dir, "documents")
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" cafe\u0301\u0007\u200B fin")).as("text"))
    TextAnalysis.normalizeText(injected)
      .select(col("doc_id"), col("norm_text"), col("changed"))
      .orderBy(col("doc_id"))
  }

  /** TA12: corpus length-distribution report (exact quantiles). */
  private def ta12LengthStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthStats(tbl(spark, dir, "documents"))

  /** TA12b: the percentile_approx swap's GK rank-error contract as a
    * driver-checked gate (the estimate itself is merge-order-dependent
    * and can't be hashed; its guarantee can — the ta5b pattern). Oracled
    * to the literal (1, 1, 1).
    */
  private def ta12bLengthApprox(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthStatsApproxGate(tbl(spark, dir, "documents"))

  /** TA16: interpolated bigram LM score (λ=0.75, self-trained) — the
    * order-2 LM quality gate next to ta11's unigram. Full oracle: the SQL
    * replay re-trains both count tables and re-derives every interpolated
    * probability on the 6dp grid.
    */
  private def ta16BigramLogprob(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA17: CCNet perplexity bucketing — per-source head/middle/tail
    * terciles of the ta16 bigram-LM score. Full oracle: ta16's re-trained
    * count tables + NTILE(3) over the identical (score desc, doc_id)
    * total order.
    */
  private def ta17PplBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(tbl(spark, dir, "documents"), col("source"))
      .orderBy(col("doc_id"))

  /** TA18: self-trained Naive Bayes domain classifier — per-doc predicted
    * source + integer-exact NB score over the top-512 vocabulary. FULL
    * oracle: the SQL re-learns the vocabulary, the count tables, the
    * smoothed log-probs and the priors, and replays the micro-unit
    * integer argmax with the class-ascending tie-break.
    */
  /** Deterministic quality-label corpus for the cls1 family: every third
    * doc gets a spam-lexicon suffix (label −1), the rest a study-lexicon
    * suffix (label +1) — the lexical signal the trained classifier must
    * recover from hashed features. The plant is a pure function of
    * (doc_id, text), so the corpus replays in SQL (the ta13/ta14/nearDup
    * planting convention); the CLASSIFIER never sees doc_id, only the
    * hashed token stream.
    */
  private def plantedQualityDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 3 === 0,
        lit(" click buy free winner cash prize now deal"))
        .otherwise(lit(" study method result analysis careful review note")))
        .as("text"),
      when(col("doc_id") % 3 === 0, -1.0).otherwise(1.0).as("y"))

  private val ClsK = 64

  /** CLS1: trained linear quality classifier — hashed-presence ridge
    * regression fit by 8 conjugate-gradient steps on even-id docs (the
    * DCLM/CCNet bootstrap-a-cheap-filter pattern). FULL oracle: the
    * TRAINING REPLAYS IN SQL — features, b = Xᵀy/n, and all eight CG
    * iterations on the decimal(38,10) grid — so the weights themselves
    * are hash-checked, the first trainer in the registry whose
    * optimization loop (not just its served output) is oracle-verified.
    */
  private def cls1CgWeights(spark: SparkSession, dir: String): DataFrame = {
    val pl = plantedQualityDocs(tbl(spark, dir, "documents"))
    val w = graft.operators.LinearModel.trainCgRidgeArrays(
      graft.operators.LinearModel.hashedPresenceArrays(pl, ClsK),
      pl.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("y")),
      ClsK)
    graft.operators.LinearModel.weightsDf(spark, w)
      .select(col("feature"), round(col("weight"), 6).as("weight"))
      .orderBy(col("feature"))
  }

  /** CLS1 held-out scores: odd-id docs scored by the trained weights (one
    * map-only pass + per-doc decimal sum — the serving shape). pred is cut
    * from the unrounded score; FULL oracle.
    */
  private def cls1CgScores(spark: SparkSession, dir: String): DataFrame = {
    val pl = plantedQualityDocs(tbl(spark, dir, "documents"))
    val feats = graft.operators.LinearModel.hashedPresenceArrays(pl, ClsK)
    val w = graft.operators.LinearModel.trainCgRidgeArrays(feats,
      pl.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("y")),
      ClsK)
    val tst = pl.filter(col("doc_id") % 2 === 1)
    graft.operators.LinearModel
      .scoreArrays(feats.filter(col("doc_id") % 2 === 1), w)
      .join(tst.select(col("doc_id"), col("y").cast("int").as("label")),
        Seq("doc_id"))
      .select(col("doc_id"), round(col("score"), 6).as("score"),
        col("pred"), col("label"))
      .orderBy(col("doc_id"))
  }

  /** CLS1 held-out quality summary: accuracy vs the majority-class
    * baseline on odd-id docs — the measured lift of the trained model
    * (1.0 vs 0.67 on the planted corpus at every SF). FULL oracle.
    */
  private def cls1CgEval(spark: SparkSession, dir: String): DataFrame = {
    val pl = plantedQualityDocs(tbl(spark, dir, "documents"))
    val feats = graft.operators.LinearModel.hashedPresenceArrays(pl, ClsK)
    val w = graft.operators.LinearModel.trainCgRidgeArrays(feats,
      pl.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("y")),
      ClsK)
    val tst = pl.filter(col("doc_id") % 2 === 1)
    graft.operators.LinearModel
      .scoreArrays(feats.filter(col("doc_id") % 2 === 1), w)
      .join(tst.select(col("doc_id"), col("y")), Seq("doc_id"))
      .agg(count(lit(1)).as("n_test"),
        sum(((col("score") >= 0.0) === (col("y") > 0.0)).cast("long"))
          .as("n_correct"),
        r4(sum(((col("score") >= 0.0) === (col("y") > 0.0)).cast("long"))
          / count(lit(1))).as("accuracy"),
        r4(greatest(sum((col("y") > 0.0).cast("long")),
          sum((col("y") < 0.0).cast("long"))) / count(lit(1)))
          .as("majority_acc"))
  }

  /** PIPEt: curation with the TRAINED model in the loop — the composite a
    * real corpus build runs: plant labels → train the cls1 ridge
    * classifier on the even-id half → score EVERY doc with the frozen
    * weights → keep predicted-good → exact-dedup the keepers (min-doc_id
    * per text hash) → per-source report. Every stage is an
    * already-oracled operator; the composition is hash-checked end to
    * end, trained weights included.
    */
  private def pipeCurationTrained(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val pl = plantedQualityDocs(docs)
    val feats = graft.operators.LinearModel.hashedPresenceArrays(pl, ClsK)
    val w = graft.operators.LinearModel.trainCgRidgeArrays(feats,
      pl.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("y")),
      ClsK)
    val kept = graft.operators.LinearModel
      .scoreArrays(feats, w)
      .filter(col("pred") === 1)
      .join(pl.select(col("doc_id"), col("text")), Seq("doc_id"))
    Dedup.dedupedCorpus(kept)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"))
      .orderBy(col("source"))
  }

  /** TA15b: count-min-sketch heavy hitters — bounded sketch state (4×256
    * counters) instead of per-token shuffle, est ≥ exact visible per row.
    * FULL oracle (md5-salted hashing + integer mins replay in SQL).
    */
  private def ta15bHeavyHittersCms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHittersCms(tbl(spark, dir, "documents"))
      .orderBy(col("exact").desc, col("token"))

  /** TA20: per-shard distribution-drift report with a PLANTED corrupted
    * shard — every src3 doc gets a spam-lexicon suffix (the in-query
    * planting convention), and the JS/TV monitor must flag exactly that
    * shard while 19 clean shards stay under threshold (measured clean-
    * shard JS 0.0024–0.0046 vs planted 0.0222 at sf0.01; threshold 0.01
    * sits 2× above the clean band and 2× under the planted shard). FULL
    * oracle.
    */
  private def ta20ShardDrift(spark: SparkSession, dir: String): DataFrame = {
    val planted = tbl(spark, dir, "documents").withColumn("text",
      concat(col("text"), when(col("source") === "src3",
        lit(" casino jackpot lotto winner bonus spins")).otherwise(lit(""))))
    TextAnalysis.shardDrift(planted, jsThreshold = 0.01)
      .orderBy(col("shard"))
  }

  /** Whole-row content keys of the storage gates, fingerprinted through
    * [[graft.operators.Sinks.contentFingerprint]] and replayed verbatim
    * by their oracle SQL: lineitem's four key columns (its
    * (l_orderkey, l_linenumber) pairs repeat in the test data) and the
    * (doc_id, lang, n_chars) documents slice the CDC gates mutate.
    */
  private val LineitemRowKey = "concat_ws(':', cast(l_orderkey as string), " +
    "cast(l_linenumber as string), cast(l_partkey as string), " +
    "cast(l_suppkey as string))"
  private val DocRowKey =
    "concat_ws(':', cast(doc_id as string), lang, cast(n_chars as string))"

  /** S13: z-order layout decision as oracle-checkable bucket stats —
    * lineitem z-keyed on (l_orderkey, l_partkey) over the measured key
    * ranges (one metadata-scale min/max agg at construction), bucketed by
    * the top 6 z-bits. Each bucket's min/max per dimension IS the parquet
    * footer a z-ordered file would carry; the output shows both
    * dimensions bounded near span/√64 instead of one at span/64 and the
    * other at full span — the multi-column data-skipping trade, readable
    * off a hash-checked table. FULL oracle (pure integer arithmetic).
    */
  private def s13ZorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    graft.operators.ZOrder.zBucketStats(li, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi)
      .orderBy(col("bucket"))
  }

  /** S13b: THREE-column z-order bucket stats (order/part/supplier) — the
    * 3-predicate layout lever: every filtered dimension's per-bucket
    * span tightens to ~1/∛buckets. Pure integer math end to end, full
    * oracle (the interleave sum is generated, not hand-spelled).
    */
  private def s13bZorder3Stats(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val r = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    graft.operators.ZOrder.zBucketStats3(li,
        "l_orderkey", "l_partkey", "l_suppkey",
        r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      .orderBy(col("bucket"))
  }

  /** S13c: Hilbert-curve bucket stats — the locality-optimal layout key
    * next to Morton (no quadrant jumps; what liquid clustering rides).
    * Pure integer column math, full oracle via 16 generated rotation-step
    * CTEs.
    */
  private def s13cHilbertStats(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    graft.operators.ZOrder.hilbertBucketStats(li, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi)
      .orderBy(col("bucket"))
  }

  /** DQ1: ingestion expectations — the dbt-test/Deequ rulebook as one
    * report: four row rules FUSED into a single aggregate pass over
    * lineitem, a referential check against orders (one anti-join), and
    * a key-uniqueness check (one hash agg) that FAILS loudly on this
    * corpus (the known duplicate (l_orderkey, l_linenumber) pairs —
    * TESTDATA.md) — the report proves violations are counted, not just
    * that green rules stay green. FULL oracle.
    */
  private def dq1Expectations(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val rowRules = TableQuality.expectations(li, Seq(
      TableQuality.Rule("li_quantity_range",
        col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0),
      TableQuality.Rule("li_price_positive", col("l_extendedprice") > 0.0),
      TableQuality.Rule("li_discount_range",
        col("l_discount") >= 0.0 && col("l_discount") <= 1.0),
      TableQuality.Rule("li_shipdate_not_null", col("l_shipdate").isNotNull)))
    val ref = TableQuality.referential(li, "l_orderkey",
      tbl(spark, dir, "orders"), "o_orderkey", "li_orderkey_ref")
    val uniq = TableQuality.unique(li, Seq("l_orderkey", "l_linenumber"),
      "li_unique_line")
    rowRules.unionByName(ref).unionByName(uniq).orderBy(col("rule"))
  }

  /** DQ2: quarantine routing — the dead-letter half of dq1: every
    * violating row tagged with WHY (comma-joined failed rule names), the
    * clean/quarantined split summarized per tag plus a completeness row
    * proving the two sides partition the table. Rules chosen so both
    * fire on this corpus (quantity ≤ 25 splits it; discount > 0.05
    * overlaps), exercising multi-rule tags. FULL oracle.
    */
  private def dq2Quarantine(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val rules = Seq(
      TableQuality.Rule("q25", col("l_quantity") <= 25.0),
      TableQuality.Rule("disc5", col("l_discount") <= 0.05))
    val (clean, bad) = TableQuality.quarantine(li, rules)
    val perTag = bad.groupBy(col("failed_rules"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
    val total = clean.agg(count(lit(1))).head().getLong(0) +
      bad.agg(count(lit(1))).head().getLong(0)
    import spark.implicits._
    perTag.unionByName(
        Seq(("__partition_total", total, -1L, -1L))
          .toDF("failed_rules", "n_rows", "min_key", "max_key"))
      .orderBy(col("failed_rules"))
  }

  /** STREAM-DQ: quarantine routing on the document STREAM — the dq2
    * production shape: the rulebook tags every micro-batch as a
    * STATELESS projection (no state store, no watermark — the
    * stream_classify pattern) and the quarantined rows land under
    * batch_id partitions with replay-idempotent overwrite. Sink rows are
    * held VERBATIM to the batch rulebook's SQL replay: streaming a
    * corpus through the rules must quarantine exactly the rows a batch
    * pass does. FULL oracle.
    */
  private def streamDq(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      TableQuality.Rule("len200", col("n_chars") >= 200L),
      TableQuality.Rule("west", col("lang").isin("en", "de", "es", "fr")))
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    withScratch("graft_sdq_") { root =>
      val out = s"$root/out"
      drain(docs, s"$root/ckpt") { (batch, batchId) =>
        val (_, bad) = TableQuality.quarantine(batch, rules)
        bad.select(col("doc_id"), col("failed_rules"))
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      graft.operators.Materialize(
        spark.read.option("basePath", out).parquet(out)
          .select(col("doc_id").cast("long"), col("failed_rules")))
        .orderBy(col("doc_id"))
    }
  }

  /** STREAM-STATS: incremental ANALYZE on the document STREAM — the s16c
    * maintenance discipline in its streaming form: each micro-batch
    * sketches ONLY its own rows ([[graft.operators.TableQuality
    * .columnSketches]], one mergeable row per batch) into a batch_id
    * partition (replay-idempotent overwrite — the stream_dq sink shape),
    * and the report is [[graft.operators.TableQuality.mergeSketches]]
    * over the accumulated metadata-scale rows. Held VERBATIM to the
    * batch tableStats over the whole corpus on the mergeable fields
    * (FULL oracle — streaming the corpus through the sketcher must
    * produce exactly the from-scratch ANALYZE, any batching), with the
    * union-sketch NDV gated against the exact twin. At 100 TB this is
    * how a continuously-ingesting table keeps ANALYZE current without
    * ever rescanning: per-batch sketch cost, metadata-scale refresh.
    */
  private def streamStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("n_chars", "lang")
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    withScratch("graft_sst_") { root =>
      val out = s"$root/out"
      drain(docs, s"$root/ckpt") { (batch, batchId) =>
        TableQuality.columnSketches(batch, cols)
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      val parts = spark.read.option("basePath", out)
        .parquet(out).drop("batch_id")
      val exact = TableQuality
        .tableStats(tbl(spark, dir, "documents"), cols)
        .select(col("column_name"), col("ndv").as("__e_ndv"))
      val report = TableQuality.mergeSketches(parts, cols)
        .join(exact, Seq("column_name"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("min_value"), col("max_value"),
          (abs(col("ndv") - col("__e_ndv")) <=
            lit(0.06) * col("__e_ndv")).cast("int").as("ndv_ok"))
        .orderBy(col("column_name"))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(report, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("column_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_nulls",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("min_value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("max_value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ndv_ok",
            org.apache.spark.sql.types.IntegerType))))
        .orderBy(col("column_name"))
    }
  }

  /** STREAM_SNAPSHOT_INGEST: the streaming write path INTO the
    * versioned lakehouse ([[graft.streaming.SnapshotIngest]]) — every
    * micro-batch lands as one atomic snapshot version (previous files
    * hard-linked forward + the batch's new files), per-file stats ride
    * the same commit (sketched over the new files only, the s16c
    * mergeable algebra), and a one-row `meta` table carrying the batch
    * id makes replays exactly-once TRANSACTIONALLY: the dedup marker
    * and the data share one commit, so no crash window can double- or
    * half-ingest a batch.
    *
    * Documents are staged as a 4-file feed and streamed one file per
    * micro-batch (AvailableNow). Gates: the final version is ALL of
    * documents (count + whole-row fingerprint — the DuckDB anchor); 4
    * versions committed (multi_batch); replaying the last committed
    * batch id is a no-op that leaves the pointer untouched
    * (exactly_once_replay); a reader pinned at the FIRST version still
    * validates and holds strictly fewer rows (pinned_isolated); and the
    * merged stats over the final version's incrementally-built stats
    * table equal a from-scratch ANALYZE (stats_current).
    */
  private def streamSnapshotIngest(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val statCols = Seq("doc_id", "n_chars")
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    withScratch("graft_ssi_") { root =>
      val feed = s"$root/feed"
      docs.repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(feed)
      val schema = spark.read.parquet(feed).schema
      val stream = graft.streaming.CorpusStreams
        .readDocStream(spark, feed, schema, maxFilesPerTrigger = 1,
          "*.parquet")
      val snapRoot = s"$root/snap"
      val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      drain(stream, s"$root/ckpt") { (b, id) =>
        graft.streaming.SnapshotIngest
          .commitBatch(b, id, snapRoot, s"$root/scratch",
            keyCol = "doc_id", statCols = statCols)
          .foreach(v => committed.add(v))
      }
      val versions = committed.size
      val cur = Sinks.currentVersion(snapRoot).getOrElse(
        sys.error("stream committed no snapshot version"))
      val snap = Sinks.readSnapshot(spark, snapRoot, Some(cur))
      val (n, x) = Sinks.contentFingerprint(snap("data"), DocRowKey)
      // exactly-once: replay the LAST committed batch id — no new
      // version, pointer untouched
      val lastId = snap("meta").agg(max(col("batch_id"))).head().getLong(0)
      val replayNoop = graft.streaming.SnapshotIngest
        .commitBatch(docs.limit(3), lastId, snapRoot, s"$root/scratch2",
          keyCol = "doc_id", statCols = statCols).isEmpty &&
        Sinks.currentVersion(snapRoot).contains(cur)
      // pinned first version: validates, strictly fewer rows
      val v0 = cur - (versions - 1)
      val (n0, _) = Sinks.contentFingerprint(
        Sinks.readSnapshot(spark, snapRoot, Some(v0))("data"), DocRowKey)
      val pinnedOk = n0 > 0 && n0 < n
      // incrementally-built stats ≡ from-scratch ANALYZE of the final data
      val statsOk = TableQuality.statsCurrent(snap("file_stats"), snap("data"),
        statCols)
      Seq((n, x,
        if (versions == 4) 1 else 0,
        if (replayNoop) 1 else 0,
        if (pinnedOk) 1 else 0,
        if (statsOk) 1 else 0))
        .toDF("n_rows", "row_xor", "multi_batch", "exactly_once_replay",
          "pinned_isolated", "stats_current")
    }
  }

  /** S16: per-column table statistics in one aggregate pass — the
    * ANALYZE primitive (null count, exact NDV, min/max) a cost-based
    * optimizer sizes joins with. String-rendered min/max so
    * heterogeneous columns share a schema; FULL oracle.
    */
  private def s16TableStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TableQuality.tableStats(tbl(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_shipdate"))

  /** S16b GATE: the HLL-NDV form holds |approx − exact| ≤ 3·rsd·exact on
    * every column while sharing the exact form's nulls/min/max verbatim
    * — the corpus-scale ANALYZE path (one map-side-combinable pass, no
    * Expand) certified against the oracle-anchored exact twin.
    */
  private def s16bTableStatsApprox(spark: SparkSession, dir: String)
      : DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
      "l_shipdate")
    val li = tbl(spark, dir, "lineitem")
    val exact = TableQuality.tableStats(li, cols)
      .select(col("column_name"), col("n_nulls").as("e_nulls"),
        col("ndv").as("e_ndv"), col("min_value").as("e_min"),
        col("max_value").as("e_max"))
    TableQuality.tableStatsApprox(li, cols, rsd = 0.02)
      .join(exact, Seq("column_name"))
      .select(col("column_name"),
        (col("n_nulls") === col("e_nulls")).cast("int").as("nulls_ok"),
        (abs(col("ndv") - col("e_ndv")) <=
          lit(3 * 0.02) * col("e_ndv")).cast("int").as("ndv_ok"),
        (col("min_value") === col("e_min") &&
          col("max_value") === col("e_max")).cast("int").as("minmax_ok"))
      .orderBy(col("column_name"))
  }

  /** S16c: INCREMENTAL ANALYZE — the maintenance form of s16: the table
    * is statted as per-partition mergeable sketch rows
    * ([[graft.operators.TableQuality.partitionStats]]: count, nulls,
    * typed min/max, HLL sketch — ONE scan builds every partition's row),
    * then the report comes from MERGING the rows
    * ([[graft.operators.TableQuality.mergeSketches]] — metadata-scale,
    * no data rescan). The oracle holds the merged count/nulls/min/max to
    * a DuckDB from-scratch recompute (merge ≡ recompute, exact), and
    * `ndv_ok` bounds the union-sketch NDV against the exact twin (the
    * s16b discipline). At 100 TB this is the difference between a stats
    * refresh that scans only the appended partitions and one that
    * rescans the table (183 s exact / 3.9 s approx at the 60M-row
    * decade — per refresh): the snapshot-integrated append flow is
    * spec-pinned (OperatorsSpec s16c), this entry pins the algebra.
    */
  private def s16cStatsIncremental(spark: SparkSession, dir: String)
      : DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
      "l_shipdate")
    val li = tbl(spark, dir, "lineitem")
    val parts = TableQuality.partitionStats(
      li.withColumn("__part", pmod(col("l_orderkey"), lit(3L))),
      "__part", cols)
    val exact = TableQuality.tableStats(li, cols)
      .select(col("column_name"), col("ndv").as("__e_ndv"))
    TableQuality.mergeSketches(parts, cols)
      .join(exact, Seq("column_name"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("min_value"), col("max_value"),
        (abs(col("ndv") - col("__e_ndv")) <=
          lit(0.06) * col("__e_ndv")).cast("int").as("ndv_ok"))
      .orderBy(col("column_name"))
  }

  /** DQ3: schema-drift contract over the lineitem drop — the ingest gate
    * that fires BEFORE any row rule: the registered contract deliberately
    * drifts on all three axes against the real schema (l_commitdate
    * expected but absent → missing; l_tax present but uncontracted →
    * extra; l_quantity contracted decimal(12,2) vs observed double →
    * retyped), so the report proves violations are counted per axis, not
    * just that a matching contract passes. Pure metadata — no scan;
    * FULL (literal) oracle.
    */
  private def dq3SchemaDrift(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TableQuality.schemaContract(tbl(spark, dir, "lineitem"),
      Seq(
        "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "decimal(12,2)", // observed double -> retyped
        "l_extendedprice" -> "double", "l_discount" -> "double",
        // l_tax deliberately NOT contracted -> counts as an extra column
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        // pyarrow writes non-UTC-adjusted timestamps; Spark 4 infers NTZ
        "l_shipdate" -> "timestamp_ntz",
        "l_commitdate" -> "timestamp_ntz")) // absent from the drop -> missing

  /** S13d: MEASURED data-skipping gate for the layout family — the read
    * side of s13/s13c (their bucket stats prove the write produces tight
    * footer ranges; this proves a range scan actually READS FEWER FILES
    * because of them). The same lineitem rows are written twice —
    * Hilbert-clustered on (l_orderkey, l_partkey) and round-robin
    * unclustered, 16 files each — and one identical two-key range
    * predicate (the middle quarter of each key's span, pure long
    * arithmetic so the oracle replays it) is planned against both
    * layouts' PER-FILE min/max ranges: a file is "read" iff its footer
    * box intersects the predicate box — exactly the min/max pruning rule
    * a parquet planner applies, recomputed from the real files rather
    * than trusted from a metric. Gates: the clustered scan's row count +
    * key fingerprint match the logical table (DuckDB oracle anchors
    * them), both layouts return identical rows, and the clustered layout
    * reads strictly fewer files — at most HALF (the quarter-span box
    * covers 1/16 of the key plane, so a locality-preserving curve
    * confines it to ~1-3 of 16 files while every round-robin file spans
    * the whole plane). The keys are independent in this corpus, so the
    * diagonal degeneration the decade replicas show (SCALEPROBE_r12)
    * does not mask the measurement; the decorrelated decade probe
    * re-measures it at 60M rows.
    */
  private def s13dLayoutSkipping(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    val (a1, a2) = (aLo + (aHi - aLo) / 4, aLo + (aHi - aLo) / 2)
    val (b1, b2) = (bLo + (bHi - bLo) / 4, bLo + (bHi - bLo) / 2)
    withScratch("graft_s13d_") { root =>
      graft.operators.ZOrder.writeHilbert(li, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi, s"$root/clustered", numFiles = 16)
      li.repartition(16).write.mode("overwrite").parquet(s"$root/plain")
      val clustered = spark.read.parquet(s"$root/clustered")
      val plain = spark.read.parquet(s"$root/plain")
      // files a min/max-pruning scan must read = files whose footer box
      // intersects the predicate box (recomputed from the files)
      val box = (a1, a2, b1, b2)
      val fClustered = FileSkipping.footerBoxFiles(clustered, "l_orderkey",
        "l_partkey", box)
      val fPlain = FileSkipping.footerBoxFiles(plain, "l_orderkey",
        "l_partkey", box)
      val pred = col("l_orderkey").between(a1, a2) &&
        col("l_partkey").between(b1, b2)
      val (nC, xC) = Sinks.contentFingerprint(clustered.filter(pred),
        LineitemRowKey)
      val (nP, xP) = Sinks.contentFingerprint(plain.filter(pred),
        LineitemRowKey)
      Seq((nC, xC,
        if (nC == nP && xC == xP) 1 else 0,
        if (fClustered < fPlain) 1 else 0,
        if (fClustered * 2 <= fPlain) 1 else 0))
        .toDF("n_rows", "key_xor", "rows_identical",
          "clustered_reads_fewer", "clustered_le_half")
    }
  }

  /** S13e: stats-table-driven PRUNED SCAN — the manifest-based skipping
    * read (what Delta/Iceberg do with log-level file stats): the same
    * Hilbert-clustered write as s13d, but the planner decides from a
    * per-file STATS TABLE ([[graft.operators.FileSkipping.fileStats]],
    * one scan builds it; at 100 TB it is maintained incrementally like
    * s16c, never rebuilt) and the reader OPENS only the chosen files —
    * a footer-pruning scan still opens every file for its footer, and on
    * an object store those round-trips dominate a selective scan. Gates:
    * the pruned scan's rows are IDENTICAL to the full scan's under the
    * same predicate (count + key fingerprint, both DuckDB-anchored),
    * strictly fewer files are opened, and the stats decision equals the
    * footer-box intersection (stats-planned ≡ footer-planned, the s13d
    * rule) — so the stats table can stand in for footers exactly.
    */
  private def s13eStatsPrunedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    val (a1, a2) = (aLo + (aHi - aLo) / 4, aLo + (aHi - aLo) / 2)
    val (b1, b2) = (bLo + (bHi - bLo) / 4, bLo + (bHi - bLo) / 2)
    withScratch("graft_s13e_") { root =>
      graft.operators.ZOrder.writeHilbert(li, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi, s"$root/clustered", numFiles = 16)
      val table = spark.read.parquet(s"$root/clustered")
      val stats = graft.operators.Materialize(
        FileSkipping.fileStats(table, Seq("l_orderkey", "l_partkey")))
      val pred = col("l_orderkey").between(a1, a2) &&
        col("l_partkey").between(b1, b2)
      val pruned = FileSkipping.prunedParquet(spark, stats,
        Seq(("l_orderkey", a1, a2), ("l_partkey", b1, b2)), table.schema)
      val (nP, xP) = Sinks.contentFingerprint(pruned.filter(pred),
        LineitemRowKey)
      val (nF, xF) = Sinks.contentFingerprint(table.filter(pred),
        LineitemRowKey)
      val opened = pruned.inputFiles.length.toLong
      val total = table.inputFiles.length.toLong
      // the footer-planner's decision, recomputed INDEPENDENTLY of the
      // stats table — a fresh per-file min/max scan (the s13d rule), so
      // a stats-maintenance bug (stale/truncated rows) fails this gate
      // rather than silently agreeing with itself
      val footerChosen = FileSkipping.footerBoxFiles(table, "l_orderkey",
        "l_partkey", (a1, a2, b1, b2))
      Seq((nP, xP,
        if (nP == nF && xP == xF) 1 else 0,
        if (opened < total) 1 else 0,
        if (opened == footerChosen) 1 else 0))
        .toDF("n_rows", "key_xor", "rows_identical", "opened_fewer",
          "stats_match_footers")
    }
  }

  /** S13f: incremental RE-CLUSTER (OPTIMIZE) — the layout maintenance
    * loop closed: a Hilbert-clustered base takes an UNSORTED append
    * (round-robin files spanning the whole key plane — every streaming /
    * per-batch ingest looks like this), the degradation is DETECTED from
    * the per-file stats table (a file whose min/max box covers > 1/4 of
    * the key plane is unclustered — clustered tiles cover ~1/files), and
    * the maintenance pass re-clusters ONLY the detected files, leaving
    * base bytes untouched (the Delta OPTIMIZE ZORDER shape: incremental,
    * not a table rewrite). Gates: (a) the optimized table is
    * row-identical to the logical table (count + key fingerprint,
    * DuckDB-anchored); (b) the stats detection found EXACTLY the
    * appended files — no base tile false-positives, no missed append;
    * (c) the quarter-box footer-intersection count strictly DROPS from
    * the degraded table to the optimized one (skipping restored,
    * measured by the s13d rule).
    */
  private def s13fOptimizeRecluster(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    def pathOf(u: String): String = new java.net.URI(u).getPath
    val li = tbl(spark, dir, "lineitem")
    val range = FileSkipping.keyRange(li, "l_orderkey", "l_partkey")
    val (aLo, aHi, bLo, bHi) = range
    val (a1, a2) = (aLo + (aHi - aLo) / 4, aLo + (aHi - aLo) / 2)
    val (b1, b2) = (bLo + (bHi - bLo) / 4, bLo + (bHi - bLo) / 2)
    withScratch("graft_s13f_") { root =>
      val base = li.filter(pmod(col("l_orderkey"), lit(4L)) =!= 0L)
      val appendRows = li.filter(pmod(col("l_orderkey"), lit(4L)) === 0L)
      graft.operators.ZOrder.writeHilbert(base, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi, s"$root/table", numFiles = 12)
      val baseFiles = spark.read.parquet(s"$root/table")
        .inputFiles.map(pathOf).toSet
      appendRows.repartition(4).write.mode("append").parquet(s"$root/table")
      val degraded = spark.read.parquet(s"$root/table")
      val appendFiles = degraded.inputFiles.map(pathOf).toSet -- baseFiles
      // detect from the STATS TABLE (one scan — the s16c maintenance
      // unit), never a listing: wide-box files are the unclustered ones.
      // The cutoff is file-count-adaptive (min(0.5, 6×median coverage) —
      // r13 advice: the old fixed 0.25 false-positives a legit Hilbert
      // tile whose segment box blows up ~4× at numFiles ≤ 16)
      val stats = graft.operators.Materialize(
        FileSkipping.fileStats(degraded, Seq("l_orderkey", "l_partkey")))
      // OPTIMIZE: re-cluster ONLY the detected files; base bytes untouched
      val detected = FileSkipping.reclusterDegraded(spark, stats,
        degraded.inputFiles.map(pathOf).toSeq, degraded.schema,
        "l_orderkey", "l_partkey", range, s"$root/opt", numFiles = 4).toSet
      val optimized = spark.read.schema(degraded.schema)
        .parquet(((baseFiles -- detected).toSeq.sorted :+ s"$root/opt"): _*)
      val (nO, xO) = Sinks.contentFingerprint(optimized, LineitemRowKey)
      val box = (a1, a2, b1, b2)
      val hitsDegraded = FileSkipping.footerBoxFiles(degraded, "l_orderkey",
        "l_partkey", box)
      val hitsOptimized = FileSkipping.footerBoxFiles(optimized, "l_orderkey",
        "l_partkey", box)
      Seq((nO, xO,
        if (detected == appendFiles) 1 else 0,
        if (hitsOptimized < hitsDegraded) 1 else 0))
        .toDF("n_rows", "key_xor", "detected_only_appends",
          "skipping_restored")
    }
  }

  /** S18: snapshot-committed PRUNED READ — the full lakehouse loop in
    * one gate: a Hilbert-clustered table and the per-file stats PINNED
    * TO THOSE EXACT FILES are committed ATOMICALLY at one version
    * ([[graft.operators.Sinks.publishSnapshotStaged]] — the physical
    * layout survives because the commit moves the staged dir instead of
    * rewriting it), and a reader at that version plans its scan from the
    * COMMITTED stats table (validated by the snapshot manifest before
    * the planner trusts it — a tampered stats table fails the read, it
    * cannot silently mis-prune) and opens only the chosen files. No
    * data-file footer is read at plan time: this is the Delta/Iceberg
    * read path end to end — write once, stat once, commit once, prune
    * from metadata forever. Gates: pruned result row-identical to the
    * logical predicate result (count + fingerprint, DuckDB-anchored),
    * strictly fewer files opened, committed-stats decision equals an
    * independent footer recompute over the committed files, and the
    * commit landed at version 0 (fresh root).
    */
  private def s18SnapshotPrunedRead(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    val (a1, a2) = (aLo + (aHi - aLo) / 4, aLo + (aHi - aLo) / 2)
    val (b1, b2) = (bLo + (bHi - bLo) / 4, bLo + (bHi - bLo) / 2)
    withScratch("graft_s18_") { root =>
      graft.operators.ZOrder.writeHilbert(li, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi, s"$root/stage_data", numFiles = 16)
      // per-file stats keyed by FILENAME (stable across the commit move;
      // the committed dir path is only known after the commit)
      val staged = spark.read.parquet(s"$root/stage_data")
      FileSkipping.fileStats(staged, Seq("l_orderkey", "l_partkey"))
        .withColumn("__file", Sinks.fileNameCol)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/stage_stats")
      val snapRoot = s"$root/snap"
      val v = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage_data", "l_orderkey")),
        "file_stats" -> ((s"$root/stage_stats", "__file"))), snapRoot, spark)
      // version-pinned read: manifest-validated stats drive the pruning
      val snap = Sinks.readSnapshot(spark, snapRoot, Some(v))
      val dataDir = new java.net.URI(snap("data").inputFiles.head).getPath
        .replaceAll("/[^/]+$", "")
      val stats = snap("file_stats")
        .withColumn("__file", concat(lit(s"$dataDir/"), col("__file")))
      val pruned = FileSkipping.prunedParquet(spark, stats,
        Seq(("l_orderkey", a1, a2), ("l_partkey", b1, b2)),
        snap("data").schema)
      val pred = col("l_orderkey").between(a1, a2) &&
        col("l_partkey").between(b1, b2)
      val (nP, xP) = Sinks.contentFingerprint(pruned.filter(pred),
        LineitemRowKey)
      val (nF, xF) = Sinks.contentFingerprint(snap("data").filter(pred),
        LineitemRowKey)
      val opened = pruned.inputFiles.length.toLong
      val total = snap("data").inputFiles.length.toLong
      val footerChosen = FileSkipping.footerBoxFiles(snap("data"),
        "l_orderkey", "l_partkey", (a1, a2, b1, b2))
      Seq((nP, xP, v,
        if (nP == nF && xP == xF) 1 else 0,
        if (opened < total) 1 else 0,
        if (opened == footerChosen) 1 else 0))
        .toDF("n_rows", "key_xor", "version", "rows_identical",
          "opened_fewer", "stats_match_footers")
    }
  }

  /** S13h: BLOOM-FILTER file skipping — equality pruning where min/max
    * provably cannot help: documents land ROUND-ROBIN (every file spans
    * the whole key domain, so the s13g lexicographic bracket keeps all
    * files — asserted as a gate), with a per-file Bloom bitmap over a
    * unique string key ([[graft.operators.FileSkipping.bloomFileStats]],
    * one grouped scan, 1024 bits / 2 md5-keyed probes — the hash family
    * is the repo's engine-portable md5-prefix-long, so the bitmap itself
    * is oracle-replayable if ever needed). A point lookup prunes via
    * [[graft.operators.FileSkipping.BloomEq]]: no false negatives by
    * construction (the target row is found — oracled count +
    * fingerprint), false positives only cost extra opened files, gated
    * to ≤ a quarter of the table at this fill factor. This is the sound
    * membership upgrade the s13g scaladoc names (an HLL sketch answers
    * cardinality, not membership).
    */
  private def s13hBloomPruning(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.operators.FileSkipping.{BloomEq, StringIn}
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("tag", concat(lit("u"), col("doc_id").cast("string")))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    val target = s"u${m / 2}"
    withScratch("graft_s13h_") { root =>
      docs.repartition(32).write.mode("overwrite").parquet(s"$root/t")
      val table = spark.read.parquet(s"$root/t")
      // min/max rows and bloom words, one stats table keyed by __file
      val stats = graft.operators.Materialize(
        FileSkipping.fileStats(table, Seq("tag"))
          .join(FileSkipping.bloomFileStats(table, "tag"), Seq("__file")))
      val total = stats.count()
      // the s13g bracket rule is USELESS here: round-robin files all
      // span the whole domain, so string-IN keeps every file
      val minmaxChosen = FileSkipping.chosenFiles(stats,
        Seq(StringIn("tag", Seq(target)))).count()
      val pruned = FileSkipping.prunedParquetTyped(spark, stats,
        Seq(BloomEq("tag", Seq(target))), table.schema)
      val opened = pruned.inputFiles.length.toLong
      val hit = Sinks.contentFingerprint(pruned.filter(col("tag") === target),
        "doc_id")
      val full = Sinks.contentFingerprint(table.filter(col("tag") === target),
        "doc_id")
      Seq((hit._1, hit._2,
        if (hit == full) 1 else 0,
        if (opened < total) 1 else 0,
        if (opened * 4 <= total) 1 else 0,
        if (minmaxChosen == total) 1 else 0))
        .toDF("n_rows", "key_xor", "rows_identical", "opened_fewer",
          "opened_le_quarter", "minmax_keeps_all")
    }
  }

  /** S19: MAINTENANCE UNDER VERSIONING — the production OPTIMIZE loop
    * the r13 verdict called the highest-leverage gap: every maintenance
    * step is a SNAPSHOT COMMIT, never a raw-directory rewrite (s13f/s17
    * proved the mechanics against raw dirs; this runs them through
    * [[graft.operators.Sinks.publishSnapshotStaged]] so readers are
    * versioned the whole way).
    *
    *   v0  Hilbert-clustered base + its per-file stats, one atomic
    *       commit (the s18 shape).
    *   v1  an UNSORTED APPEND committed as a new version: the base
    *       files are HARD-LINKED into the staged dir (an append commit
    *       references old bytes, it never rewrites them — the
    *       local-FS analog of a lakehouse log entry), four round-robin
    *       files land next to them, and the stats table is v0's rows
    *       UNIONED with sketch rows computed over ONLY the new files
    *       (the s16c discipline: new bytes sketch once, old rows carry).
    *   v2  OPTIMIZE as a commit
    *       ([[graft.operators.Sinks.optimizeSnapshotVersion]], the
    *       `graft snapshot --optimize` path): degradation is detected
    *       from v1's COMMITTED stats (file-count-adaptive cutoff), only
    *       the detected files are re-clustered, untouched files
    *       hard-link forward, and the stats rows for rewritten files are
    *       REPLACED (fresh sketches over the new files only) while
    *       untouched rows carry.
    *
    * Gates: (a) v2 is row-identical to v1 — count + 4-column key
    * fingerprint, and v1 is the whole logical lineitem, so the DuckDB
    * oracle anchors both; (b) the v2 stats table's filenames are exactly
    * v2's data filenames (rewritten files' rows replaced, none stale)
    * and [[graft.operators.TableQuality.mergeSketches]] over it equals a
    * from-scratch ANALYZE of v2 (exact fields verbatim, HLL ndv within
    * 10%); (c) a reader pinned at v1 AFTER the maintenance commit sees
    * v1 exactly (same rows, same file set — time-travel isolation);
    * (d) a publisher racing the maintenance commit at the same version
    * loses LOUDLY at the create-exclusive commit arbiter and the
    * pointer still serves the winner; (e) the quarter-box footer-hit
    * count strictly drops v1 → v2 (skipping restored, the s13d rule).
    */
  private def s19OptimizeVersioned(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val li = tbl(spark, dir, "lineitem")
    val (aLo, aHi, bLo, bHi) = FileSkipping.keyRange(li, "l_orderkey",
      "l_partkey")
    val (a1, a2) = (aLo + (aHi - aLo) / 4, aLo + (aHi - aLo) / 2)
    val (b1, b2) = (bLo + (bHi - bLo) / 4, bLo + (bHi - bLo) / 2)
    val statCols = Seq("l_orderkey", "l_partkey")
    def pathOf(u: String): String = new java.net.URI(u).getPath
    def nameOf(u: String): String = pathOf(u).replaceAll(".*/", "")
    withScratch("graft_s19_") { root =>
      val snapRoot = s"$root/snap"
      // per-file mergeable stats rows keyed by FILENAME (stable across
      // the commit moves), computed over exactly the given files
      def statsFor(paths: Seq[String]): DataFrame =
        FileSkipping.fileStats(
          spark.read.schema(li.schema).parquet(paths.sorted: _*), statCols)
          .withColumn("__file", Sinks.fileNameCol)
      def footerHits(df: DataFrame): Long = FileSkipping.footerBoxFiles(df,
        "l_orderkey", "l_partkey", (a1, a2, b1, b2))
      // ---- v0: clustered base + pinned stats, one atomic commit
      val base = li.filter(pmod(col("l_orderkey"), lit(4L)) =!= 0L)
      val appendRows = li.filter(pmod(col("l_orderkey"), lit(4L)) === 0L)
      graft.operators.ZOrder.writeHilbert(base, "l_orderkey", "l_partkey",
        aLo, aHi, bLo, bHi, s"$root/stage0_data", numFiles = 12)
      statsFor(spark.read.parquet(s"$root/stage0_data")
          .inputFiles.map(pathOf).toSeq)
        .coalesce(1).write.parquet(s"$root/stage0_stats")
      val v0 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage0_data", "l_orderkey")),
        "file_stats" -> ((s"$root/stage0_stats", "__file"))), snapRoot, spark)
      // ---- v1: append COMMITTED — old files link forward, new files
      // sketch once, stats rows union
      val snap0 = Sinks.readSnapshot(spark, snapRoot, Some(v0))
      val v0paths = snap0("data").inputFiles.map(pathOf).toSeq
      Sinks.linkForward(java.nio.file.Paths.get(s"$root/stage1_data"),
        v0paths)
      appendRows.repartition(4).write.mode("append")
        .parquet(s"$root/stage1_data")
      val v0names = v0paths.map(_.replaceAll(".*/", "")).toSet
      val newPaths1 = spark.read.parquet(s"$root/stage1_data")
        .inputFiles.map(pathOf).filterNot(p => v0names(nameOf(p))).toSeq
      snap0("file_stats").unionByName(statsFor(newPaths1))
        .coalesce(1).write.parquet(s"$root/stage1_stats")
      val v1 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage1_data", "l_orderkey")),
        "file_stats" -> ((s"$root/stage1_stats", "__file"))), snapRoot, spark)
      val snap1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))
      val (n1, x1) = Sinks.contentFingerprint(snap1("data"), LineitemRowKey)
      val v1names = snap1("data").inputFiles.map(nameOf).toSet
      val hitsV1 = footerHits(snap1("data"))
      // ---- OPTIMIZE -> v2: decide from v1's COMMITTED stats, rewrite
      // only the detected files, replace only their stats rows
      val (v2, _, _) = Sinks.optimizeSnapshotVersion(spark, snapRoot,
          "l_orderkey", "l_partkey", numFiles = 4)
        .getOrElse(sys.error(s"s19: no degraded file detected at v$v1"))
      // ---- race: a publisher that computed version v2 concurrently
      // must lose LOUDLY at the create-exclusive commit link (the
      // OperatorsSpec race replay), leaving the winner's pointer intact
      val rootP = java.nio.file.Paths.get(snapRoot)
      val cTmp = rootP.resolve(s"_commits/$v2.json.tmp-loser")
      java.nio.file.Files.write(cTmp,
        s"""{"version":$v2,"tables":{}}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val raceLoud =
        try {
          try {
            java.nio.file.Files.createLink(
              rootP.resolve(s"_commits/$v2.json"), cTmp)
            false
          } finally java.nio.file.Files.deleteIfExists(cTmp)
        } catch { case _: java.nio.file.FileAlreadyExistsException => true }
      // ---- gates
      val snap2 = Sinks.readSnapshot(spark, snapRoot, Some(v2))
      val (n2, x2) = Sinks.contentFingerprint(snap2("data"), LineitemRowKey)
      val v2names = snap2("data").inputFiles.map(nameOf).toSet
      val stats2names = snap2("file_stats")
        .select(col("__file").cast("string")).collect()
        .map(_.getString(0)).toSet
      val mergeOk = TableQuality.statsCurrent(snap2("file_stats"),
        snap2("data"), statCols)
      // pinned v1 read AFTER the v2 commit: exact rows AND exact files
      val snap1again = Sinks.readSnapshot(spark, snapRoot, Some(v1))
      val (n1b, x1b) = Sinks.contentFingerprint(snap1again("data"),
        LineitemRowKey)
      val pinnedOk = n1b == n1 && x1b == x1 &&
        snap1again("data").inputFiles.map(nameOf).toSet == v1names
      val hitsV2 = footerHits(snap2("data"))
      Seq((n2, x2, v0, v1, v2,
        if (n2 == n1 && x2 == x1) 1 else 0,
        if (stats2names == v2names) 1 else 0,
        if (mergeOk) 1 else 0,
        if (pinnedOk) 1 else 0,
        if (raceLoud && Sinks.currentVersion(snapRoot).contains(v2)) 1 else 0,
        if (hitsV2 < hitsV1) 1 else 0))
        .toDF("n_rows", "key_xor", "v0", "v1", "v2", "rows_identical",
          "stats_files_match", "merge_matches_recompute",
          "pinned_v1_isolated", "race_loser_loud", "skipping_restored")
    }
  }

  /** S20: CDC-APPLY UNDER VERSIONED STATS — row-level mutation flowing
    * into the snapshot/stats loop (r13 missing #3: s15's changelog apply
    * was oracled standalone; committed as a version it must also
    * re-sketch the touched files' stats rows, because a stale `__n`/NDV
    * silently mis-drives the s17/s19 maintenance decisions that consume
    * them — stale min/max would merely be pruning-safe).
    *
    * v0 commits documents range-clustered on doc_id with per-file stats.
    * A deterministic changelog hits ONLY the low-doc_id band (deletes
    * `doc_id%7=0`, updates `doc_id%7=3` — both `doc_id*4 ≤ max` — plus
    * 25 inserts past the max): the TOUCHED files are decided from v0's
    * COMMITTED stats (a broadcast range join of the changed keys against
    * the per-file min/max — metadata-scale, no data read), only those
    * files' rows pass through [[graft.operators.Sinks.applyChangelog]]
    * and rewrite, untouched files hard-link forward, and the stats table
    * carries untouched rows VERBATIM while the rewritten files' rows are
    * replaced by fresh sketches over the new bytes only.
    *
    * Output = the MERGED per-column stats report over v1's stats table
    * (the s16c shape — a FULL DuckDB oracle recomputes the post-CDC
    * table from scratch and its per-column stats), plus a whole-table
    * content fingerprint and four gate literals: merged ndv within 10%
    * of exact; v1 ≡ an independent whole-table changelog apply (count +
    * triple fingerprint); untouched stats rows BYTE-identical v0 → v1
    * (sketch bytes compared by md5); and the rewrite touched a strict
    * subset of files.
    */
  private def s20CdcVersionedStats(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    // n_chars normalized to long: the changelog widens it (+1000L), and a
    // corpus drop carrying int32 would otherwise make the rewritten
    // files' physical type diverge from the carried files'
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    val statCols = Seq("doc_id", "n_chars")
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    def pathOf(u: String): String = new java.net.URI(u).getPath
    def nameOf(u: String): String = pathOf(u).replaceAll(".*/", "")
    withScratch("graft_s20_") { root =>
      val snapRoot = s"$root/snap"
      def statsFor(paths: Seq[String]): DataFrame =
        FileSkipping.fileStats(
          spark.read.schema(docs.schema).parquet(paths.sorted: _*), statCols)
          .withColumn("__file", Sinks.fileNameCol)
      // ---- v0: clustered base + per-file stats, one commit
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/stage0_data")
      statsFor(spark.read.parquet(s"$root/stage0_data")
          .inputFiles.map(pathOf).toSeq)
        .coalesce(1).write.parquet(s"$root/stage0_stats")
      val v0 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage0_data", "doc_id")),
        "file_stats" -> ((s"$root/stage0_stats", "__file"))), snapRoot, spark)
      val snap0 = Sinks.readSnapshot(spark, snapRoot, Some(v0))
      // ---- the changelog: band-local deletes/updates + tail inserts
      val dels = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 0L && col("doc_id") * 4 <= m)
        .select(col("doc_id"), lit("delete").as("op"),
          col("lang"), col("n_chars"))
      val upds = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 3L && col("doc_id") * 4 <= m)
        .select(col("doc_id"), lit("update").as("op"),
          lit("xx").as("lang"), (col("n_chars") + 1000L).as("n_chars"))
      val ins = spark.range(1, 26)
        .select((lit(m) + col("id")).as("doc_id"), lit("insert").as("op"),
          lit("zz").as("lang"), (lit(m) + col("id")).as("n_chars"))
      val changes = dels.unionByName(upds).unionByName(ins)
        .withColumn("seq", lit(1L))
      // ---- touched files from the COMMITTED stats: one broadcast range
      // join of changed keys × per-file min/max — no data file opened
      val touchedNames = snap0("file_stats")
        .join(broadcast(changes.select(col("doc_id").as("__k")).distinct()),
          col("__k") >= col("__min_doc_id") &&
            col("__k") <= col("__max_doc_id"), "left_semi")
        .select(col("__file").cast("string")).collect()
        .map(_.getString(0)).toSet
      val v0paths = snap0("data").inputFiles.map(pathOf).toSeq
      val touchedPaths = v0paths.filter(p => touchedNames(nameOf(p)))
      val carryPaths = v0paths.filterNot(p => touchedNames(nameOf(p)))
      // ---- rewrite ONLY the touched files' rows through the changelog
      // (inserts beyond every file's range surface here too), then
      // commit data + replaced stats rows as version v1
      Sinks.applyChangelog(
          spark.read.schema(docs.schema).parquet(touchedPaths.sorted: _*),
          changes, "doc_id")
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/rw")
      val rwPaths = spark.read.parquet(s"$root/rw")
        .inputFiles.map(pathOf).toSeq
      Sinks.linkForward(java.nio.file.Paths.get(s"$root/stage1_data"),
        carryPaths ++ rwPaths)
      snap0("file_stats")
        .filter(!col("__file").isin(touchedNames.toSeq: _*))
        .unionByName(statsFor(rwPaths))
        .coalesce(1).write.parquet(s"$root/stage1_stats")
      val v1 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage1_data", "doc_id")),
        "file_stats" -> ((s"$root/stage1_stats", "__file"))), snapRoot, spark)
      // ---- gates
      val snap1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))
      // whole-row content fingerprint — the CDC result anchor
      val (nGot, xGot) = Sinks.contentFingerprint(snap1("data"), DocRowKey)
      val (nExp, xExp) = Sinks.contentFingerprint(
        Sinks.applyChangelog(snap0("data"), changes, "doc_id"), DocRowKey)
      // untouched stats rows byte-identical (sketch bytes via md5)
      val carryNames = carryPaths.map(nameOf)
      def statsProj(df: DataFrame): DataFrame = df
        .filter(col("__file").isin(carryNames: _*))
        .select((col("__file").cast("string").as("f") :: col("__n") ::
          statCols.toList.flatMap(c => List(col(s"__nulls_$c"),
            md5(col(s"__sk_$c")).as(s"h_$c"), col(s"__min_$c"),
            col(s"__max_$c")))): _*)
      val a = statsProj(snap1("file_stats"))
      val b = statsProj(snap0("file_stats"))
      val untouchedIdentical =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // merged report over v1's stats, checked against a from-scratch
      // ANALYZE of v1
      val merged = TableQuality.mergeSketches(snap1("file_stats"), statCols)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(4), r.getString(5))))
        .toMap
      val mergeOk = TableQuality.statsCurrent(snap1("file_stats"),
        snap1("data"), statCols)
      // the report is 2 driver-local rows already collected above —
      // return them as literals so the frame holds no reference to the
      // scratch root, which is deleted on return
      statCols.sorted.map { c =>
        val (n, nn, mn, mx) = merged(c)
        (c, n, nn, mn, mx, xGot,
          if (mergeOk) 1 else 0,
          if (nGot == nExp && xGot == xExp) 1 else 0,
          if (untouchedIdentical) 1 else 0,
          if (touchedNames.nonEmpty &&
            touchedNames.size < v0paths.size) 1 else 0)
      }.toDF("column_name", "n_rows", "n_nulls", "min_value", "max_value",
        "table_xor", "ndv_ok", "rows_match_apply",
        "untouched_stats_identical", "files_rewritten_subset")
        .orderBy(col("column_name"))
    }
  }

  /** S21: SCHEMA EVOLUTION ACCEPTED ACROSS VERSIONS — the other half of
    * dq3 (r13 missing #4: drift was detected but a COMPATIBLE evolution
    * — ADD COLUMN, nullable — could not be accepted). v0 commits the
    * pre-evolution slice of documents under contract C0; the evolution
    * adds `quality bigint` (a pure function of n_chars so the oracle
    * replays it), is ACCEPTED by
    * [[graft.operators.TableQuality.contractEvolves]] (adds-only, exact
    * types — a retype or a drop is still rejected, gate-pinned), and v1
    * commits old files HARD-LINKED forward next to the new batch's
    * wider files. The unified read is
    * [[graft.operators.Sinks.readSnapshotTableAs]] under the evolved
    * schema: parquet fills the missing column with null on old files,
    * so `quality IS NULL` counts exactly the pre-evolution rows. The
    * stats table gains the new column's rows LAZILY — sketch rows for
    * `quality` exist only for the new files (old rows carry null sketch
    * columns via the allowMissingColumns union), pinned by the
    * stats_lazy gate. DuckDB anchors the unified row count, doc_id
    * fingerprint, null count, and the new column's sum.
    */
  private def s21SchemaEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val c0 = Seq("doc_id" -> "bigint", "lang" -> "string",
      "n_chars" -> "bigint")
    val c1 = c0 :+ ("quality" -> "bigint")
    def pathOf(u: String): String = new java.net.URI(u).getPath
    withScratch("graft_s21_") { root =>
      val snapRoot = s"$root/snap"
      // ---- v0: the pre-evolution slice under C0
      val oldBatch = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      oldBatch.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/stage0_data")
      FileSkipping.fileStats(spark.read.parquet(s"$root/stage0_data"),
          Seq("doc_id"))
        .withColumn("__file", Sinks.fileNameCol)
        .coalesce(1).write.parquet(s"$root/stage0_stats")
      val v0 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage0_data", "doc_id")),
        "file_stats" -> ((s"$root/stage0_stats", "__file"))), snapRoot, spark)
      val snap0 = Sinks.readSnapshot(spark, snapRoot, Some(v0))
      val contractV0Ok = TableQuality.schemaContractPass(snap0("data"), c0)
      // ---- the evolution: accepted iff adds-only at exact types
      val accepted = TableQuality.contractEvolves(c0, c1)
      val badRejected =
        !TableQuality.contractEvolves(c0, Seq("doc_id" -> "bigint",
          "lang" -> "string", "n_chars" -> "int")) && // retype
        !TableQuality.contractEvolves(c0, Seq("doc_id" -> "bigint",
          "n_chars" -> "bigint")) // dropped column
      // ---- v1: old files link forward, the new batch lands WIDER
      val v0paths = snap0("data").inputFiles.map(pathOf).toSeq
      Sinks.linkForward(java.nio.file.Paths.get(s"$root/stage1_data"),
        v0paths)
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        .withColumn("quality", pmod(col("n_chars"), lit(100L)))
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("append").parquet(s"$root/stage1_data")
      val v0names = v0paths.map(_.replaceAll(".*/", "")).toSet
      val newPaths = spark.read.parquet(s"$root/stage1_data").inputFiles
        .map(pathOf).filterNot(p => v0names(p.replaceAll(".*/", ""))).toSeq
      // stats gain the new column LAZILY: quality sketch rows only for
      // the new files; old rows carry with null quality-stat columns
      val evolvedSchema = snap0("data").schema
        .add("quality", org.apache.spark.sql.types.LongType, nullable = true)
      snap0("file_stats").unionByName(
          FileSkipping.fileStats(
            spark.read.schema(evolvedSchema).parquet(newPaths.sorted: _*),
            Seq("doc_id", "quality"))
            .withColumn("__file", Sinks.fileNameCol),
          allowMissingColumns = true)
        .coalesce(1).write.parquet(s"$root/stage1_stats")
      val v1 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage1_data", "doc_id")),
        "file_stats" -> ((s"$root/stage1_stats", "__file"))), snapRoot, spark)
      // ---- the UNIFIED read under the evolved schema
      val unified = Sinks.readSnapshotTableAs(spark, snapRoot, "data",
        evolvedSchema, Some(v1))
      val contractV1Ok = TableQuality.schemaContractPass(unified, c1)
      val (n, x) = Sinks.contentFingerprint(unified, "doc_id")
      val q = unified.agg(
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("nulls"),
        sum(col("quality")).as("qsum")).head()
      // lazy-stats gate: every file has a doc_id row; ONLY new files
      // have a quality sketch
      val stats1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))("file_stats")
      val totalStatsRows = stats1.count()
      val qualityRows = stats1.filter(col("__sk_quality").isNotNull).count()
      val statsLazyOk = totalStatsRows == v0paths.size + newPaths.size &&
        qualityRows == newPaths.size
      Seq((n, x, q.getLong(0), q.getLong(1), v1,
        if (contractV0Ok && contractV1Ok) 1 else 0,
        if (accepted) 1 else 0,
        if (badRejected) 1 else 0,
        if (statsLazyOk) 1 else 0))
        .toDF("n_rows", "key_xor", "n_quality_nulls", "quality_sum",
          "version", "contract_pass", "evolution_accepted",
          "bad_evolution_rejected", "stats_lazy_ok")
    }
  }

  /** S22: TIME-TRAVEL CDC — the changelog BETWEEN two committed versions
    * ([[graft.operators.Sinks.versionDiff]]), the inverse of s15/s20's
    * apply: a downstream consumer (index, feature store, replica)
    * catches up to a release by replaying the diff, never reprocessing
    * the table. v0 commits documents range-clustered; v1 commits the
    * s20 band-local mutation (deletes `doc_id%7=0`, updates `doc_id%7=3`
    * — both in the low quarter — plus 25 tail inserts) at FILE
    * granularity, untouched files hard-linked forward. The diff is then
    * FILE-GRANULAR by inode: carried files are never read, so its data
    * cost is the changed bytes.
    *
    * FULL oracle: per-op row counts and whole-payload fingerprints are a
    * deterministic function of `documents` (delete rows carry the
    * original payload, updates the new one, inserts the tail rows) —
    * DuckDB reconstructs all three. Structural wins are gate literals:
    * `roundtrip_ok` (applyChangelog(v0, diff) ≡ v1 by count + whole-row
    * fingerprint — the inverse property), `delta_files_skipped` (both
    * sides of the diff read strict subsets of their versions' files),
    * `self_diff_empty` (diff(v, v) has no rows).
    */
  private def s22VersionDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    def pathOf(u: String): String = new java.net.URI(u).getPath
    def nameOf(u: String): String = pathOf(u).replaceAll(".*/", "")
    withScratch("graft_s22_") { root =>
      val snapRoot = s"$root/snap"
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/stage0")
      val v0 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage0", "doc_id"))), snapRoot, spark)
      val snap0 = Sinks.readSnapshot(spark, snapRoot, Some(v0))("data")
      // the s20 deterministic band-local changelog
      val dels = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 0L && col("doc_id") * 4 <= m)
        .select(col("doc_id"), lit("delete").as("op"),
          col("lang"), col("n_chars"))
      val upds = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 3L && col("doc_id") * 4 <= m)
        .select(col("doc_id"), lit("update").as("op"),
          lit("xx").as("lang"), (col("n_chars") + 1000L).as("n_chars"))
      val ins = spark.range(1, 26)
        .select((lit(m) + col("id")).as("doc_id"), lit("insert").as("op"),
          lit("zz").as("lang"), (lit(m) + col("id")).as("n_chars"))
      val changes = dels.unionByName(upds).unionByName(ins)
        .withColumn("seq", lit(1L))
      // touched files from the footer ranges (one agg; the s20 decision
      // shape, minus the stats table this gate does not need)
      val touchedNames = snap0
        .groupBy(input_file_name().as("f"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .join(broadcast(changes.select(col("doc_id").as("__k")).distinct()),
          col("__k") >= col("lo") && col("__k") <= col("hi"), "left_semi")
        .select(col("f")).collect().map(r => nameOf(r.getString(0))).toSet
      val v0paths = snap0.inputFiles.map(pathOf).toSeq
      val touchedPaths = v0paths.filter(p => touchedNames(nameOf(p)))
      val carryPaths = v0paths.filterNot(p => touchedNames(nameOf(p)))
      Sinks.applyChangelog(
          spark.read.schema(docs.schema).parquet(touchedPaths.sorted: _*),
          changes, "doc_id")
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/rw")
      val stage1 = java.nio.file.Paths.get(s"$root/stage1")
      Sinks.linkForward(stage1, carryPaths ++ spark.read.parquet(s"$root/rw")
        .inputFiles.map(pathOf))
      val v1 = Sinks.publishSnapshotStaged(Map(
        "data" -> ((stage1.toString, "doc_id"))), snapRoot, spark)
      // ---- the operator under test
      val diff = Sinks.versionDiff(spark, snapRoot, "data", v0, v1, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val snap1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))("data")
      val roundtripOk = Sinks.contentFingerprint(
        Sinks.applyChangelog(snap0, diff, "doc_id"), DocRowKey) ==
        Sinks.contentFingerprint(snap1, DocRowKey)
      // file-granular skip: both deltas are strict subsets (carried
      // inodes excluded), measured from the diff's own path logic —
      // recomputed here independently via name sets
      val v1names = snap1.inputFiles.map(nameOf).toSet
      val v0names = v0paths.map(nameOf).toSet
      val sharedNames = v0names.intersect(v1names)
      val deltaSkips = sharedNames.nonEmpty &&
        sharedNames.size < v0names.size && sharedNames.size < v1names.size
      val selfEmpty =
        Sinks.versionDiff(spark, snapRoot, "data", v0, v0, "doc_id").isEmpty
      val perOp = diff
        .groupBy(col("op"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          expr(s"coalesce(bit_xor(${Sinks.keyFingerprintSql(DocRowKey)}), 0)")
            .as("payload_xor"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      diff.unpersist()
      perOp.sortBy(_._1).toSeq.map { case (op, n, x) =>
        (op, n, x,
          if (roundtripOk) 1 else 0,
          if (deltaSkips) 1 else 0,
          if (selfEmpty) 1 else 0)
      }.toDF("op", "n_rows", "payload_xor", "roundtrip_ok",
        "delta_files_skipped", "self_diff_empty")
        .orderBy(col("op"))
    }
  }

  /** S26: VERSIONED COMPACTION WITH ZERO RE-SKETCH
    * ([[graft.operators.Sinks.compactSnapshotVersion]]): five ingest
    * batches land documents as five versions (one 60% file + four 10%
    * slivers); compaction with a 30%-of-corpus threshold concatenates
    * exactly the four slivers into one file and commits the next
    * version where (a) the compacted file's stats row is the MERGE of
    * its inputs' rows (count/nulls/min/max exact, HLL union, keyxor
    * fold — the bytes were moved, never re-sketched), (b) the carried
    * big file's stats row is byte-identical, (c) the data manifest
    * merged (only the sliver bytes scanned at publish — and the
    * validating read proves the merged manifest against the whole
    * table). Gates: rows ≡ documents (FULL oracle), file count 5 → 2,
    * merged row ≡ a from-scratch ANALYZE of the compacted file (exact
    * fields verbatim, union-sketch ndv within 10%, folded keyxor ≡ the
    * file's own key fingerprint), carried row
    * byte-identical, pinned pre-compaction version intact, and a
    * second compaction is a no-op (nothing left under the threshold).
    */
  private def s26CompactVersioned(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.streaming.SnapshotIngest
    val statCols = Seq("doc_id", "n_chars")
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val total = docs.count()
    withScratch("graft_s26_") { root =>
      val snapRoot = s"$root/snap"
      val slices = Seq(
        pmod(col("doc_id"), lit(5L)) <= 2L,
        pmod(col("doc_id"), lit(5L)) === 3L &&
          pmod(col("doc_id"), lit(2L)) === 0L,
        pmod(col("doc_id"), lit(5L)) === 3L &&
          pmod(col("doc_id"), lit(2L)) === 1L,
        pmod(col("doc_id"), lit(5L)) === 4L &&
          pmod(col("doc_id"), lit(2L)) === 0L,
        pmod(col("doc_id"), lit(5L)) === 4L &&
          pmod(col("doc_id"), lit(2L)) === 1L)
      slices.zipWithIndex.foreach { case (pred, i) =>
        SnapshotIngest.commitBatch(docs.filter(pred).coalesce(1),
          i.toLong, snapRoot, s"$root/sc", "doc_id", statCols)
      }
      val vPre = Sinks.currentVersion(snapRoot).get
      val filesPre = Sinks.committedFilePaths(snapRoot, "data", Some(vPre))
      val (nPre, xPre) = Sinks.contentFingerprint(
        Sinks.readSnapshot(spark, snapRoot, Some(vPre))("data"), DocRowKey)
      // ---- compact: threshold 30% of corpus catches the four slivers
      val v = Sinks.compactSnapshotVersion(spark, snapRoot,
        maxRows = math.max(2L, (total * 3) / 10)).getOrElse(
        sys.error("compaction found nothing to do"))
      val snap = Sinks.readSnapshot(spark, snapRoot, Some(v))
      val (n, x) = Sinks.contentFingerprint(snap("data"), DocRowKey)
      val filesPost = Sinks.committedFilePaths(snapRoot, "data", Some(v))
      val compactedName = filesPost.map(_.replaceAll(".*/", ""))
        .filterNot(filesPre.map(_.replaceAll(".*/", "")).toSet).head
      // merged stats row vs a from-scratch ANALYZE of the compacted
      // file, and its folded key fingerprint vs the file's own
      val compacted = spark.read.schema(docs.schema)
        .parquet(filesPost.find(_.endsWith(compactedName)).get)
      val mergedRow = snap("file_stats")
        .filter(col("__file").cast("string") === compactedName)
      val keyxorOk = mergedRow.head().getAs[Long]("__keyxor") ==
        Sinks.contentFingerprint(compacted, "doc_id")._2
      val mergeOk = keyxorOk &&
        TableQuality.statsCurrent(mergedRow, compacted, statCols)
      // carried big file's stats row byte-identical across the commit
      val bigName = filesPre.map(_.replaceAll(".*/", ""))
        .filter(filesPost.map(_.replaceAll(".*/", "")).toSet).toSeq
      def carriedProj(df: DataFrame): DataFrame = df
        .filter(col("__file").cast("string").isin(bigName: _*))
        .select((col("__file").cast("string").as("f") :: col("__n") ::
          statCols.toList.flatMap(c => List(col(s"__nulls_$c"),
            md5(col(s"__sk_$c")).as(s"h_$c"), col(s"__min_$c"),
            col(s"__max_$c")))): _*)
      val preStats = Sinks.readSnapshotTable(spark, snapRoot,
        "file_stats", Some(vPre))
      val a = carriedProj(snap("file_stats"))
      val b = carriedProj(preStats)
      val carriedIdentical = bigName.nonEmpty &&
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // pinned pre-compaction version intact
      val (nP2, xP2) = Sinks.contentFingerprint(
        Sinks.readSnapshot(spark, snapRoot, Some(vPre))("data"), DocRowKey)
      val secondNoop = Sinks.compactSnapshotVersion(spark, snapRoot,
        maxRows = math.max(2L, (total * 3) / 10)).isEmpty
      Seq((n, x,
        if (filesPre.size == 5 && filesPost.size == 2) 1 else 0,
        if (n == nPre && x == xPre) 1 else 0,
        if (mergeOk) 1 else 0,
        if (carriedIdentical) 1 else 0,
        if (nP2 == nPre && xP2 == xPre) 1 else 0,
        if (secondNoop) 1 else 0))
        .toDF("n_rows", "row_xor", "files_5_to_2", "rows_identical",
          "merged_row_matches_resketch", "carried_stats_identical",
          "pinned_intact", "second_compact_noop")
    }
  }

  /** S25: STREAMING CDC INGEST — MERGE INTO as a micro-batch stream
    * ([[graft.streaming.SnapshotIngest.commitChangelogBatch]]): four
    * ordered changelog batches commit as four snapshot versions — b0
    * bootstraps the %4≠3 corpus slice into 8 range-partitioned files,
    * b1 updates a LOW-quarter band (touches only the files whose
    * committed `__min_/__max_` ranges cover its keys — the s20
    * decision, per batch), b2 deletes a TOP-quarter band, b3 is a pure
    * insert past every file's range (touches nothing — the append
    * path). Gates: the final version equals one independent sequential
    * whole-table apply of all four changelogs (count + whole-row
    * fingerprint — and the same final table is the FULL DuckDB
    * oracle); the files b1 did NOT touch carry their stats rows
    * BYTE-identical from v0 to v1 (sketch bytes by md5) — the
    * file-granular claim, measured; a replayed batch id is a no-op;
    * the merged stats of the final version equal a from-scratch
    * ANALYZE; four versions committed.
    */
  private def s25CdcIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.SnapshotIngest
    val statCols = Seq("doc_id", "n_chars")
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    withScratch("graft_s25_") { root =>
      val snapRoot = s"$root/snap"
      // b0 bootstraps the %4≠3 slice (8 range-partitioned files); b1
      // updates a LOW-quarter band; b2 deletes a TOP-quarter band; b3
      // is a pure insert past every file's range (touches nothing)
      val b0 = docs.filter(pmod(col("doc_id"), lit(4L)) =!= 3L)
        .select(col("doc_id"), lit("insert").as("op"),
          col("lang"), col("n_chars")).withColumn("seq", lit(0L))
      val b1 = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 3L &&
          col("doc_id") * 4 <= m && pmod(col("doc_id"), lit(4L)) =!= 3L)
        .select(col("doc_id"), lit("update").as("op"),
          lit("xx").as("lang"), (col("n_chars") + 1000L).as("n_chars"))
        .withColumn("seq", lit(1L))
      val b2 = docs
        .filter(pmod(col("doc_id"), lit(11L)) === 0L &&
          col("doc_id") * 4 > 3 * m)
        .select(col("doc_id"), lit("delete").as("op"),
          col("lang"), col("n_chars"))
        .withColumn("seq", lit(2L))
      val b3 = spark.range(1, 26)
        .select((lit(m) + col("id")).as("doc_id"), lit("insert").as("op"),
          lit("zz").as("lang"), (lit(m) + col("id")).as("n_chars"))
        .withColumn("seq", lit(3L))
      val batches = Seq(b0, b1, b2, b3)
      val versions = batches.zipWithIndex.flatMap { case (b, i) =>
        SnapshotIngest.commitChangelogBatch(b, i.toLong, snapRoot,
          s"$root/sc", "doc_id", statCols)
      }
      // replay of the last batch id: no-op, pointer untouched
      val vCur = Sinks.currentVersion(snapRoot).get
      val replayNoop = SnapshotIngest.commitChangelogBatch(b2, 2L,
        snapRoot, s"$root/sc2", "doc_id", statCols).isEmpty &&
        Sinks.currentVersion(snapRoot).contains(vCur)
      val snap = Sinks.readSnapshot(spark, snapRoot, Some(vCur))
      val (n, x) = Sinks.contentFingerprint(snap("data"), DocRowKey)
      // independent sequential whole-table apply
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docs.schema)
      val (nSeq, xSeq) = Sinks.contentFingerprint(batches.foldLeft(empty)(
        (acc, b) => Sinks.applyChangelog(acc, b, "doc_id")), DocRowKey)
      // untouched-by-b1 stats rows byte-identical v0 -> v1 (the
      // band-local update must leave every other file's row verbatim)
      val v1 = versions(0); val v2 = versions(1)
      val stats1 = Sinks.readSnapshotTable(spark, snapRoot, "file_stats",
        Some(v1))
      val stats2 = Sinks.readSnapshotTable(spark, snapRoot, "file_stats",
        Some(v2))
      def statsProj(df: DataFrame, keep: Seq[String]): DataFrame = df
        .filter(col("__file").cast("string").isin(keep: _*))
        .select((col("__file").cast("string").as("f") :: col("__n") ::
          statCols.toList.flatMap(c => List(col(s"__nulls_$c"),
            md5(col(s"__sk_$c")).as(s"h_$c"), col(s"__min_$c"),
            col(s"__max_$c")))): _*)
      val files1 = Sinks.committedFilePaths(snapRoot, "data", Some(v1))
        .map(_.replaceAll(".*/", "")).toSet
      val files2 = Sinks.committedFilePaths(snapRoot, "data", Some(v2))
        .map(_.replaceAll(".*/", "")).toSet
      val sharedNames = (files1 intersect files2).toSeq
      val a = statsProj(stats2, sharedNames)
      val bb = statsProj(stats1, sharedNames)
      val untouchedIdentical = sharedNames.nonEmpty &&
        a.exceptAll(bb).isEmpty && bb.exceptAll(a).isEmpty
      // merged stats of the final version == from-scratch ANALYZE
      val statsOk = TableQuality.statsCurrent(snap("file_stats"), snap("data"),
        statCols)
      Seq((n, x,
        if (versions.size == 4) 1 else 0,
        if (n == nSeq && x == xSeq) 1 else 0,
        if (untouchedIdentical) 1 else 0,
        if (replayNoop) 1 else 0,
        if (statsOk) 1 else 0))
        .toDF("n_rows", "row_xor", "four_versions", "matches_seq_apply",
          "untouched_stats_identical", "replay_noop", "stats_current")
    }
  }

  /** S24: OPTIMISTIC CONCURRENT MERGE — the multi-writer commit
    * protocol ([[graft.operators.Sinks.commitChangelogOptimistic]]):
    * writers A and B both read base version v0; A commits first; B,
    * now stale, REBASES — the intervening net change is s22's
    * versionDiff and B's keys are disjoint, so B re-applies on A's
    * version and both writers' ops survive. Writer C's changelog
    * overlaps A's committed keys: the key-granular serializable rule
    * aborts it loudly (upsert semantics would have silently clobbered
    * A's update).
    *
    * Deterministic bands on `documents`: A updates `doc_id%7=3` in the
    * low quarter (lang→'xx', n_chars+1000), B deletes `doc_id%11=0` in
    * the top quarter — disjoint by construction; C re-updates one of
    * A's keys. FULL oracle: the final table is documents with A's
    * updates applied and B's deletes removed (count + whole-row
    * fingerprint in DuckDB); gates: the rebased result ≡ an independent
    * sequential apply(apply(v0,A),B), C aborts, and the version chain
    * is exactly v0+2.
    */
  private def s24OptimisticMerge(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    withScratch("graft_s24_") { root =>
      val snapRoot = s"$root/snap"
      val v0 = Sinks.publishSnapshot(Map("data" -> ((docs, "doc_id"))),
        snapRoot)
      val chA = docs
        .filter(pmod(col("doc_id"), lit(7L)) === 3L && col("doc_id") * 4 <= m)
        .select(col("doc_id"), lit("update").as("op"),
          lit("xx").as("lang"), (col("n_chars") + 1000L).as("n_chars"))
        .withColumn("seq", lit(1L))
      val chB = docs
        .filter(pmod(col("doc_id"), lit(11L)) === 0L &&
          col("doc_id") * 4 > 3 * m)
        .select(col("doc_id"), lit("delete").as("op"),
          col("lang"), col("n_chars"))
        .withColumn("seq", lit(1L))
      // A commits from v0
      val v1 = Sinks.commitChangelogOptimistic(spark, snapRoot, chA,
        "doc_id", baseVersion = v0)
      // B commits from the SAME stale base v0 — must rebase through
      // A's committed diff and land on top of it
      val v2 = Sinks.commitChangelogOptimistic(spark, snapRoot, chB,
        "doc_id", baseVersion = v0)
      // C overlaps A's committed keys — must abort loudly
      val aKey = chA.agg(min(col("doc_id"))).head().getLong(0)
      val chC = Seq((aKey, "update", "yy", 1L, 2L))
        .toDF("doc_id", "op", "lang", "n_chars", "seq")
      val conflictAborts =
        try {
          Sinks.commitChangelogOptimistic(spark, snapRoot, chC,
            "doc_id", baseVersion = v0)
          false
        } catch {
          case e: RuntimeException
              if e.getMessage != null &&
                e.getMessage.contains("conflicting concurrent commit") =>
            true
        }
      val (n, x) = Sinks.contentFingerprint(
        Sinks.readSnapshot(spark, snapRoot, Some(v2))("data"), DocRowKey)
      val (nSeq, xSeq) = Sinks.contentFingerprint(Sinks.applyChangelog(
        Sinks.applyChangelog(docs, chA, "doc_id"), chB, "doc_id"), DocRowKey)
      Seq((n, x,
        if (n == nSeq && x == xSeq) 1 else 0,
        if (conflictAborts) 1 else 0,
        if (v1 == v0 + 1 && v2 == v0 + 2 &&
          Sinks.currentVersion(snapRoot).contains(v2)) 1 else 0))
        .toDF("n_rows", "row_xor", "rebase_merged_both", "conflict_aborts",
          "version_chain_exact")
    }
  }

  /** S23: RETENTION — [[graft.operators.Sinks.expireVersions]] closes
    * the version lifecycle: three committed versions of a documents
    * slice (each carrying the previous version's files FORWARD as hard
    * links next to its new band), then expire all but the last two.
    * Gates: the expired version's read fails loudly at the commit
    * lookup; the surviving pinned version (v1) and the current (v2)
    * still validate and read byte-identically (their own directory
    * entries to the shared inodes survive the expired dir's deletion —
    * the hard-link-forward property this gate exists to pin); the
    * expired version's data dirs are actually reclaimed; and expiry
    * never removes the pointer's version even when asked. The final
    * current read is the full three-band union — DuckDB anchors count +
    * fingerprint over all of `documents`.
    */
  private def s23Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    def pathOf(u: String): String = new java.net.URI(u).getPath
    withScratch("graft_s23_") { root =>
      val snapRoot = s"$root/snap"
      def commitBand(lo: Long, hi: Long, carryFrom: Option[Long],
          stage: String): Long = {
        Sinks.linkForward(java.nio.file.Paths.get(stage),
          carryFrom.toSeq.flatMap(v =>
            Sinks.readSnapshot(spark, snapRoot, Some(v))("data")
              .inputFiles.map(pathOf)))
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
          .repartition(2)
          .write.mode("append").parquet(stage)
        Sinks.publishSnapshotStaged(Map("data" -> ((stage, "doc_id"))),
          snapRoot, spark)
      }
      val v0 = commitBand(-1L, m / 3, None, s"$root/st0")
      val v1 = commitBand(m / 3, 2 * m / 3, Some(v0), s"$root/st1")
      val v2 = commitBand(2 * m / 3, m, Some(v1), s"$root/st2")
      val (n1Before, x1Before) = Sinks.contentFingerprint(
        Sinks.readSnapshot(spark, snapRoot, Some(v1))("data"), "doc_id")
      val expired = Sinks.expireVersions(snapRoot, keepLast = 2)
      val expiredRight = expired == Seq(v0)
      val expiredLoud =
        try { Sinks.readSnapshot(spark, snapRoot, Some(v0)); false }
        catch { case _: Exception => true }
      // v0's data dir is gone from disk (reclaimed, not just unlinked
      // from the commit log)
      val v0DirGone = {
        val dataDir = java.nio.file.Paths.get(snapRoot, "data")
        val s = java.nio.file.Files.list(dataDir)
        try {
          val names = scala.collection.mutable.Buffer.empty[String]
          s.iterator().forEachRemaining(p => names += p.getFileName.toString)
          names.count(_.startsWith("v=")) == 2
        } finally s.close()
      }
      // surviving versions read + validate byte-identically
      val snap1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))("data")
      val (n1After, x1After) = Sinks.contentFingerprint(snap1, "doc_id")
      val pinnedSurvives = n1After == n1Before && x1After == x1Before
      // asking to keep fewer than remain never expires the pointer
      val expired2 = Sinks.expireVersions(snapRoot, keepLast = 1)
      val currentSafe = Sinks.currentVersion(snapRoot).contains(v2) &&
        expired2 == Seq(v1)
      val cur = Sinks.readSnapshot(spark, snapRoot)("data")
      val (nCur, xCur) = Sinks.contentFingerprint(cur, "doc_id")
      Seq((nCur, xCur,
        if (expiredRight) 1 else 0,
        if (expiredLoud) 1 else 0,
        if (v0DirGone) 1 else 0,
        if (pinnedSurvives) 1 else 0,
        if (currentSafe) 1 else 0))
        .toDF("n_rows", "key_xor", "expired_exact", "expired_read_loud",
          "expired_dir_reclaimed", "pinned_survivor_intact",
          "pointer_never_expired")
    }
  }

  /** S17: STATS-DRIVEN compaction — the first consumer of the s16c
    * per-partition stats rows: the small-file maintenance decision comes
    * from the STATS TABLE (one row per partition, `__n` below a
    * row-count threshold), never from a file listing. Documents land in
    * a deliberately skewed batch layout (batch = least(doc_id % 32, 7):
    * seven ~n/32-row slivers plus one ~25n/32 bulk), the stats pass
    * builds every batch's mergeable row in ONE scan, batches under
    * total/10 rows are compacted into a single file, and the gate proves
    * (a) the compacted table is row-identical to the original (count +
    * key fingerprint, DuckDB-anchored), (b) the decision found exactly
    * the sliver batches (n_small_batches is data-derived and replayed by
    * the oracle), (c) the file count strictly dropped. At 100 TB this is
    * the nightly OPTIMIZE pass: the decision reads metadata-scale stats
    * rows, and only the slivers' bytes are rewritten.
    */
  private def s17StatsCompaction(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val tagged = docs.withColumn("batch",
      least(pmod(col("doc_id"), lit(32L)), lit(7L)))
    withScratch("graft_s17_") { root =>
      tagged.repartition(col("batch"))
        .write.partitionBy("batch").mode("overwrite")
        .parquet(s"$root/batches")
      val before = spark.read.parquet(s"$root/batches")
      // the per-partition stats table: one mergeable row per batch,
      // built in one scan — the s16c maintenance unit
      val stats = graft.operators.Materialize(
        TableQuality.partitionStats(before, "batch", Seq("doc_id")))
      val total = stats.agg(sum(col("__n"))).head().getLong(0)
      // the compaction DECISION: stats rows only, no listing
      val smalls = stats.filter(col("__n") < lit(total / 10))
        .select(col("batch").cast("long")).as[Long].collect().sorted.toSeq
      spark.read
        .parquet(smalls.map(b => s"$root/batches/batch=$b"): _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/compacted")
      val keepPaths = (0L to 7L).filterNot(smalls.contains)
        .map(b => s"$root/batches/batch=$b") :+ s"$root/compacted"
      val after = spark.read.parquet(keepPaths: _*)
      val (nB, xB) = Sinks.contentFingerprint(before, "doc_id")
      val (nA, xA) = Sinks.contentFingerprint(after, "doc_id")
      val filesBefore = before.inputFiles.length
      val filesAfter = after.inputFiles.length
      Seq((nA, xA, smalls.length.toLong,
        if (nA == nB && xA == xB) 1 else 0,
        if (filesAfter < filesBefore) 1 else 0))
        .toDF("n_rows", "key_xor", "n_small_batches", "rows_identical",
          "files_reduced")
    }
  }

  /** S13g: TYPED pruning — string equality and null-aware file skipping
    * (r13 missing #2: the long-range rule alone gives a user's first
    * selective string query — `lang = 'de'`, `domain IN (...)` — no
    * skipping at all). Documents are written range-clustered on
    * (lang, doc_id) so string footer min/max are tight, plus a `tag`
    * column that is NULL exactly on the target language's rows (the
    * IS NULL pruning target). Two pruned reads run against the per-file
    * stats table: `lang IN (target)` via the lexicographic
    * min ≤ v ≤ max rule (the same ordering parquet string footers use,
    * so the bound is sound for equality), and `tag IS NULL` via the
    * `__nulls_` column. Gates: each pruned read's rows are IDENTICAL to
    * the full scan's under the same predicate (count + doc_id
    * fingerprint, DuckDB-anchored), strictly fewer files open, and each
    * stats decision equals an INDEPENDENT footer-rule recompute (string
    * min/max intersection; any-null-present) — so a stale stats table
    * fails rather than agreeing with itself. The target language is
    * data-derived (MIN(lang)) so the oracle replays it.
    */
  private def s13gTypedPruning(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    import graft.operators.FileSkipping.{NullOnly, StringIn}
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val target = docs.agg(min(col("lang"))).head().getString(0)
    withScratch("graft_s13g_") { root =>
      docs.withColumn("tag",
          when(col("lang") === target, lit(null).cast("string"))
            .otherwise(col("lang")))
        .repartitionByRange(8, col("lang"), col("doc_id"))
        .sortWithinPartitions(col("lang"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/t")
      val table = spark.read.parquet(s"$root/t")
      val stats = graft.operators.Materialize(
        FileSkipping.fileStats(table, Seq("doc_id", "lang", "tag")))
      // --- string-IN path
      val prunedS = FileSkipping.prunedParquetTyped(spark, stats,
        Seq(StringIn("lang", Seq(target))), table.schema)
      val (nS, xS) = Sinks.contentFingerprint(
        prunedS.filter(col("lang") === target), "doc_id")
      val (nFull, xFull) = Sinks.contentFingerprint(
        table.filter(col("lang") === target), "doc_id")
      val openedS = prunedS.inputFiles.length.toLong
      val total = table.inputFiles.length.toLong
      // independent footer-rule recompute: the string min/max bracket
      val footerS = table.groupBy(input_file_name().as("f"))
        .agg(min(col("lang")).as("mn"), max(col("lang")).as("mx"))
        .filter(col("mn") <= target && col("mx") >= target)
        .count()
      // --- IS NULL path
      val prunedN = FileSkipping.prunedParquetTyped(spark, stats,
        Seq(NullOnly("tag")), table.schema)
      val (nN, xN) = Sinks.contentFingerprint(
        prunedN.filter(col("tag").isNull), "doc_id")
      val openedN = prunedN.inputFiles.length.toLong
      val footerN = table.groupBy(input_file_name().as("f"))
        .agg(sum(when(col("tag").isNull, 1L).otherwise(0L)).as("nn"))
        .filter(col("nn") > 0L).count()
      Seq((nS, xS,
        if (nS == nFull && xS == xFull) 1 else 0,
        if (openedS < total) 1 else 0,
        if (openedS == footerS) 1 else 0,
        if (nN == nFull && xN == xFull) 1 else 0,
        if (openedN < total) 1 else 0,
        if (openedN == footerN) 1 else 0))
        .toDF("n_rows", "key_xor", "rows_identical", "opened_fewer",
          "stats_match_footers", "null_rows_identical", "null_opened_fewer",
          "null_stats_match_footers")
    }
  }

  private def ta18NbClassifier(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.nbDomainClassifier(tbl(spark, dir, "documents"),
        col("source"))
      .orderBy(col("doc_id"))

  /** CUR2: DSIR importance resampling (Xie et al. 2023) — the non-English
    * pool scored against the English target's hashed-bigram model, top-100
    * Gumbel-resampled. FULL oracle: the SQL re-learns both bucket models,
    * replays the micro-nat log-ratio sum, the keyed-hash Gumbel, and the
    * (key desc, doc_id asc) k-th-tuple threshold.
    */
  private def cur2Dsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.operators.Curation.dsirSelect(
        docs.filter(col("lang") =!= "en"),
        docs.filter(col("lang") === "en"), 100)
      .orderBy(col("doc_id"))
  }

  /** CUR3: excess-loss selection (RHO-loss shape) — top-150 docs by
    * bigram-minus-unigram average logprob, both models self-trained on
    * the corpus. FULL oracle: both LM replays (the ta11/ta16 CTEs), the
    * exact-integer means, and the (excess desc, doc_id asc) k-th-tuple
    * threshold as a ROW_NUMBER rank.
    */
  private def cur3ExcessLoss(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.excessLossSelect(
        tbl(spark, dir, "documents"), 150)
      .orderBy(col("doc_id"))

  /** TA17b: the sampled-cut CCNet bucketing — per-domain cut scores
    * learned on the deterministic keyed-hash half-sample (seed "cuts"),
    * broadcast, then a map-only bucket pass over the full corpus (the
    * hot-domain form: the exact ta17 sorts each whole domain; this sorts
    * only the sample). FULL oracle — the SQL replays the LM, the sample
    * selection, the NTILE cut learning, and the threshold CASE.
    * ta17b_gate separately measures bucket agreement against exact ta17.
    */
  private def ta17bPplBucketsSampled(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBucketsSampled(tbl(spark, dir, "documents"),
        col("source"), sampleFraction = 0.5, seed = "cuts")
      .orderBy(col("doc_id"))

  /** TA17b agreement gate: fraction of docs whose sampled-cut bucket
    * equals the exact ta17 tercile bucket, floored. The sampled path may
    * only shift boundary docs (cut estimation error), never reorder
    * scores — agreement is the converging observable (→1 as the sample
    * grows). Oracled to the literal gate row.
    */
  private def ta17bGate(spark: SparkSession, dir: String): DataFrame = {
    val exact = ta17PplBuckets(spark, dir)
      .select(col("doc_id"), col("bucket").as("b_exact"))
    val sampled = ta17bPplBucketsSampled(spark, dir)
      .select(col("doc_id"), col("bucket").as("b_sampled"))
    exact.join(sampled, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        avg((col("b_exact") === col("b_sampled")).cast("double")).as("agree"))
      .select(lit(75).as("floor_x100"),
        (col("n") > 0).cast("int").as("has_rows"),
        (col("agree") >= 0.75).cast("int").as("pass"))
  }

  /** TA13: the Gopher quality-rule battery (Rae et al. 2021 §A1.1) — all
    * seven rules as per-doc signals + booleans + the combined gate, every
    * signal exactly mirrored in the SQL oracle. The synthetic vocabulary
    * contains only one of the eight Gopher function words, so the
    * stopword rule would fail every doc; planting the function-word
    * sentence on even doc_ids (the ta14/decoy pattern) makes BOTH
    * branches of every rule — and the combined gate — live: the 50-word
    * minimum already splits the corpus, and the planted half splits the
    * stopword rule.
    */
  private def ta13Gopher(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 2 === 0,
        lit(" the be to of and that have with")).otherwise(lit("")))
    TextAnalysis.gopherRules(
        tbl(spark, dir, "documents").withColumn("text", planted))
      .orderBy(col("doc_id"))
  }

  /** TA14: URL extraction + domain-blocklist gate. The synthetic corpus
    * carries no URLs, so the query plants them deterministically in-query
    * (one per doc from (source, doc_id), plus a blocklisted tracker URL on
    * every 7th doc) — the extraction regex, host derivation, and
    * subdomain-aware blocklist then run on real text and are exactly
    * replayed by the oracle.
    */
  private def ta14UrlFilter(spark: SparkSession, dir: String): DataFrame = {
    val tld = element_at(array(lit("com"), lit("org"), lit("net")),
      (col("doc_id") % 3).cast("int") + 1)
    val planted = concat(col("text"),
      lit(" see https://"), col("source"), lit(".example."), tld,
      lit("/p/"), col("doc_id").cast("string"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" http://tracker.spam.bad/x"), col("doc_id").cast("string")))
        .otherwise(lit("")))
    TextAnalysis.urlSignals(
        tbl(spark, dir, "documents").withColumn("text", planted))
      .select(col("doc_id"), col("n_urls"),
        array_join(col("hosts"), ",").as("hosts_csv"),
        TextAnalysis.domainBlocked(col("hosts"), Seq("spam.bad"))
          .cast("int").as("blocked"))
      .orderBy(col("doc_id"))
  }

  /** S9: deterministic sharded export, driver-checked end to end — the
    * corpus is exported in 64-row shards (md5-ordered, the SH1 shuffle),
    * read BACK from disk, and summarized per shard (row count + id sum,
    * which pins shard MEMBERSHIP, not just sizes). The oracle recomputes
    * the shard assignment from the same closed-form rank, so the write →
    * partition layout → read-back roundtrip is hash-verified.
    */
  private def s9ShardedExport(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s9_") { out =>
      val back = operators.Sinks.exportShards(
        tbl(spark, dir, "documents").select(col("doc_id")),
        s"$out/shards", 64L)
      // partition-column read-back infers int; cast to long for the oracle
      graft.operators.Materialize(
        back.groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum")))
        .orderBy(col("shard"))
    }
  }

  /** S10: Hive-partitioned export gate — write documents partitioned by
    * (synthetic domain, sp1 split), read the tree back, and emit
    * per-(domain, split) counts + id-sums: membership THROUGH the
    * write→read-back roundtrip is what hashes (the s9 discipline for the
    * partitioned layout).
    */
  private def s10PartitionedExport(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s10_") { out =>
      val docs = graft.operators.Sampling.assignSplits(
        tbl(spark, dir, "documents").select(col("doc_id"))
          .withColumn("domain", syntheticDomain),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      val back = operators.Sinks.exportPartitioned(docs, s"$out/byDomain",
        Seq("domain", "split"))
      graft.operators.Materialize(
        back.groupBy(col("domain"), col("split"))
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum")))
        .orderBy(col("domain"), col("split"))
    }
  }

  /** Planted boilerplate banner (shared by dd10 and pipe_training_mix):
    * above every 3rd doc, below every 5th — ~267 occurrences at sf0.01.
    */
  private val BannerText = "subscribe to our newsletter for updates"
  private def plantedBoiler: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 3 === 0, lit(BannerText + "\n")).otherwise(lit("")),
    col("text"),
    when(col("doc_id") % 5 === 0, lit("\n" + BannerText)).otherwise(lit("")))

  /** Skewed synthetic domain from doc_id (11:3:1:1 — shared by mx2 and
    * pipe_training_mix; the uniform testdata `source` column would
    * collapse every temperature rate to one value).
    */
  private def syntheticDomain: org.apache.spark.sql.Column =
    when(col("doc_id") % 16 < 11, "web")
      .when(col("doc_id") % 16 < 14, "books")
      .when(col("doc_id") % 16 < 15, "code")
      .otherwise("wiki")

  /** DD10: global repeated-paragraph removal. The corpus has no newlines,
    * so the query plants a boilerplate paragraph (newsletter banner) above
    * every 3rd doc and below every 5th — ~267 occurrences at sf0.01 —
    * while each doc's own text stays a unique single paragraph. The pass
    * must strip every banner and nothing else, and the oracle re-derives
    * the hot set, the rewrite, and the counts.
    */
  private def dd10ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatedParagraphs(
        tbl(spark, dir, "documents").withColumn("text", plantedBoiler),
        minOccurrences = 10L)
      .orderBy(col("doc_id"))

  /** BT1: distributed BPE tokenizer training — 8 merges learned from the
    * documents corpus (char-level base symbols, `[\p{L}\p{N}]+`
    * pretokens, min pair count 2). The oracle re-learns the table from
    * scratch in DuckDB: 8 unrolled rounds of weighted pair-count →
    * deterministic argmax → recursive leftmost-merge replay, so every
    * rank, symbol pair, AND winning count is independently re-derived —
    * a full second implementation of the training loop, not a replay of
    * Spark's output.
    */
  private def bt1BpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.trainMerges(tbl(spark, dir, "documents"), 8)
      .orderBy(col("rank"))

  /** BT1b: the SAMPLED-corpus trainer — the 100 TB operating point for a
    * real (50k) vocab, where even the batched distributed loop pays ~12k
    * driver rounds. One deterministic keyed-hash half-sample (`md5` unit
    * draw, seed "bpe" — the sp2/mx1 primitive, so DuckDB replays the
    * SELECTION exactly), one distributed wordcount, then the sequential
    * merge loop on the driver over the vocab-sized word-frequency table.
    * The oracle re-learns all 8 merges from the SAME sampled subset — the
    * bt1 training-replay SQL with the corpus swapped for the sample — so
    * selection + training are both hash-checked end to end.
    */
  private def bt1bBpeTrainSampled(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.trainMergesSampled(
        tbl(spark, dir, "documents"), 8, sampleFraction = 0.5, seed = "bpe")
      .orderBy(col("rank"))

  /** BT2: the full tokenizer LIFECYCLE — train the bt1 merge table
    * distributed, collect it (8 rows — metadata), build a BpeTokenizer,
    * and encode the whole corpus with it (per-doc token counts). The
    * oracle re-learns AND re-encodes in DuckDB, so train→encode is
    * verified end to end with no shared state between the engines.
    */
  private def bt2BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val merges = graft.operators.BpeTrain.trainMerges(docs, 8)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toVector
    val tok = new graft.core.BpeTokenizer(merges, "[\\p{L}\\p{N}]+",
      byteLevel = false)
    docs.select(col("doc_id"),
        graft.functions.udfs.bpeCountUdf(tok)(col("text"))
          .cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** BT3: the learned tokenizer's vocabulary table (base symbols then
    * merge products, contiguous ids — the HF `model.vocab` shape). The
    * base-symbol table is alphabet-sized (36 rows here), not corpus-sized,
    * so vocabTable collects it and assigns ids on the driver in code-point
    * order (matching the oracle's ROW_NUMBER() OVER (ORDER BY token) under
    * DuckDB's code-point collation). Oracle re-learns the merges and
    * re-derives both id ranges.
    */
  private def bt3BpeVocab(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.vocabTable(tbl(spark, dir, "documents"), 8)
      .orderBy(col("token_id"))

  /** MX2: temperature-flattened mixture downsampling (alpha 0.5, target
    * half the corpus) — the domain-rebalancing pass. The testdata `source`
    * column is uniform (every rate would collapse to one value), so the
    * query derives a SKEWED domain from doc_id (11:3:1:1) — the flattening
    * then shows all three regimes: the head domain down-sampled hardest,
    * the mid domain lightly, and the tail domains clamped at keep-all
    * (rate 1.0). Rates land on a 9dp decimal grid so the whole sample is
    * hash-exact against the oracle.
    */
  private def mx2Temperature(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Sampling.temperatureMixture(
        tbl(spark, dir, "documents").withColumn("domain", syntheticDomain),
        col("domain"),
        alpha = 0.5, targetFraction = 0.5)
      .select(col("doc_id"), col("domain"), r4(col("keep_rate")).as("keep_rate"))
      .orderBy(col("doc_id"))
  }

  /** MX3: UniMax water-filling mixture on the skewed synthetic domain.
    * budget=400, maxEpochs=2 on (web 344, books 94, code 31, wiki 31 at
    * sf0.01) exercises all three regimes at once: code/wiki hit the
    * 2-epoch cap (every doc emitted exactly twice), books take a
    * fractional upsample (~1.47 epochs), web downsamples (~0.40). The
    * oracle replays the waterfall: sorted-caps window, decimal prefix
    * sums, first-uncapped water level, keyed-hash copies.
    */
  private def mx3Unimax(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.unimaxMixture(
        tbl(spark, dir, "documents").withColumn("domain", syntheticDomain)
          .select(col("doc_id"), col("domain")),
        col("domain"), budget = 400.0, maxEpochs = 2.0)
      .select(col("doc_id"), col("domain"), col("copy"), col("target_epochs"))
      .orderBy(col("doc_id"), col("copy"))

  /** TA11: unigram log-prob quality score (self-trained corpus model). */
  private def ta11LogProb(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** TA10: compression-ratio quality signal. Rows-only: SQL has no
    * deflate; determinism is pinned by spec instead.
    */
  private def ta10Compress(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionRatio(tbl(spark, dir, "documents"))
      .select(col("doc_id"), col("compress_ratio"))
      .orderBy(col("doc_id"))

  /** TA10 gate (literal oracle — the recallGate discipline applied to the
    * one remaining rows-only entry with no registry-level check): deflate
    * must (a) rank a PLANTED maximally-repetitive doc strictly below
    * planted varied prose — the discriminating property every
    * compression-quality gate relies on — and (b) stay in [0, 1.5] over
    * every corpus doc of >= 64 UTF-8 bytes: deflate's fixed ~10-byte
    * zlib overhead legitimately pushes TINY docs far above 1.5 (a
    * 2-byte doc deflates to ~10 bytes, ratio ~5), so the bound only
    * means something once the overhead is amortized — shorter docs are
    * the length gates' (ta1/ta13) jurisdiction, not a compression
    * defect. A Deflater-config regression (level, dictionary, ratio
    * denominator) flips a literal and breaks the hash.
    */
  private def ta10Gate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (1L, Seq.fill(60)("spark").mkString(" ")),
      (2L, "the quick brown fox jumps over a lazy dog while seventeen " +
        "divergent engineers measure quantile sketches against parquet " +
        "row groups and shuffle partitions under adaptive execution"))
      .toDF("doc_id", "text")
    val pr = TextAnalysis.compressionRatio(planted)
    val rep = pr.filter(col("doc_id") === 1L)
      .select(col("compress_ratio").as("r_rep"))
    val prose = pr.filter(col("doc_id") === 2L)
      .select(col("compress_ratio").as("r_prose"))
    val amortized = when(octet_length(col("text")) >= 64,
      col("compress_ratio"))
    TextAnalysis.compressionRatio(tbl(spark, dir, "documents"))
      .agg(count(lit(1)).as("n"), min(amortized).as("mn"),
        max(amortized).as("mx"))
      .crossJoin(broadcast(rep)).crossJoin(broadcast(prose))
      .select((col("n") > 0).cast("int").as("has_rows"),
        (col("r_rep") < col("r_prose")).cast("int").as("ordered"),
        // vacuously bounded when no doc reaches the amortized regime
        coalesce(col("mn") >= 0.0 && col("mx") <= 1.5, lit(true))
          .cast("int").as("bounded"))
  }

  private def ta8Repetition(spark: SparkSession, dir: String): DataFrame = {
    // tokens materialized as an attribute before the line-building lambda:
    // slice() inside transform() would otherwise re-split the doc per line
    // (no subexpression elimination inside HOF lambdas — see topNgrams)
    val toks0 = col("__toks0")
    val linesArr = transform(
      sequence(lit(0), floor((size(toks0) - 1) / 8.0).cast("int")),
      g => array_join(slice(toks0, g * 8 + 1, lit(8)), " "))
    val rep = tbl(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks0"))
      .select(col("doc_id"),
        concat(array_join(linesArr, "\n"), lit("\n"), element_at(linesArr, 1))
          .as("text"))
    TextAnalysis.repetitionSignals(rep)
      .orderBy(col("doc_id"))
  }

  /** TA6: top-10 corpus trigrams (count desc, gram asc tie-break). */
  private def ta6TopNgrams(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgrams(tbl(spark, dir, "documents"), n = 3, k = 10)

  /** M1 (oracle slice): ROUGE-1/2 F1 over SQL-constructible pairs — gen =
    * first 20 whitespace tokens, ref = tokens 11-40 (partial overlap, so
    * precision/recall are non-degenerate). Holds the n-gram multiset
    * overlap formula itself to DuckDB parity on real corpus text; ROUGE-L
    * (LCS) stays spec-checked (a DP is not reasonably SQL-expressible).
    */
  private def evalRougeNgram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    val rouge = graft.functions.udfs.rougeStruct(col("gen"), col("ref"))
    pairs.withColumn("rouge", rouge)
      .select(col("doc_id"),
        r4(col("rouge.rouge1_f")).as("rouge1_f"),
        r4(col("rouge.rouge2_f")).as("rouge2_f"))
      .orderBy(col("doc_id"))
  }

  /** G9 (oracle slice): mean/std/min/max long-format stats over the
    * rouge-ngram metric rows — the summaryStats formulas (decimal-exact
    * mean, population std) held to DuckDB parity on a real metric
    * distribution (the pipeline-fed eval_summary_stats stays rows-only
    * because its inputs come from the map-reduce pipeline).
    */
  private def evalStatsNgram(spark: SparkSession, dir: String): DataFrame =
    graft.eval.Metrics.summaryStats(
      evalRougeNgram(spark, dir), Seq("rouge1_f", "rouge2_f"))
      .orderBy(col("metric"))

  /** M2 (oracle slice): the BERTScore greedy-match formula over the same
    * token-slice pairing, driven by the md5-bucket hashing embedder — a
    * single metric token embeds to exactly ±e_bucket, so every pairwise
    * cosine is exactly -1/0/+1 and the greedy max/mean/harmonic-F1 chain
    * is reproduced bit-for-bit in DuckDB. Holds the M2 FORMULA itself to
    * SQL parity on corpus text (the transformer-embedder path stays
    * model-dependent by design).
    */
  private def evalBertNgram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    graft.eval.Metrics.bertScore(pairs, graft.llm.Md5TfEmbedder(64))
      .orderBy(col("doc_id"))
  }

  /** M6 (oracle slice): sentence BLEU over the token-slice pairing —
    * add-one smoothed clipped precisions + brevity penalty, all integer
    * micro-nat arithmetic up to the final exp (core/Bleu.scala). FULL
    * oracle: the SQL rebuilds the four gram tables, the clipped-match
    * sums, the 6dp micro snaps, and the quarter-micro log score; the
    * exact `log_bleu_qmicro` column is the integer the two engines must
    * agree on verbatim, `bleu` its 4dp exp.
    */
  private def evalBleuNgram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    graft.eval.Metrics.bleuScores(pairs).orderBy(col("doc_id"))
  }

  /** M7 (oracle slice): chrF2 over the same token-slice pairing — the
    * character-level metric next to ROUGE/BLEU/BERTScore. FULL oracle:
    * the SQL rebuilds all four char-gram tables per side, the clipped
    * matches, the 6dp micro snaps of every per-order P/R, the exact
    * integer averages, and the β=2 F.
    */
  private def evalChrf(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    graft.eval.Metrics.chrfScores(pairs).orderBy(col("doc_id"))
  }

  /** The hermetic in-process transformer (seeded weights, no endpoint, no
    * files) every tx-family query shares. One instance so executor JVMs
    * build the weight matrices once.
    */
  private val txModel = graft.llm.TinyTransformer()

  /** M2 (model path): BERTScore over CONTEXTUAL transformer token vectors
    * — the published formula over the published architecture, in-process
    * (reference: evaluate/evaluate_summaries_semantic.py:150-166). Same
    * token-slice pairing as eval_bert_ngram so the two scores are
    * side-by-side comparable. Rows-only: a transformer forward pass has
    * no SQL replay; the model properties that make it a transformer are
    * pinned by the fully-oracled `tx_gate`.
    */
  private def evalBertscoreTx(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    graft.eval.Metrics.bertScoreContextual(pairs, txModel)
      .orderBy(col("doc_id"))
  }

  /** M3 (model path): semantic top-5 retrieval over transformer SENTENCE
    * embeddings (mean-pooled contextual vectors, the sentence-transformers
    * pooling default) — every 50th doc queries the corpus, exact cosine.
    * Rows-only (same reason as eval_bertscore_tx); ranking sanity is
    * pinned by `tx_gate`'s near-dup property.
    */
  private def m3tSemanticTx(spark: SparkSession, dir: String): DataFrame = {
    val docs = txDocEmb(spark, dir)
    val queries = docs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.bruteForceTopK(docs, queries, 5)
      .select("query_id", "vec_id", "cosine", "rank")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Transformer sentence embeddings over the documents table — the
    * model-inference stage every tx retrieval query shares (pure map,
    * repartitioned off the single input split).
    */
  private def txDocEmb(spark: SparkSession, dir: String): DataFrame = {
    val embedUdf = udf((t: String) => txModel.embed(t))
    tbl(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), embedUdf(col("text")).as("embedding"))
  }

  /** M3 (scale path): the same transformer retrieval routed through the
    * sign-LSH index instead of the brute-force scan — model inference
    * composes with the registered ANN family unchanged (embeddings are
    * just a column). Rows-only; m3tb_gate floors its recall against the
    * m3t exact baseline.
    */
  private def m3tbSemanticTxLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = txDocEmb(spark, dir)
    val queries = docs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.lshTopK(docs, queries, 5, txModel.dim)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@5 of the LSH-routed tx retrieval vs the exact m3t baseline.
    * The embedding table is Materialized: the brute and LSH branches both
    * consume it, and the model forward passes are the dominant cost —
    * without this the corpus embeds twice (the pipe_ccnet discipline).
    */
  private def m3tbRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Materialize(txDocEmb(spark, dir))
    val queries = docs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.recallAtK(
      Similarity.bruteForceTopK(docs, queries, 5),
      Similarity.lshTopK(docs, queries, 5, txModel.dim))
      .orderBy(col("query_id"))
  }

  /** The tx-family contract gate (FULL literal oracle) — pins the four
    * properties that make the in-process encoder a real transformer and
    * not another bag-of-tokens embedder, each as a hash-checked int:
    *  - self_pass: BERTScore F1 of every doc against itself is exactly
    *    1.0 after the 4dp snap (identical contextual sequences);
    *  - order_pass: REVERSING a doc's tokens moves its pooled embedding —
    *    max self-vs-reversed cosine over all multi-distinct-token docs
    *    stays under 0.9999 (positions + attention are order-sensitive;
    *    bag embedders score exactly 1.0 here);
    *  - neardup_pass: dropping one token moves the embedding LESS than
    *    swapping in a different doc's text — fraction of docs where
    *    cos(doc, doc-minus-last-token) > cos(doc, next doc) clears 0.90;
    *  - det_pass: a SECOND encoder instance (its own independently-built
    *    weight matrices) reproduces every vector bit-for-bit (hermetic
    *    determinism — the property that keeps tx scores byte-stable
    *    across executors, retries, and JVMs).
    * Floors verified at sf0.001/0.01/0.1 with wide margin (ProbeTx).
    */
  private def txGate(spark: SparkSession, dir: String): DataFrame =
    txGateStats(spark, dir)
      .select(
        (col("bad_self") === 0).cast("int").as("self_pass"),
        (col("max_rev") < 0.9999).cast("int").as("order_pass"),
        (col("nd_rate") >= 0.90).cast("int").as("neardup_pass"),
        (col("det_min") === 1).cast("int").as("det_pass"),
        (col("n") > 0).cast("int").as("has_rows"))

  /** The raw tx_gate aggregates (one row: bad_self count, max reversed
    * cosine, near-dup win rate, determinism min, n) — split out so
    * ProbeTx can print the MARGINS behind the gate's literal booleans.
    */
  private[graft] def txGateStats(spark: SparkSession, dir: String): DataFrame = {
    val model2 = graft.llm.TinyTransformer()
    val embedUdf = udf((t: String) => txModel.embed(t))
    val embedUdf2 = udf((t: String) => model2.embed(t))
    val selfF1 = udf { (t: String) =>
      val e = txModel.encode(t)
      graft.core.BertScore.greedyMatch(e, e)._3
    }
    val toks = filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
      t => t =!= "")
    val docs = tbl(spark, dir, "documents").select(
      col("doc_id"), col("text"), toks.as("toks"),
      size(array_distinct(toks)).as("n_distinct"))
    // "unrelated text" partner = the doc_id+1 neighbor via a plain
    // equi-join (no global-window lead — that would serialize the corpus
    // into one task); docs whose successor id is absent drop out of the
    // near-dup rate only. Repartition BEFORE the forward passes.
    val withNext = docs.join(
        docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("next_text")),
        Seq("doc_id"), "left")
      .repartition(spark.sparkContext.defaultParallelism)
    val cos = (a: Column, b: Column) =>
      graft.functions.cosineSimilarityF(a, b)
    val scored = withNext.select(
      col("doc_id"),
      r4(selfF1(col("text"))).as("self_f1"),
      col("n_distinct"),
      cos(embedUdf(col("text")),
        embedUdf(array_join(reverse(col("toks")), " "))).as("cos_rev"),
      when(col("next_text").isNotNull,
        (cos(embedUdf(col("text")),
          embedUdf(array_join(
            slice(col("toks"), lit(1), size(col("toks")) - 1), " "))) >
         cos(embedUdf(col("text")), embedUdf(col("next_text"))))
          .cast("int")).as("nd_win"),
      (embedUdf(col("text")) === embedUdf2(col("text")))
        .cast("int").as("det_ok"))
    scored.agg(
      max(when(col("self_f1") =!= 1.0, 1).otherwise(0)).as("bad_self"),
      max(when(col("n_distinct") >= 2, col("cos_rev"))).as("max_rev"),
      avg(col("nd_win")).as("nd_rate"),
      min(col("det_ok")).as("det_min"),
      count(lit(1)).as("n"))
  }

  /** The TRAINED in-process encoder: the committed checkpoint produced by
    * the in-repo contrastive trainer ([[graft.llm.TxTrain]] — symmetric
    * InfoNCE over seeded random crops, 4000 deterministic steps on the
    * sf0.01 corpus; see its scaladoc), served through the SAME
    * `weightsPath` plumbing the CLI `--weights` flag uses. The path is a
    * CLASSPATH RESOURCE bundled in the library jar, so it resolves on
    * every executor with no --files plumbing (TensorFile.load's
    * filesystem-then-classpath order). One instance per JVM, same as
    * [[txModel]].
    */
  private val txTrainedModel = graft.llm.TinyTransformer(
    weightsPath = Some("graft/tiny_tx_trained.safetensors"))

  /** Raw aggregates behind [[txTrainedGate]] (one row): the seeded and
    * trained models' separation statistics side by side — mean cosine of
    * each doc against itself-minus-last-token (pos, the tx_gate near-dup
    * transform) and against its doc_id+1 neighbor (neg), the margins,
    * plus a second trained instance's bit-determinism min. Split out so
    * ProbeTx-style tooling can print the MARGINS behind the gate's
    * literal booleans (the txGateStats convention).
    */
  private[graft] def txTrainedStats(spark: SparkSession, dir: String): DataFrame = {
    val trained2 = graft.llm.TinyTransformer(
      weightsPath = Some("graft/tiny_tx_trained.safetensors"))
    val eS = udf((t: String) => txModel.embed(t))
    val eT = udf((t: String) => txTrainedModel.embed(t))
    val eT2 = udf((t: String) => trained2.embed(t))
    val toks = filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
      t => t =!= "")
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"), toks.as("toks"))
    // the doc_id+1 partner via a plain equi-join (the txGateStats shape —
    // no global-window lead); only docs with >= 2 tokens AND a successor
    // contribute, so pos and neg average over the same rows and the
    // margin is a per-doc difference, not a ratio of mismatched sets
    val withNext = docs.join(
        docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("next_text")),
        Seq("doc_id"), "inner")
      .filter(size(col("toks")) >= 2)
      .repartition(spark.sparkContext.defaultParallelism)
    val dropLast = array_join(
      slice(col("toks"), lit(1), size(col("toks")) - 1), " ")
    val cos = (a: Column, b: Column) =>
      graft.functions.cosineSimilarityF(a, b)
    val scored = withNext.select(
      cos(eS(col("text")), eS(dropLast)).as("pos_s"),
      cos(eS(col("text")), eS(col("next_text"))).as("neg_s"),
      cos(eT(col("text")), eT(dropLast)).as("pos_t"),
      cos(eT(col("text")), eT(col("next_text"))).as("neg_t"),
      (eT(col("text")) === eT2(col("text"))).cast("int").as("det_ok"))
    scored.agg(
      avg(col("pos_s")).as("pos_s"),
      avg(col("neg_s")).as("neg_s"),
      avg(col("pos_t")).as("pos_t"),
      avg(col("neg_t")).as("neg_t"),
      (avg(col("pos_t") - col("neg_t")) -
        avg(col("pos_s") - col("neg_s"))).as("margin_lift"),
      min(col("det_ok")).as("det_min"),
      count(lit(1)).as("n"))
  }

  /** TX-TRAINED gate (FULL literal oracle): the committed TRAINED
    * checkpoint must measurably BEAT the seeded weights on the library's
    * own separation contract — the "quality proven" half of the model
    * story (the reference's quality layer is a contrastively-trained
    * sentence-transformer, evaluate/evaluate_summaries_semantic.py:128-139;
    * this pins that the in-repo trainer's checkpoint moves the same kind
    * of metric in the same direction). Four hash-checked ints:
    *  - lift_pass: the trained margin (mean pos − neg cosine) exceeds the
    *    seeded margin by >= 0.40 — measured lift ≈ +0.69 at sf0.001/0.01/
    *    0.1 (TxTrain cross-SF report), so the floor has ~0.29 of slack;
    *  - aniso_pass: the trained model's mean UNRELATED-doc cosine sits
    *    >= 0.40 below the seeded model's (measured ≈ 0.88 → 0.17: the
    *    anisotropy that made mean-centering load-bearing for dd13 is
    *    trained away, not centered away);
    *  - align_pass: trained near-dup cosine stays >= 0.90 (mean — the
    *    alignment half didn't collapse to win the uniformity half);
    *  - det_pass: a second trained instance (its own checkpoint load)
    *    reproduces every vector bit-for-bit (the tx_gate hermetic-
    *    determinism property, held by the trained path too).
    */
  private def txTrainedGate(spark: SparkSession, dir: String): DataFrame =
    txTrainedStats(spark, dir).select(
      (col("margin_lift") >= 0.40).cast("int").as("lift_pass"),
      (col("neg_s") - col("neg_t") >= 0.40).cast("int").as("aniso_pass"),
      (col("pos_t") >= 0.90).cast("int").as("align_pass"),
      (col("det_min") === 1).cast("int").as("det_pass"),
      (col("n") > 0).cast("int").as("has_rows"))

  /** Trained-model sentence embeddings over the documents table, with the
    * text kept alongside (the rerank stage needs both) — the trained twin
    * of [[txDocEmb]].
    */
  private def txTrainedDocEmb(spark: SparkSession, dir: String): DataFrame = {
    val embedUdf = udf((t: String) => txTrainedModel.embed(t))
    tbl(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("text"),
        embedUdf(col("text")).as("embedding"))
  }

  /** SS14: retrieve-then-RERANK — the two-stage ranking every production
    * retrieval/hard-negative-mining pipeline runs (bi-encoder shortlist,
    * cross-scoring rerank; Nogueira & Cho 2019): stage 1 retrieves a
    * top-20 shortlist by TRAINED-model sentence-embedding cosine (the
    * cheap, index-able score — composes with any registered ANN family);
    * stage 2 re-scores each (query, candidate) PAIR with the trained
    * model's contextual BERTScore F1 (token-level greedy matching over
    * contextual vectors — strictly more expressive than one pooled
    * cosine, and priced per shortlist pair, never per corpus row) and
    * keeps the top-5 by (f1 desc, vec_id). Both stages run the committed
    * trained checkpoint — the second operator the in-repo trainer powers.
    *
    * Scale shape: stage 1 is the family's broadcast-query scan (swap in
    * lshTopK/ivfSearch/graphTopK at corpus scale — the shortlist contract
    * is identical); stage 2 costs |queries| x 20 model forwards, bounded
    * by the shortlist, never the corpus. Rows-only (model forwards have
    * no SQL replay); ss14_gate pins containment, the rerank-optimality
    * invariant, and bit-determinism.
    */
  private def ss14RerankCross(spark: SparkSession, dir: String): DataFrame =
    ss14Ranked(spark, dir)
      .filter(col("rank") <= 5)
      .select("query_id", "vec_id", "cosine", "cross_f1", "rank")
      .orderBy(col("query_id"), col("rank"))

  /** The full reranked shortlist (rank over ALL 20 candidates — the gate
    * needs the unkept tail too).
    */
  private def ss14Ranked(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.operators.Materialize(txTrainedDocEmb(spark, dir))
    // BOUNDED query set at any scale: a fixed `% 50` rule grows the query
    // count with the corpus, and the stage-1 exact scan is
    // O(|corpus| x |queries|) — at the 100x probe that was 10k queries x
    // 500k docs = 5e9 scored rows (OOM). The stride scales instead:
    // ~10-20 strided queries whatever the corpus size.
    val qMod = math.max(50L, docs.count() / 20L)
    val queries = docs.filter(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding"),
        col("text").as("q_text"))
    val shortlist = Similarity.bruteForceTopK(
      docs.select(col("vec_id"), col("embedding")),
      queries.select(col("query_id"), col("embedding")), 20)
    // the query set is BOUNDED (~10-20 ids at any scale, see qMod), so
    // encode each query ONCE on the driver and ship the contextual
    // vectors in the closure — the per-pair UDF was re-running the same
    // query forward for every one of its 20 candidates (20x the stage-2
    // query-side model cost for identical bits; guide §1.2 "don't compute
    // things you throw away"). Doc-side forwards stay per pair: the
    // candidate lists barely overlap, and shipping token-level encodings
    // through a join would shuffle far more bytes than it saves.
    val qEnc: Map[Long, Array[Array[Float]]] =
      queries.select(col("query_id"), col("q_text")).collect()
        .map(r => r.getLong(0) -> txTrainedModel.encode(r.getString(1)))
        .toMap
    val crossF1 = udf { (qid: Long, d: String) =>
      graft.core.BertScore.greedyMatch(qEnc(qid), txTrainedModel.encode(d))._3
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cross_f1").desc, col("vec_id").asc)
    shortlist
      .join(docs.select(col("vec_id"), col("text").as("d_text")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        col("cosine"), col("rank").as("bi_rank"),
        r4(crossF1(col("query_id"), col("d_text"))).as("cross_f1"))
      .withColumn("rank", row_number().over(w))
  }

  /** SS14 gate (literal oracle): the rerank stage's three invariants —
    *  - contained_pass: the reranked top-5 is a subset of the stage-1
    *    shortlist per query (exactly 5 of the 20 candidates survive);
    *  - improve_pass: the mean cross-F1 of the RERANKED top-5 is >= the
    *    mean cross-F1 of the bi-encoder's own top-5 (rerank picks the
    *    argmax over the shortlist, so equality is the floor — a violation
    *    means the window/tie plumbing is broken);
    *  - det_pass: a second trained-model instance reproduces every
    *    cross-F1 bit-for-bit (the tx_gate hermetic-determinism property
    *    through the cross-scoring path).
    */
  private def ss14Gate(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Materialize(ss14Ranked(spark, dir))
    val perQuery = ranked.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("rank") <= 5, 1).otherwise(0)).as("n_kept"),
      avg(when(col("rank") <= 5, col("cross_f1"))).as("f1_rerank"),
      avg(when(col("bi_rank") <= 5, col("cross_f1"))).as("f1_bi"))
    val trained2 = graft.llm.TinyTransformer(
      weightsPath = Some("graft/tiny_tx_trained.safetensors"))
    val crossF12 = udf { (q: String, d: String) =>
      graft.core.BertScore.greedyMatch(
        trained2.encode(q), trained2.encode(d))._3
    }
    // determinism re-scored on the top-5 only (25 extra pair forwards at
    // the verify SFs) — re-derive the texts through the same joins
    val docs = tbl(spark, dir, "documents")
    val det = ranked.filter(col("rank") <= 5)
      .join(docs.select(col("doc_id").as("vec_id"),
        col("text").as("d_text")), "vec_id")
      .join(docs.select(col("doc_id").as("query_id"),
        col("text").as("q_text")), "query_id")
      .select((r4(crossF12(col("q_text"), col("d_text"))) ===
        col("cross_f1")).cast("int").as("det_ok"))
      .agg(min(col("det_ok")).as("det_min"))
    perQuery.agg(
        (count(lit(1)) > 0).cast("int").as("has_rows"),
        min((col("n_kept") === least(lit(5), col("n_cand"))).cast("int"))
          .as("contained_pass"),
        min((col("f1_rerank") >= col("f1_bi")).cast("int")).as("improve_pass"))
      .crossJoin(broadcast(det))
      .select(col("has_rows"), col("contained_pass"), col("improve_pass"),
        (col("det_min") === 1).cast("int").as("det_pass"))
  }

  /** M4 (oracle slice): the CoverageJudge rubric — pass verdict,
    * correctness (= source-vocabulary coverage) and coherence (= lexical
    * diversity) — over the same SQL-constructible token-slice pairing as
    * [[evalRougeNgram]], so the judge FORMULAS themselves are held to
    * DuckDB parity on real corpus text (the pipeline-fed judge pass,
    * eval_judge_scores, stays rows-only because its gen side is the
    * map-reduce pipeline). Verdict strings are locale/printf-formatted and
    * excluded; the boolean and both scores are exact.
    */
  private def evalJudgeNgram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Pipelines.tokenSlicePairs(tbl(spark, dir, "documents"))
    graft.eval.Metrics.judgeMetrics(pairs)
      .select(col("doc_id"), col("passed"), col("correctness"), col("coherence"))
      .orderBy(col("doc_id"))
  }

  /** bt1_bpe_train oracle: re-LEARN the merge table in DuckDB — `n`
    * unrolled rounds, each being (1) weighted adjacent-pair counts over
    * the current word-state table, (2) argmax with the (count DESC, a, b)
    * tie-break and the min-pair-count-2 stop, (3) a recursive
    * leftmost-merge walk applying the winner (iterated leftmost-occurrence
    * merging ≡ the single-pass skip-after-merge scan, since a merge can
    * never create an earlier occurrence of the same pair). Rounds where
    * b{r} is empty (training exhausted) contribute no output row and leave
    * the state unchanged, matching trainMerges' early stop.
    */
  private def bpeTrainSql(numMerges: Int,
      corpus: String = "documents"): String = {
    val rounds = (1 to numMerges).map { r =>
      val prev = s"w${r - 1}"
      // MATERIALIZED: w{r-1} is referenced by both p$r and m$r — without
      // the hint DuckDB inlines the whole prior-round chain into each
      // reference and the plan doubles per round (2^rounds).
      s"""p$r AS MATERIALIZED (
       SELECT toks[i] AS a, toks[i + 1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
       FROM (SELECT c, toks, unnest(range(1, len(toks))) AS i FROM $prev)
       GROUP BY 1, 2),
     b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r WHERE cnt >= 2
       ORDER BY cnt DESC, a, b LIMIT 1),
     m$r AS (
       SELECT w, c, toks, 0 AS step FROM $prev
       UNION ALL
       SELECT w, c,
         toks[1:pos - 1] || [mab] || toks[pos + 2:],
         step + 1
       FROM (
         SELECT w, c, toks, step, bb.a || bb.b AS mab,
           list_position(list_transform(range(1, len(toks)),
             i -> CASE WHEN toks[i] = bb.a AND toks[i + 1] = bb.b
               THEN 1 ELSE 0 END), 1) AS pos
         FROM m$r, b$r bb) s
       WHERE pos > 0),
     w$r AS MATERIALIZED (
       SELECT w, c, arg_max(toks, step) AS toks FROM m$r GROUP BY w, c)"""
    }.mkString(",\n")
    val sel = (1 to numMerges)
      .map(r => s"SELECT $r AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b$r")
      .mkString("\n UNION ALL ")
    raw"""WITH RECURSIVE
w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
    list_transform(range(1, length(w) + 1), i -> w[i]) AS toks
  FROM (SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS w
        FROM $corpus)
  GROUP BY w),
$rounds
$sel ORDER BY rank"""
  }

  /** bt2_bpe_encode oracle: DuckDB re-LEARNS the merge table (the
    * bpeTrainSql rounds verbatim), builds the rank map from its own b{r}
    * outputs, and re-ENCODES every pretoken with the f3-style
    * lowest-rank-leftmost recursive walk — the full tokenizer lifecycle
    * (train → encode) independently re-derived end to end.
    */
  private def bpeEncodeSql(numMerges: Int): String = {
    val trainSql = bpeTrainSql(numMerges)
    val ctes = trainSql
      .stripPrefix("WITH RECURSIVE\n")
      .split("\n(?=SELECT 1 AS rank)").head.trim.stripSuffix(",")
    val mtUnion = (1 to numMerges)
      .map(r => s"SELECT $r AS rnk, a, b FROM b$r").mkString(" UNION ALL ")
    val pair = "toks[i] || ' ' || toks[i + 1]"
    val bi = "CAST(best % 1000000000000 AS INT)"
    raw"""WITH RECURSIVE
$ctes,
mt AS MATERIALIZED (
  SELECT MAP(list(a || ' ' || b ORDER BY rnk), list(rnk ORDER BY rnk)) AS mm
  FROM ($mtUnion)),
pts AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS w
  FROM documents),
wcnt AS (SELECT doc_id, w, COUNT(*) AS c FROM pts GROUP BY 1, 2),
wenc AS (SELECT DISTINCT w FROM pts),
enc_walk AS (
  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i]) AS toks,
    0 AS step
  FROM wenc
  UNION ALL
  SELECT w,
    toks[1:$bi - 1] || [toks[$bi] || toks[$bi + 1]] || toks[$bi + 2:],
    step + 1
  FROM (
    SELECT w, toks, step,
      list_min([
        CASE WHEN len(element_at(mm, $pair)) > 0
          THEN element_at(mm, $pair)[1] * 1000000000000 + i END
        FOR i IN range(1, len(toks))]) AS best
    FROM enc_walk, mt) s
  WHERE best IS NOT NULL),
wtok AS (SELECT w, len(arg_max(toks, step)) AS n FROM enc_walk GROUP BY w),
agg AS (
  SELECT wc.doc_id, SUM(wc.c * wt.n) AS n
  FROM wcnt wc JOIN wtok wt ON wt.w = wc.w GROUP BY 1)
SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id"""
  }

  /** bt3_bpe_vocab oracle: re-learn (bpeTrainSql rounds), then base ids
    * from the ranked distinct corpus symbols, merge ids appended in rank
    * order.
    */
  private def bpeVocabSql(numMerges: Int): String = {
    val trainSql = bpeTrainSql(numMerges)
    val ctes = trainSql
      .stripPrefix("WITH RECURSIVE\n")
      .split("\n(?=SELECT 1 AS rank)").head.trim.stripSuffix(",")
    val mtUnion = (1 to numMerges)
      .map(r => s"SELECT $r AS rnk, a, b FROM b$r").mkString(" UNION ALL ")
    raw"""WITH RECURSIVE
$ctes,
vbase AS (
  SELECT DISTINCT tok AS token FROM (SELECT unnest(toks) AS tok FROM w0)),
vbi AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
  FROM vbase),
vm AS (SELECT rnk, a || b AS token FROM ($mtUnion))
SELECT CAST(token_id AS BIGINT) AS token_id, token, 'base' AS kind FROM vbi
UNION ALL
SELECT (SELECT COUNT(*) FROM vbase) + rnk - 1, token, 'merge' FROM vm
ORDER BY token_id"""
  }

  /** Shared CTE list + per-doc select of the rouge-ngram oracle (used by
    * eval_rouge_ngram and the stats wrapper eval_stats_ngram).
    */
  /** The ROUGE-1/2 chain from a rel named `pairs` (doc_id, gen, ref) —
    * shared by eval_rouge_ngram (token-slice pairing) and q7 (real
    * summarizer outputs on a composite doc key).
    */
  private val rougeChainCtes: String =
    """tok AS (
           SELECT doc_id,
             regexp_extract_all(lower(gen), '[\p{L}\p{N}]+') AS gt,
             regexp_extract_all(lower(ref), '[\p{L}\p{N}]+') AS rt
           FROM pairs),
         grams AS (
           SELECT doc_id, gt, rt,
             CASE WHEN len(gt) >= 2 THEN list_transform(generate_series(1, len(gt)-1),
               k -> gt[k] || ' ' || gt[k+1]) ELSE [] END AS g2,
             CASE WHEN len(rt) >= 2 THEN list_transform(generate_series(1, len(rt)-1),
               k -> rt[k] || ' ' || rt[k+1]) ELSE [] END AS r2
           FROM tok),
         u1 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(gt) AS tok FROM grams) GROUP BY 1, 2),
         v1 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(rt) AS tok FROM grams) GROUP BY 1, 2),
         o1 AS (SELECT doc_id, SUM(least(u1.c, v1.c)) AS ov FROM u1 JOIN v1 USING (doc_id, tok) GROUP BY 1),
         u2 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(g2) AS tok FROM grams) GROUP BY 1, 2),
         v2 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(r2) AS tok FROM grams) GROUP BY 1, 2),
         o2 AS (SELECT doc_id, SUM(least(u2.c, v2.c)) AS ov FROM u2 JOIN v2 USING (doc_id, tok) GROUP BY 1),
         lens AS (SELECT doc_id, len(gt) AS gc1, len(rt) AS rc1, len(g2) AS gc2, len(r2) AS rc2 FROM grams)"""

  /** ta18's full NB replay — shared verbatim by `ta18_nb_classifier`
    * (batch aggregate) and `stream_classify` (collected-model per-row
    * scorer): both must reproduce this SQL exactly.
    */
  private val ta18NbSql: String =
    """WITH tok AS (
           SELECT doc_id, source AS cls,
             UNNEST(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
           FROM documents),
         vocab AS (
           SELECT tok FROM (
             SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1
             ORDER BY c DESC, tok LIMIT 512)),
         vt AS (SELECT t.doc_id, t.cls, t.tok FROM tok t JOIN vocab USING (tok)),
         cls AS (SELECT source AS cls, COUNT(*) AS dc FROM documents GROUP BY 1),
         nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         ctok AS (SELECT cls, tok, COUNT(*) AS n FROM vt GROUP BY 1, 2),
         tc AS (SELECT cls, SUM(n) AS tc FROM ctok GROUP BY 1),
         model AS (
           SELECT g.cls, g.tok,
             CAST(round(round(ln((COALESCE(ct.n, 0) + 1)
               / CAST(t.tc + v.v AS DOUBLE)), 6) * 1000000) AS BIGINT) AS lpm
           FROM (SELECT c.cls, vb.tok FROM cls c CROSS JOIN vocab vb) g
           LEFT JOIN ctok ct ON g.cls = ct.cls AND g.tok = ct.tok
           JOIN tc t ON g.cls = t.cls, v),
         prior AS (
           SELECT cls,
             CAST(round(round(ln(dc / n), 6) * 1000000) AS BIGINT) AS pm
           FROM cls, nd),
         dtok AS (SELECT doc_id, tok, COUNT(*) AS dn FROM vt GROUP BY 1, 2),
         contrib AS (
           SELECT dt.doc_id, m.cls, SUM(dt.dn * m.lpm) AS s
           FROM dtok dt JOIN model m USING (tok) GROUP BY 1, 2),
         scored AS (
           SELECT d.doc_id, d.source, p.cls, p.pm + COALESCE(c.s, 0) AS sm
           FROM documents d CROSS JOIN prior p
           LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.cls = p.cls),
         best AS (
           SELECT doc_id, source, cls, sm,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY sm DESC, cls) AS rn
           FROM scored)
         SELECT doc_id, source, cls AS pred_source, sm / 1e6 AS score
         FROM best WHERE rn = 1 ORDER BY doc_id"""

  private val rougeNgramCtes: String =
    s"${tokenSlicePairsCte()},\n$rougeChainCtes"

  private val rougeNgramSelect: String =
    """         SELECT l.doc_id,
           round(CASE WHEN gc1 = 0 OR rc1 = 0 OR coalesce(o1.ov, 0) = 0 THEN 0.0
             ELSE 2.0 * (o1.ov * 1.0 / gc1) * (o1.ov * 1.0 / rc1)
                  / ((o1.ov * 1.0 / gc1) + (o1.ov * 1.0 / rc1)) END, 4) AS rouge1_f,
           round(CASE WHEN gc2 = 0 OR rc2 = 0 OR coalesce(o2.ov, 0) = 0 THEN 0.0
             ELSE 2.0 * (o2.ov * 1.0 / gc2) * (o2.ov * 1.0 / rc2)
                  / ((o2.ov * 1.0 / gc2) + (o2.ov * 1.0 / rc2)) END, 4) AS rouge2_f
         FROM lens l LEFT JOIN o1 ON l.doc_id = o1.doc_id
                     LEFT JOIN o2 ON l.doc_id = o2.doc_id"""

  /** G6/G9 stats formulas over the rouge-ngram rows (mirrors
    * Metrics.summaryStats: decimal-exact mean, population std via
    * sum/sumSq, r4 everywhere).
    */
  private def rougeStatsSql: String = {
    def block(c: String) =
      s"""SELECT '$c' AS metric,
         round(${exactSumSql(c)} / COUNT(*), 4) AS mean,
         round(sqrt(greatest(
           (${exactSumSql(s"$c * $c")}
            - ${exactSumSql(c)} * ${exactSumSql(c)} / CAST(COUNT(*) AS DOUBLE))
           / CAST(COUNT(*) AS DOUBLE), 0.0)), 4) AS std,
         round(MIN($c), 4) AS min, round(MAX($c), 4) AS max
         FROM m"""
    s"""WITH $rougeNgramCtes,
       m AS ($rougeNgramSelect)
       ${block("rouge1_f")}
       UNION ALL
       ${block("rouge2_f")}
       ORDER BY metric"""
  }

  /** The lineitem columns the stats oracles profile. */
  private val StatsCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")

  /** The per-column stats rows of ANALYZE over `rel`: row and null
    * counts, min/max rendered as VARCHAR in both engines, then the
    * `ndv(column)` column(s); one row per column, ordered by name.
    */
  private def columnStatsSql(rel: String, cols: Seq[String],
      ndv: String => String): String =
    cols.map(c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
    CAST(MIN($c) AS VARCHAR) AS min_value,
    CAST(MAX($c) AS VARCHAR) AS max_value,
    ${ndv(c)}
  FROM $rel""").mkString("", "\n  UNION ALL\n", "\n  ORDER BY column_name")

  /** TextAnalysis.normalizeText over `text`: NFC, then the control and
    * zero-width characters stripped (SQL string literals are raw, so the
    * regex escapes reach RE2 verbatim).
    */
  private val normalizeTextSql: String =
    """regexp_replace(regexp_replace(nfc_normalize(text),
         '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
         '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g')"""

  /** ta19's derived-page template + full extraction chain as CTEs ending
    * in `xs4(doc_id, h, t)` — h = the raw page, t = the extracted text.
    * Shared verbatim by the ta19 oracle and the stream_ccingest oracle
    * (patterns interpolated from the TextAnalysis constants).
    */
  private def htmlExtractCtes(src: String = "documents"): String = {
    import graft.operators.TextAnalysis.{HtmlBlockCloseRe, HtmlCommentRe,
      HtmlNlRunRe, HtmlNlSpaceRe, HtmlOuterWsRe, HtmlScriptRe,
      HtmlSpaceRunRe, HtmlStyleRe, HtmlTagRe, HtmlTitleRe}
    s"""xhtml AS (
       SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style type="text/css">body { color: #fff; }' ||
         '</style><script type="text/javascript">var x = 1; ' ||
         'if (x < 2) { x = "a&b"; }</script></head><body><!-- nav ' ||
         CAST(doc_id AS VARCHAR) ||
         ' --><div id="nav"><ul><li><a href="/home">Home</a></li>' ||
         '<li><a href="/about">About&nbsp;Us</a></li></ul></div>' ||
         '<h1>Corpus</h1><p>' || coalesce(text, '') ||
         '</p><p>Fish &amp; Chips say &quot;hi&quot; to ' ||
         '&lt;b&gt;bold&lt;/b&gt;</p><br/></body></html>' AS h
       FROM $src),
     xs1 AS (
       SELECT doc_id, h,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
           '$HtmlCommentRe', '', 'g'),
           '$HtmlScriptRe', '', 'g'),
           '$HtmlStyleRe', '', 'g'),
           '$HtmlTitleRe', '', 'g') AS t
       FROM xhtml),
     xs2 AS (
       SELECT doc_id, h,
         regexp_replace(regexp_replace(t,
           '$HtmlBlockCloseRe', chr(10), 'g'),
           '$HtmlTagRe', '', 'g') AS t
       FROM xs1),
     xs3 AS (
       SELECT doc_id, h,
         replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&quot;', '"'), '&lt;', '<'), '&gt;', '>'),
           '&amp;', '&') AS t
       FROM xs2),
     xs4 AS (
       SELECT doc_id, h,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
           '$HtmlSpaceRunRe', ' ', 'g'),
           '$HtmlNlSpaceRe', chr(10), 'g'),
           '$HtmlNlRunRe', chr(10) || chr(10), 'g'),
           '$HtmlOuterWsRe', '', 'g') AS t
       FROM xs3)"""
  }

  private def qualitySql: String = {
    val en = TextAnalysis.StopwordMarkers("en").map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       ${tok("text")} AS n_tokens,
       length(text) AS n_chars,
       round(CASE WHEN ${tok("text")} = 0 THEN 0.0
         ELSE length(regexp_replace(text, '\\s', '', 'g')) * 1.0 / ${tok("text")} END, 4) AS avg_word_len,
       round(CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / length(text) END, 4) AS punct_ratio,
       round(CASE WHEN ${tok("text")} = 0 THEN 0.0
         ELSE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> list_contains([$en], x))) * 1.0 / ${tok("text")} END, 4) AS stopword_ratio,
       round(CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0 / length(text) END, 4) AS upper_ratio
       FROM documents ORDER BY doc_id"""
  }

  /** DuckDB mirror of [[TextAnalysis.gopherRules]] — same token/line
    * derivations, ratios on the same grid, same thresholds.
    */
  private def gopherSql: String = {
    val stops = TextAnalysis.GopherStopwords
      .map(w => s"CAST(list_contains(lt, '$w') AS INT)").mkString(" + ")
    s"""WITH pl AS (
       SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
           THEN ' the be to of and that have with' ELSE '' END AS text
       FROM documents),
     g AS (
       SELECT doc_id,
         ${tok("text")} AS n_words,
         string_split_regex(trim(text), '\\s+') AS toks,
         string_split_regex(lower(trim(text)), '\\s+') AS lt,
         string_split(text, chr(10)) AS lines,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         (length(text) - length(regexp_replace(text, '#', '', 'g')))
           + (length(text) - length(regexp_replace(text, '…', '', 'g')))
           + CAST((length(text)
               - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
             AS BIGINT) AS nsym
       FROM pl),
     s AS (
       SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN 0.0 ELSE nonspace * 1.0 / n_words END AS mean_word_len,
         CASE WHEN n_words = 0 THEN 0.0 ELSE nsym * 1.0 / n_words END AS symbol_ratio,
         CASE WHEN len(lines) = 0 THEN 0.0 ELSE
           len(list_filter(lines, l -> ends_with(rtrim(l), '...')
             OR ends_with(rtrim(l), '…'))) * 1.0 / len(lines) END AS ellipsis_line_ratio,
         CASE WHEN len(lines) = 0 THEN 0.0 ELSE
           len(list_filter(lines, l -> starts_with(ltrim(l), '-')
             OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')
             OR starts_with(ltrim(l), '‣') OR starts_with(ltrim(l), '▪')))
           * 1.0 / len(lines) END AS bullet_line_ratio,
         CASE WHEN n_words = 0 THEN 0.0 ELSE
           len(list_filter(toks, w -> regexp_matches(w, '[\\p{L}]')))
           * 1.0 / n_words END AS alpha_word_ratio,
         CAST($stops AS INT) AS stop_hits
       FROM g)
     SELECT doc_id, n_words,
       round(mean_word_len, 4) AS mean_word_len,
       round(symbol_ratio, 4) AS symbol_ratio,
       round(ellipsis_line_ratio, 4) AS ellipsis_line_ratio,
       round(bullet_line_ratio, 4) AS bullet_line_ratio,
       round(alpha_word_ratio, 4) AS alpha_word_ratio,
       stop_hits,
       CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS pass_words,
       CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) AS pass_word_len,
       CAST(symbol_ratio <= 0.1 AS INT) AS pass_symbol,
       CAST(ellipsis_line_ratio <= 0.3 AS INT) AS pass_ellipsis,
       CAST(bullet_line_ratio <= 0.9 AS INT) AS pass_bullet,
       CAST(alpha_word_ratio >= 0.8 AS INT) AS pass_alpha,
       CAST(stop_hits >= 2 AS INT) AS pass_stopwords,
       CAST(n_words >= 50 AND n_words <= 100000
         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         AND symbol_ratio <= 0.1 AND ellipsis_line_ratio <= 0.3
         AND bullet_line_ratio <= 0.9 AND alpha_word_ratio >= 0.8
         AND stop_hits >= 2 AS INT) AS gopher_pass
     FROM s ORDER BY doc_id"""
  }

  /** DuckDB mirror of the ta14 planted-URL corpus + [[TextAnalysis
    * .urlSignals]] extraction + blocklist gate.
    */
  private def urlFilterSql: String =
    s"""WITH p AS (
       SELECT doc_id, lower(text || ' see https://' || source || '.example.'
           || (['com','org','net'])[CAST(doc_id % 3 AS INT) + 1]
           || '/p/' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 7 = 0
                THEN ' http://tracker.spam.bad/x' || CAST(doc_id AS VARCHAR)
                ELSE '' END) AS t
       FROM documents),
     u AS (
       SELECT doc_id,
         regexp_extract_all(t, 'https?://[a-z0-9.-]+[a-z0-9](/[^\\s]*)?', 0) AS urls
       FROM p),
     h AS (
       SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls,
         list_sort(list_distinct(list_transform(urls,
           x -> regexp_extract(x, 'https?://([a-z0-9.-]+[a-z0-9])', 1)))) AS hosts
       FROM u)
     SELECT doc_id, n_urls,
       array_to_string(hosts, ',') AS hosts_csv,
       CAST(len(list_filter(hosts, x -> x = 'spam.bad'
         OR ends_with(x, '.spam.bad'))) > 0 AS INT) AS blocked
     FROM h ORDER BY doc_id"""

  private def langIdSql: String = s"${langIdSqlOn("documents")} ORDER BY doc_id"

  /** The ta2 lang-ID SELECT (no ORDER BY) parameterized on the source
    * relation — reused verbatim as a CTE inside the pipe_ccnet oracle.
    */
  private def langIdSqlOn(rel: String): String = {
    val langs = TextAnalysis.StopwordMarkers.keys.toSeq.sorted
    def hits(l: String) = {
      val words = TextAnalysis.StopwordMarkers(l).map(s => s"'$s'").mkString(", ")
      s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> list_contains([$words], x)))"
    }
    val hitCols = langs.map(l => s"${hits(l)} AS hits_$l").mkString(", ")
    val maxExpr = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val caseExpr = langs.map(l => s"WHEN hits_$l = m THEN '$l'").mkString(" ")
    s"""SELECT doc_id,
       CASE WHEN m <= 0 THEN 'und' $caseExpr END AS lang_pred,
       ${langs.map(l => s"hits_$l").mkString(", ")}
       FROM (SELECT doc_id, $hitCols, $maxExpr AS m FROM $rel)"""
  }

  private def textAnalysisEntries: Seq[(String, Entry)] = Seq(
    "ta1_quality" -> Entry(ta1Quality(_, _), Some(qualitySql)),
    "ta2_lang_id" -> Entry(ta2LangId(_, _), Some(langIdSql)),
    "ta3_token_stats" -> Entry(ta3TokenStats(_, _), Some(
      s"""SELECT doc_id, ${tok("text")} AS ws_tokens,
         len(regexp_extract_all(text, '[\\p{L}]+')) AS alpha_runs,
         len(regexp_extract_all(text, '[0-9]+')) AS digit_runs,
         len(regexp_extract_all(text, '[[:punct:]]')) AS punct_marks,
         len(regexp_extract_all(text, '[\\p{L}]+')) + len(regexp_extract_all(text, '[0-9]+'))
           + len(regexp_extract_all(text, '[[:punct:]]')) AS bpe_estimate
         FROM documents ORDER BY doc_id""")),
    // 60-bit md5 content hash of the normalized token stream — same
    // tokenization as eval_rouge_ngram's, same hex-parse as the minhash
    // family
    "ta4_fingerprint" -> Entry(ta4Fingerprint(_, _), Some(
      """SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(
           regexp_extract_all(lower(text), '[\p{L}\p{N}]+'), ' ')), 1, 15)) AS BIGINT)
           AS fingerprint
         FROM documents ORDER BY doc_id""")),
    // corpus vocabulary: same tokenization as the fingerprint family
    "ta5_vocab" -> Entry(ta5Vocab(_, _), Some(
      """WITH t AS (
           SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
           FROM documents)
         SELECT COUNT(DISTINCT tok) AS vocab_size, COUNT(*) AS n_tokens,
           round(COUNT(DISTINCT tok) * 1.0 / COUNT(*), 4) AS type_token_ratio
         FROM t""")),
    // ta5b: the exact stats reproduce in SQL; the HLL bound is asserted as
    // a constant because a correct sketch at rsd=2% sits far inside the 5%
    // tolerance — a broken estimator flips the flag and fails the hash
    "ta5b_vocab_hll" -> Entry(ta5bVocabHll(_, _), Some(
      """WITH t AS (
           SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
           FROM documents)
         SELECT COUNT(DISTINCT tok) AS vocab_size, COUNT(*) AS n_tokens,
           TRUE AS hll_ok
         FROM t""")),
    // ta15: exact heavy hitters — the SQL replay recomputes every token
    // with count > n/50; a Misra-Gries candidate pass that dropped a true
    // heavy would leave the Spark output short a row and break the hash
    "ta15_heavy_hitters" -> Entry(ta15HeavyHitters(_, _), Some(
      """WITH t AS (
           SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
           FROM documents),
         n AS (SELECT COUNT(*) AS n_total FROM t),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1)
         SELECT tok AS token, cnt, round(cnt * 1.0 / n_total, 4) AS freq
         FROM c, n WHERE cnt * 50 > n_total ORDER BY cnt DESC, token""")),
    // ta7: the same RE2-compatible regex constants drive both engines (no
    // drift possible); counts on the original text, replacement order
    // email -> phone -> ip
    "ta7_pii_redact" -> Entry(ta7PiiRedact(_, _), Some {
      import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH pii AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or +84 90 123 45' || CAST(doc_id AS VARCHAR) ||
             ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '$EmailRe', '<EMAIL>', 'g'),
             '$PhoneRe', '<PHONE>', 'g'),
             '$Ipv4Re', '<IP>', 'g') AS text_redacted,
           CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS INT) AS n_ips
         FROM pii ORDER BY doc_id"""
    }),
    // ta19: the HTML template and every regex/replace stage replayed
    // verbatim (the shared htmlExtractCtes fragment — also composed into
    // the stream_ccingest oracle)
    "ta19_html_extract" -> Entry(ta19HtmlExtract(_, _), Some {
      import graft.operators.TextAnalysis.{HtmlLinkRe, HtmlTagRe}
      s"""WITH ${htmlExtractCtes()}
         SELECT doc_id, t AS clean_text,
           CAST(len(regexp_extract_all(h, '$HtmlTagRe')) AS INT) AS n_tags,
           CAST(len(regexp_extract_all(h, '$HtmlLinkRe')) AS INT) AS n_links,
           CASE WHEN length(h) = 0 THEN 0.0
             ELSE round(length(t) * 1.0 / length(h), 4) END AS text_ratio
         FROM xs4 ORDER BY doc_id"""
    }),
    // ta9: normalizeTextSql over injected NFD, control and zero-width chars
    "ta9_normalize" -> Entry(ta9Normalize(_, _), Some(
      s"""WITH inj AS (
           SELECT doc_id,
             substr(text, 1, 40) || ' cafe' || chr(769) || chr(7) || chr(8203)
               || ' fin' AS text
           FROM documents),
         n AS (SELECT doc_id, text, $normalizeTextSql AS norm_text FROM inj)
         SELECT doc_id, norm_text, norm_text <> text AS changed
         FROM n ORDER BY doc_id""")),
    // ta12: Spark exact percentile and DuckDB quantile_cont share the
    // (1-g)*a[k] + g*a[k+1] interpolation at rank p*(n-1)
    "ta12_length_stats" -> Entry(ta12LengthStats(_, _), Some(
      s"""WITH d AS (SELECT CAST(${tok("text")} AS BIGINT) AS n FROM documents)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(CAST(n AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)
             / COUNT(*), 4) AS mean_tokens,
           round(quantile_cont(n, 0.5), 4) AS p50,
           round(quantile_cont(n, 0.9), 4) AS p90,
           round(quantile_cont(n, 0.99), 4) AS p99,
           MAX(n) AS max_tokens
         FROM d""")),
    // ta12b: the GK sketch's rank-error contract holds under any merge
    // order — the flags are layout-independent even though the estimate
    // itself is not
    "ta12b_length_approx" -> Entry(ta12bLengthApprox(_, _), Some(
      "SELECT 1 AS p50_ok, 1 AS p90_ok, 1 AS p99_ok")),
    // ta16: both count tables re-trained in SQL (bigramLmCtes); the 4dp
    // mean is integer HALF-UP on micro-units (lp is on the 6dp grid) —
    // round(double) diverges between engines on exact 4dp halves.
    "ta16_bigram_logprob" -> Entry(ta16BigramLogprob(_, _), Some(
      s"""WITH ${bigramLmCtes("documents")}
         SELECT doc_id, n_bigrams, $lmAvgExpr AS avg_logprob
         FROM lm ORDER BY doc_id""")),
    // ta17: the ta16 LM replay + NTILE(3) per source over the identical
    // (avg_logprob DESC, doc_id) total order — both engines implement
    // SQL-standard ntile (first n mod 3 buckets take the extra row)
    "ta17_ppl_buckets" -> Entry(ta17PplBuckets(_, _), Some(
      s"""WITH ${bigramLmCtes("documents")},
         $lmMeanCte,
         ranked AS (
           SELECT lm2.doc_id, d.source AS domain, lm2.n_bigrams,
             lm2.avg_logprob,
             NTILE(3) OVER (PARTITION BY d.source
               ORDER BY lm2.avg_logprob DESC, lm2.doc_id) AS tercile
           FROM lm2 JOIN documents d ON lm2.doc_id = d.doc_id)
         SELECT doc_id, domain, n_bigrams, avg_logprob, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM ranked ORDER BY doc_id""")),
    "cls1_cg_weights" -> Entry(cls1CgWeights(_, _), Some(OracleSqlGen.cls1WeightsSql())),
    "cls1_cg_scores" -> Entry(cls1CgScores(_, _), Some(OracleSqlGen.cls1ScoresSql())),
    "cls1_cg_eval" -> Entry(cls1CgEval(_, _), Some(OracleSqlGen.cls1EvalSql())),
    "pipe_curation_trained" -> Entry(pipeCurationTrained(_, _),
      Some(OracleSqlGen.pipeCurationTrainedSql())),
    // cls1: the trained linear quality classifier with its TRAINING
    // replayed — hashed-presence features, b = X'y/n, and eight unrolled
    // conjugate-gradient steps on the decimal(38,10) grid (the exactSum
    // contract makes every distributed sum order-free, and CG has no
    // transcendentals, so the optimization loop itself hash-checks).
    // ta15b: sketch build + probe replayed — salted md5 cells, integer
    // counters, min over depth rows; est >= exact is visible per row.
    "ta15b_heavy_hitters_cms" -> Entry(ta15bHeavyHittersCms(_, _), Some("""
WITH tk AS (
  SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
  FROM documents),
pairs AS (
  SELECT u.r,
    CAST(('0x' || substr(md5('cms' || u.r || ':' || tok), 1, 15)) AS BIGINT)
      % 256 AS cell
  FROM tk, LATERAL UNNEST(generate_series(0, 3)) AS u(r)),
sk AS (SELECT r, cell, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
ex AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact FROM tk GROUP BY 1
  HAVING COUNT(*) >= 100),
pr AS (
  SELECT ex.tok, ex.exact, u.r,
    CAST(('0x' || substr(md5('cms' || u.r || ':' || ex.tok), 1, 15)) AS BIGINT)
      % 256 AS cell
  FROM ex, LATERAL UNNEST(generate_series(0, 3)) AS u(r)),
est AS (
  SELECT pr.tok, pr.exact, MIN(sk.c) AS est
  FROM pr JOIN sk USING (r, cell) GROUP BY 1, 2)
SELECT tok AS token, est, exact, est - exact AS overcount
FROM est ORDER BY exact DESC, token""")),
    // ta20: the JS/TV shard-drift monitor replayed — md5 buckets,
    // micro-nat-snapped logs, decimal-exact sums (all established
    // parity conventions), so the whole report hash-checks.
    "ta20_shard_drift" -> Entry(ta20ShardDrift(_, _), Some("""
WITH pl AS (
  SELECT doc_id, source,
    text || CASE WHEN source = 'src3'
      THEN ' casino jackpot lotto winner bonus spins' ELSE '' END AS text
  FROM documents),
fx AS (
  SELECT source AS shard,
    CAST(('0x' || substr(md5('b:' || tok), 1, 15)) AS BIGINT) % 64 AS bucket
  FROM (SELECT source,
      unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
    FROM pl)),
sc AS (SELECT shard, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM fx GROUP BY 1, 2),
nd AS (SELECT source AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs FROM pl GROUP BY 1),
tt AS (SELECT shard, CAST(SUM(c) AS BIGINT) AS n_s FROM sc GROUP BY 1),
cbk AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cq FROM sc GROUP BY 1),
nt AS (SELECT CAST(SUM(cq) AS BIGINT) AS n_t FROM cbk),
grid AS (
  SELECT t.shard, b.bucket, t.n_s, b.cq, (SELECT n_t FROM nt) AS n_t,
    COALESCE(s.c, 0) AS c
  FROM tt t CROSS JOIN cbk b
  LEFT JOIN sc s ON s.shard = t.shard AND s.bucket = b.bucket),
term AS (
  SELECT shard, n_s, c, cq,
    CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
    CAST(cq AS DOUBLE) / CAST(n_t AS DOUBLE) AS q
  FROM grid),
ctr AS (
  SELECT shard, n_s,
    (p * (CASE WHEN c > 0
        THEN CAST(round(round(ln(p / ((p + q) / 2.0)), 6) * 1e6) AS BIGINT)
        ELSE 0 END / 1e6)) * 0.5
      + (q * (CAST(round(round(ln(q / ((p + q) / 2.0)), 6) * 1e6) AS BIGINT)
        / 1e6)) * 0.5 AS contrib,
    abs(p - q) * 0.5 AS tv
  FROM term),
agg AS (
  SELECT shard, MIN(n_s) AS n_tokens,
    round(CAST(SUM(CAST(contrib AS DECIMAL(38, 10))) AS DOUBLE), 6) AS js,
    round(CAST(SUM(CAST(tv AS DECIMAL(38, 10))) AS DOUBLE), 6) AS tv
  FROM ctr GROUP BY 1)
SELECT nd.shard, nd.n_docs, COALESCE(a.n_tokens, 0) AS n_tokens, a.js, a.tv,
  CAST(COALESCE(a.n_tokens, 0) = 0 OR a.js > 0.01 AS INT) AS drifted
FROM nd LEFT JOIN agg a USING (shard) ORDER BY shard""")),
    // s13: the z-order layout key replayed — affine long-math bucket
    // scaling (floor division, clamped) and the 16-bit Morton interleave
    // as a flat shift/mask sum; pure integer arithmetic end to end.
    "s13_zorder_stats" -> Entry(s13ZorderStats(_, _), Some(s"""
WITH $keyRangeCte,
sk AS (
  SELECT l_orderkey AS a, l_partkey AS b,
    ${zScaleSql("l_orderkey", "alo", "ahi", "sa")},
    ${zScaleSql("l_partkey", "blo", "bhi", "sb")}
  FROM lineitem),
zt AS (SELECT a, b, ${mortonSql(Seq("sa", "sb"))} AS z FROM sk)
SELECT z >> 26 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b
FROM zt GROUP BY 1 ORDER BY bucket""")),
    // s13b: the 3-way Morton key — the interleave sum is GENERATED (48
    // terms at bits=16), exactly mirroring ZOrder.interleave3's bit
    // placement (a->3i+2, b->3i+1, c->3i); 64 buckets = top 6 bits of
    // the 48-bit key
    "s13b_zorder3_stats" -> Entry(s13bZorder3Stats(_, _), Some(
      s"""WITH rg AS (
  SELECT MIN(l_orderkey) AS alo, MAX(l_orderkey) AS ahi,
    MIN(l_partkey) AS blo, MAX(l_partkey) AS bhi,
    MIN(l_suppkey) AS clo, MAX(l_suppkey) AS chi
  FROM lineitem),
sk AS (
  SELECT l_orderkey AS a, l_partkey AS b, l_suppkey AS c,
    ${zScaleSql("l_orderkey", "alo", "ahi", "sa")},
    ${zScaleSql("l_partkey", "blo", "bhi", "sb")},
    ${zScaleSql("l_suppkey", "clo", "chi", "sc")}
  FROM lineitem),
zt AS (SELECT a, b, c, ${mortonSql(Seq("sa", "sb", "sc"))} AS z FROM sk)
SELECT z >> 42 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b,
  MIN(c) AS min_c, MAX(c) AS max_c
FROM zt GROUP BY 1 ORDER BY bucket""")),
    // s13c: the Hilbert key's 16 rotation steps replay as GENERATED
    // chained CTEs — each step's (x, y, d) computed from the previous
    // step's row exactly as the Spark per-step projections do; the
    // quadrant digit (3*rx)^ry is the shared when-chain 0/1/3/2
    "s13c_hilbert_stats" -> Entry(s13cHilbertStats(_, _), Some {
      val nm1 = (1L << 16) - 1
      val steps = (15 to 0 by -1).map { i =>
        val s = 1L << i
        val ss = s * s
        val rx = s"((x & $s) > 0)"
        val ry = s"((y & $s) > 0)"
        s"""h$i AS (SELECT a, b,
  CASE WHEN NOT $ry THEN (CASE WHEN $rx THEN $nm1 - y ELSE y END)
       ELSE x END AS x,
  CASE WHEN NOT $ry THEN (CASE WHEN $rx THEN $nm1 - x ELSE x END)
       ELSE y END AS y,
  d + CAST($ss AS BIGINT) * (CASE WHEN $rx AND $ry THEN 2 WHEN $rx THEN 3
                  WHEN $ry THEN 1 ELSE 0 END) AS d
 FROM h${i + 1})"""
      }.mkString(",\n")
      s"""WITH $keyRangeCte,
sk AS (
  SELECT l_orderkey AS a, l_partkey AS b,
    ${zScaleSql("l_orderkey", "alo", "ahi", "sa")},
    ${zScaleSql("l_partkey", "blo", "bhi", "sb")}
  FROM lineitem),
h16 AS (SELECT a, b, sa AS x, sb AS y, CAST(0 AS BIGINT) AS d FROM sk),
$steps
SELECT d >> 26 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b
FROM h0 GROUP BY 1 ORDER BY bucket"""
    }),
    // dq1: each rule's violation count recomputed independently; the
    // Spark side treats a NULL predicate as a violation (coalesce false)
    // and the SQL mirrors it with NOT COALESCE(pred, FALSE)
    "dq1_expectations" -> Entry(dq1Expectations(_, _), Some("""
WITH li AS (SELECT * FROM lineitem),
rules AS (
  SELECT 'li_quantity_range' AS rule, CAST(COUNT(*) AS BIGINT) AS n_checked,
    CAST(SUM(CASE WHEN NOT COALESCE(l_quantity >= 1.0 AND l_quantity <= 50.0,
      FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM li
  UNION ALL
  SELECT 'li_price_positive', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0.0, FALSE)
      THEN 1 ELSE 0 END) AS BIGINT) FROM li
  UNION ALL
  SELECT 'li_discount_range', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN NOT COALESCE(l_discount >= 0.0 AND l_discount <= 1.0,
      FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM li
  UNION ALL
  SELECT 'li_shipdate_not_null', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM li
  UNION ALL
  SELECT 'li_orderkey_ref', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
      WHERE o.o_orderkey = li.l_orderkey) THEN 1 ELSE 0 END) AS BIGINT)
  FROM li
  UNION ALL
  SELECT 'li_unique_line', CAST(SUM(c) AS BIGINT),
    CAST(SUM(c - 1) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM li GROUP BY l_orderkey, l_linenumber))
SELECT rule, n_checked, n_violations,
  CAST(n_violations = 0 AS INT) AS pass
FROM rules ORDER BY rule""")),
    // dq2: the tag replays as the same filtered-array join; the
    // __partition_total row pins clean + quarantined = table
    "dq2_quarantine" -> Entry(dq2Quarantine(_, _), Some("""
WITH tagged AS (
  SELECT l_orderkey,
    array_to_string(list_filter(
      [CASE WHEN COALESCE(l_quantity <= 25.0, FALSE) THEN ''
            ELSE 'q25' END,
       CASE WHEN COALESCE(l_discount <= 0.05, FALSE) THEN ''
            ELSE 'disc5' END], x -> x <> ''), ',') AS failed_rules
  FROM lineitem),
bad AS (
  SELECT failed_rules, CAST(COUNT(*) AS BIGINT) AS n_rows,
    MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
  FROM tagged WHERE failed_rules <> '' GROUP BY 1)
SELECT * FROM bad
UNION ALL
SELECT '__partition_total', CAST(COUNT(*) AS BIGINT), -1, -1 FROM tagged
ORDER BY failed_rules""")),
    // stream_dq: streamed quarantine rows held VERBATIM to the batch
    // rulebook replay (train-nothing, stateless — the strongest
    // batch/stream parity: same rows, same tags, any batching)
    "stream_dq" -> Entry(streamDq(_, _), Some("""
SELECT doc_id,
  array_to_string(list_filter(
    [CASE WHEN COALESCE(n_chars >= 200, FALSE) THEN '' ELSE 'len200' END,
     CASE WHEN COALESCE(lang IN ('en','de','es','fr'), FALSE) THEN ''
          ELSE 'west' END], x -> x <> ''), ',') AS failed_rules
FROM documents
WHERE NOT COALESCE(n_chars >= 200, FALSE)
   OR NOT COALESCE(lang IN ('en','de','es','fr'), FALSE)
ORDER BY doc_id""")),
    // stream_stats: the streamed sketch rows' MERGE held verbatim to the
    // batch ANALYZE recompute on the mergeable fields (any batching);
    // union-sketch ndv gated against the exact twin (literal 1)
    "stream_stats" -> Entry(streamStats(_, _), Some(
      columnStatsSql("documents", Seq("lang", "n_chars"), _ => "1 AS ndv_ok"))),
    // stream_snapshot_ingest: the final streamed version is ALL of
    // documents, whole-row fingerprinted; the transactional wins
    // (4 versions, replay no-op, pinned isolation, stats ≡ recompute)
    // are gate literals
    "stream_snapshot_ingest" -> Entry(streamSnapshotIngest(_, _),
      Some(countXorSql("documents", DocRowKeySql, "row_xor",
      """1 AS multi_batch, 1 AS exactly_once_replay,
  1 AS pinned_isolated, 1 AS stats_current"""))),
    // s16: per-column stats recomputed independently per column; SUM
    // cast (HUGEINT), min/max rendered as VARCHAR in both engines
    "s16_table_stats" -> Entry(s16TableStats(_, _),
      Some(columnStatsSql("lineitem", StatsCols,
      c => s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv"))),
    // s16b: the HLL-NDV ANALYZE path certified against the exact twin —
    // per column: nulls/min/max verbatim-equal, ndv within 3*rsd
    "s16b_stats_gate" -> Entry(s16bTableStatsApprox(_, _),
      Some(("SELECT column_name, 1 AS nulls_ok, 1 AS ndv_ok," +
      " 1 AS minmax_ok FROM (VALUES ('l_orderkey'), ('l_partkey')," +
      " ('l_returnflag'), ('l_shipdate'), ('l_suppkey')) t(column_name)" +
      " ORDER BY column_name"))),
    // s16c: merge == recompute for the mergeable half of ANALYZE — the
    // MERGED per-partition counts/nulls/min/max are held to a DuckDB
    // from-scratch recompute (any merge drift hash-fails); the unioned
    // HLL ndv is gated against the exact twin (literal 1)
    "s16c_stats_incremental" -> Entry(s16cStatsIncremental(_, _), Some(
      columnStatsSql("lineitem", StatsCols, _ => "1 AS ndv_ok"))),
    // dq3: schema drift is pure metadata over a fixed testdata schema —
    // the planted three-axis drift (missing l_commitdate, uncontracted
    // l_tax, retyped l_quantity) replays as literals
    "dq3_schema_drift" -> Entry(dq3SchemaDrift(_, _), Some("""
SELECT * FROM (VALUES
  ('schema_extra_cols',   CAST(11 AS BIGINT), CAST(1 AS BIGINT), 0),
  ('schema_missing_cols', CAST(11 AS BIGINT), CAST(1 AS BIGINT), 0),
  ('schema_retyped_cols', CAST(10 AS BIGINT), CAST(1 AS BIGINT), 0))
  t(rule, n_checked, n_violations, pass)
ORDER BY rule""")),
    // s13d: the predicate bounds replay in pure long floor-arithmetic
    // from the key ranges; the clustered scan's count + key fingerprint
    // are anchored to the logical table, the cross-layout identity and
    // the strictly-fewer-files (<= half) pruning wins are gate literals
    "s13d_layout_skipping" -> Entry(s13dLayoutSkipping(_, _),
      Some(s"""WITH $quarterBoxCtes
${countXorSql("hit", LineitemKeySql, "key_xor",
  "1 AS rows_identical, 1 AS clustered_reads_fewer, 1 AS clustered_le_half")}""")),
    // s13e: the stats-planned pruned scan returns exactly the logical
    // predicate result (count + fingerprint anchored to the table); the
    // opened-fewer and stats≡footers wins are gate literals
    "s13e_stats_pruned_scan" -> Entry(s13eStatsPrunedScan(_, _),
      Some(s"""WITH $quarterBoxCtes
${countXorSql("hit", LineitemKeySql, "key_xor",
  "1 AS rows_identical, 1 AS opened_fewer, 1 AS stats_match_footers")}""")),
    // s13f: the optimized table is the whole logical table (count +
    // fingerprint anchored); detection-exactness and skipping-restored
    // are gate literals
    "s13f_optimize_recluster" -> Entry(s13fOptimizeRecluster(_, _),
      Some(countXorSql("lineitem", LineitemKeySql,
      "key_xor", "1 AS detected_only_appends, 1 AS skipping_restored"))),
    // s18: the snapshot-committed pruned read returns exactly the
    // logical predicate result at version 0; the structural wins
    // (opened-fewer, committed-stats ≡ footers) are gate literals
    "s18_snapshot_pruned_read" -> Entry(s18SnapshotPrunedRead(_, _),
      Some(s"""WITH $quarterBoxCtes
${countXorSql("hit", LineitemKeySql, "key_xor",
  """CAST(0 AS BIGINT) AS version,
  1 AS rows_identical, 1 AS opened_fewer, 1 AS stats_match_footers""")}""")),
    // s13h: the bloom-pruned point lookup returns exactly the logical
    // equality result (count + doc_id fingerprint; the target key is
    // data-derived as 'u' || max(doc_id)//2); the structural wins —
    // opened-fewer/quarter-bound and min/max-keeps-all on the
    // round-robin layout — are gate literals
    "s13h_bloom_pruning" -> Entry(s13hBloomPruning(_, _), Some(s"""
WITH t AS (SELECT MAX(doc_id) // 2 AS h FROM documents),
hit AS (SELECT d.* FROM documents d, t WHERE d.doc_id = h)
${countXorSql("hit", DocIdKeySql, "key_xor",
  """1 AS rows_identical, 1 AS opened_fewer, 1 AS opened_le_quarter,
  1 AS minmax_keeps_all""")}""")),
    // s19: the optimized v2 table is the whole logical lineitem (count +
    // 4-column fingerprint anchored — v1 = base ∪ append = lineitem and
    // the gate pins v2 ≡ v1); version numbers are deterministic (fresh
    // root); the structural wins (stats replaced, merge ≡ recompute,
    // pinned-reader isolation, race-loser loud, skipping restored) are
    // gate literals
    "s19_optimize_versioned" -> Entry(s19OptimizeVersioned(_, _),
      Some(countXorSql("lineitem", LineitemKeySql, "key_xor",
      """CAST(0 AS BIGINT) AS v0, CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
  1 AS rows_identical, 1 AS stats_files_match, 1 AS merge_matches_recompute,
  1 AS pinned_v1_isolated, 1 AS race_loser_loud, 1 AS skipping_restored"""))),
    // s20: FULL oracle — DuckDB recomputes the post-CDC table from
    // scratch (base minus band deletes, band updates applied, 25 tail
    // inserts) and its per-column stats; the Spark side must land there
    // via the file-granular path (touched files only, stats rows
    // replaced). table_xor anchors whole-row content; structural wins
    // are gate literals
    "s20_cdc_versioned_stats" -> Entry(s20CdcVersionedStats(_, _), Some(s"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
final AS (
  SELECT doc_id, lang, n_chars FROM documents, mx
  WHERE NOT (doc_id % 7 = 0 AND doc_id * 4 <= m)
    AND NOT (doc_id % 7 = 3 AND doc_id * 4 <= m)
  UNION ALL
  SELECT doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
  FROM documents, mx WHERE doc_id % 7 = 3 AND doc_id * 4 <= m
  UNION ALL
  SELECT m + g.i AS doc_id, 'zz' AS lang, m + g.i AS n_chars
  FROM mx, generate_series(1, 25) g(i)),
xor_all AS (SELECT ${md5XorSql(DocRowKeySql)} AS x FROM final)
SELECT s.column_name, s.n_rows, s.n_nulls, s.min_value, s.max_value,
  (SELECT x FROM xor_all) AS table_xor,
  1 AS ndv_ok, 1 AS rows_match_apply, 1 AS untouched_stats_identical,
  1 AS files_rewritten_subset
FROM (
  SELECT 'doc_id' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_nulls,
    CAST(MIN(doc_id) AS VARCHAR) AS min_value,
    CAST(MAX(doc_id) AS VARCHAR) AS max_value
  FROM final
  UNION ALL
  SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
  FROM final) s
ORDER BY s.column_name""")),
    // s21: the unified post-evolution read replays exactly — row count
    // and doc_id fingerprint over ALL documents, the added column null
    // exactly on the pre-evolution slice, its sum the replayed pure
    // function over the new slice; acceptance/rejection and lazy-stats
    // wins are gate literals
    "s21_schema_evolution" -> Entry(s21SchemaEvolution(_, _),
      Some(countXorSql("documents", DocIdKeySql, "key_xor",
      """CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS BIGINT)
    AS n_quality_nulls,
  CAST((SELECT SUM(n_chars % 100) FROM documents WHERE doc_id % 5 = 0)
    AS BIGINT) AS quality_sum,
  CAST(1 AS BIGINT) AS version,
  1 AS contract_pass, 1 AS evolution_accepted,
  1 AS bad_evolution_rejected, 1 AS stats_lazy_ok"""))),
    // s22: FULL oracle — the version diff's per-op rows are a pure
    // function of `documents` (deletes carry the original payload,
    // updates the new one, inserts the deterministic tail); the inverse
    // property (applyChangelog(v0, diff) ≡ v1), file-granular skip and
    // self-diff emptiness are gate literals
    "s22_version_diff" -> Entry(s22VersionDiff(_, _), Some(s"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
ops AS (
  SELECT 'delete' AS op, doc_id, lang, n_chars
  FROM documents, mx WHERE doc_id % 7 = 0 AND doc_id * 4 <= m
  UNION ALL
  SELECT 'update' AS op, doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
  FROM documents, mx WHERE doc_id % 7 = 3 AND doc_id * 4 <= m
  UNION ALL
  SELECT 'insert' AS op, m + g.i AS doc_id, 'zz' AS lang,
    m + g.i AS n_chars
  FROM mx, generate_series(1, 25) g(i))
SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
  ${md5XorSql(DocRowKeySql)}
    AS payload_xor,
  1 AS roundtrip_ok, 1 AS delta_files_skipped, 1 AS self_diff_empty
FROM ops GROUP BY op ORDER BY op""")),
    // s26: the compacted current version is ALL of documents (count +
    // whole-row fingerprint); the zero-re-sketch and manifest-merge
    // wins are gate literals
    "s26_compact_versioned" -> Entry(s26CompactVersioned(_, _),
      Some(countXorSql("documents", DocRowKeySql, "row_xor",
      """1 AS files_5_to_2, 1 AS rows_identical,
  1 AS merged_row_matches_resketch, 1 AS carried_stats_identical,
  1 AS pinned_intact, 1 AS second_compact_noop"""))),
    // s25: FULL oracle — the four-batch changelog stream lands on a
    // pure function of documents: slices %4 in {0,1,2} inserted, the
    // low-quarter %7=3 band updated, the top-quarter %11=0 band
    // deleted; structural wins are gate literals
    "s25_cdc_ingest" -> Entry(s25CdcIngest(_, _), Some(s"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
final AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 3 AND doc_id * 4 <= m THEN 'xx'
         ELSE lang END AS lang,
    CASE WHEN doc_id % 7 = 3 AND doc_id * 4 <= m THEN n_chars + 1000
         ELSE n_chars END AS n_chars
  FROM documents, mx
  WHERE doc_id % 4 <> 3
    AND NOT (doc_id % 11 = 0 AND doc_id * 4 > 3 * m)
  UNION ALL
  SELECT m + g.i AS doc_id, 'zz' AS lang, m + g.i AS n_chars
  FROM mx, generate_series(1, 25) g(i))
${countXorSql("final", DocRowKeySql, "row_xor",
  """1 AS four_versions, 1 AS matches_seq_apply,
  1 AS untouched_stats_identical, 1 AS replay_noop, 1 AS stats_current""")}""")),
    // s24: FULL oracle — the serializable two-writer outcome is
    // documents with A's band updates and B's band deletes, whatever
    // order the commits landed; rebase/abort/chain wins are gate
    // literals
    "s24_optimistic_merge" -> Entry(s24OptimisticMerge(_, _), Some(s"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
final AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 3 AND doc_id * 4 <= m THEN 'xx'
         ELSE lang END AS lang,
    CASE WHEN doc_id % 7 = 3 AND doc_id * 4 <= m THEN n_chars + 1000
         ELSE n_chars END AS n_chars
  FROM documents, mx
  WHERE NOT (doc_id % 11 = 0 AND doc_id * 4 > 3 * m))
${countXorSql("final", DocRowKeySql, "row_xor",
  "1 AS rebase_merged_both, 1 AS conflict_aborts, 1 AS version_chain_exact")}""")),
    // s23: the post-expiry current read is the full three-band union =
    // all of documents (count + doc_id fingerprint); every lifecycle
    // win (exact expiry set, loud expired read, reclaimed dirs,
    // surviving hard-linked pins, protected pointer) is a gate literal
    "s23_retention" -> Entry(s23Retention(_, _),
      Some(countXorSql("documents", DocIdKeySql, "key_xor",
      """1 AS expired_exact, 1 AS expired_read_loud, 1 AS expired_dir_reclaimed,
  1 AS pinned_survivor_intact, 1 AS pointer_never_expired"""))),
    // s17: the compaction decision replays — batch sizes are a pure
    // function of doc_id, small = under total//10; count + doc_id
    // fingerprint anchor the rewritten table to the source
    "s17_stats_compaction" -> Entry(s17StatsCompaction(_, _), Some(s"""
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
b AS (SELECT LEAST(doc_id % 32, 7) AS batch, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows,
  (SELECT ${md5XorSql(DocIdKeySql)} FROM documents) AS key_xor,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM b, t WHERE c < total // 10)
    AS n_small_batches,
  1 AS rows_identical, 1 AS files_reduced""")),
    // s13g: the string-equality and null-aware pruned reads both return
    // exactly the logical predicate result (count + doc_id fingerprint
    // anchored; target language data-derived as MIN(lang)); the
    // opened-fewer and stats ≡ footer-rule wins are gate literals
    "s13g_typed_pruning" -> Entry(s13gTypedPruning(_, _), Some(s"""
WITH t AS (SELECT MIN(lang) AS tgt FROM documents),
hit AS (SELECT d.* FROM documents d, t WHERE d.lang = tgt)
${countXorSql("hit", DocIdKeySql, "key_xor",
  """1 AS rows_identical, 1 AS opened_fewer, 1 AS stats_match_footers,
  1 AS null_rows_identical, 1 AS null_opened_fewer,
  1 AS null_stats_match_footers""")}""")),
    // ta18: the whole NB training + scoring replayed — vocabulary by the
    // (count desc, token asc) total order, Laplace-smoothed log-probs
    // snapped to 6dp and micro-unit integers (the ta16 lmMicro
    // convention), integer argmax with class-ascending tie-break.
    // stream_classify holds the serving-side per-row scorer to
    // this same SQL VERBATIM — train-batch/score-stream must be invisible
    "ta18_nb_classifier" -> Entry(ta18NbClassifier(_, _), Some(ta18NbSql)),
    // cur2: the full DSIR replay — both hashed-bigram bucket models
    // re-learned (md5 60-bit buckets, Laplace-smoothed, 6dp micro-nat
    // log-ratios), per-doc weight sum, keyed-hash Gumbel, and the
    // (key desc, doc_id asc) k-th-tuple selection threshold
    "cur2_dsir" -> Entry(cur2Dsir(_, _), Some(
      """WITH rawd AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
         tgtd AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
         rt AS (SELECT doc_id,
           regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS t FROM rawd),
         tt AS (SELECT doc_id,
           regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS t FROM tgtd),
         rb AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5('b:' || gram), 1, 15)) AS BIGINT)
               % 4096 AS bucket
           FROM (SELECT doc_id, unnest(list_concat(t,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])))
             AS gram FROM rt)),
         tb AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5('b:' || gram), 1, 15)) AS BIGINT)
               % 4096 AS bucket
           FROM (SELECT doc_id, unnest(list_concat(t,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])))
             AS gram FROM tt)),
         rc AS (SELECT bucket, COUNT(*) AS n FROM rb GROUP BY 1),
         tc AS (SELECT bucket, COUNT(*) AS n FROM tb GROUP BY 1),
         rtot AS (SELECT COUNT(*) AS tr FROM rb),
         ttot AS (SELECT COUNT(*) AS tg FROM tb),
         ratio AS (
           SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
             CAST(round(round(ln((COALESCE(tc.n, 0) + 1)
               / CAST(tg + 4096 AS DOUBLE)), 6) * 1000000) AS BIGINT)
             - CAST(round(round(ln((COALESCE(rc.n, 0) + 1)
               / CAST(tr + 4096 AS DOUBLE)), 6) * 1000000) AS BIGINT) AS lrm
           FROM tc FULL JOIN rc ON tc.bucket = rc.bucket, rtot, ttot),
         dcnt AS (SELECT doc_id, bucket, COUNT(*) AS c FROM rb GROUP BY 1, 2),
         dw AS (
           SELECT d.doc_id, CAST(SUM(d.c * r.lrm) AS BIGINT) AS wm
           FROM dcnt d JOIN ratio r USING (bucket) GROUP BY 1),
         keyed AS (
           SELECT rd.doc_id, COALESCE(dw.wm, 0) AS wm,
             dw.doc_id IS NOT NULL AS hasf,
             CAST(round(round(-ln(-ln(
               (CAST(CAST(('0x' || substr(md5('dsir:'
                  || CAST(rd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 AS DOUBLE) + 0.5e0)
               / 1152921504606846976.0e0)), 6) * 1000000) AS BIGINT) AS gm
           FROM rawd rd LEFT JOIN dw ON dw.doc_id = rd.doc_id),
         kth AS (
           SELECT key, doc_id FROM (
             SELECT wm + gm AS key, doc_id FROM keyed WHERE hasf
             ORDER BY key DESC, doc_id ASC LIMIT 100)
           ORDER BY key ASC, doc_id DESC LIMIT 1)
         SELECT k.doc_id, k.wm / 1e6 AS log_weight, k.gm / 1e6 AS gumbel,
           CAST(COALESCE(k.hasf AND ((k.wm + k.gm > kth.key)
             OR (k.wm + k.gm = kth.key AND k.doc_id <= kth.doc_id)),
             FALSE) AS INT) AS selected
         FROM keyed k LEFT JOIN kth ON TRUE ORDER BY k.doc_id""")),
    // cur3: both self-trained LMs replayed (the ta16 bigram LM, and the
    // ta11 unigram LM over its tok/uni/tot counts), exact-integer 4dp
    // means, excess = lp_bi - lp_uni, and the k-th-tuple threshold
    // expressed as its equivalent (excess DESC, doc_id ASC) rank
    "cur3_excess_loss" -> Entry(cur3ExcessLoss(_, _), Some(
      s"""WITH ${bigramLmCtes("documents")},
         ulp AS (
           SELECT doc_id, round(ln(cu / total), 6) AS lp
           FROM tok JOIN uni USING (tok), tot),
         ulm AS (
           SELECT doc_id, SUM(CAST(round(lp * 1000000) AS BIGINT)) AS s,
             CAST(COUNT(*) AS BIGINT) * 100 AS d
           FROM ulp GROUP BY 1),
         uavg AS (SELECT doc_id, $lmAvgExpr AS lp_uni FROM ulm),
         bavg AS (SELECT doc_id, $lmAvgExpr AS lp_bi FROM lm),
         x AS (
           SELECT u.doc_id, u.lp_uni, b.lp_bi,
             b.lp_bi - u.lp_uni AS excess
           FROM uavg u JOIN bavg b USING (doc_id))
         SELECT doc_id, lp_uni, lp_bi, excess,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY excess DESC, doc_id ASC)
             <= 150 THEN 1 ELSE 0 END AS selected
         FROM x ORDER BY doc_id""")),
    // ta17b: the ta16 LM replay + cut scores learned on the keyed-hash
    // half-sample (the sp2/mx1 md5-unit draw, seed "cuts") + the
    // threshold CASE — selection, cut learning, and bucketing all
    // re-derived
    "ta17b_ppl_buckets_sampled" -> Entry(ta17bPplBucketsSampled(_, _), Some(
      s"""WITH ${bigramLmCtes("documents")},
         $lmMeanCte,
         scored AS (
           SELECT lm2.doc_id, d.source AS domain, lm2.n_bigrams,
             lm2.avg_logprob
           FROM lm2 JOIN documents d ON lm2.doc_id = d.doc_id),
         samp AS (
           SELECT domain, avg_logprob,
             NTILE(3) OVER (PARTITION BY domain
               ORDER BY avg_logprob DESC, doc_id) AS t
           FROM scored
           WHERE ${md5UnitSql("cuts")} < 0.5),
         cuts AS (
           SELECT domain,
             MIN(CASE WHEN t = 1 THEN avg_logprob END) AS cut_head,
             MIN(CASE WHEN t = 2 THEN avg_logprob END) AS cut_mid
           FROM samp GROUP BY 1)
         SELECT s.doc_id, s.domain, s.n_bigrams, s.avg_logprob,
           CASE WHEN c.cut_head IS NOT NULL AND s.avg_logprob >= c.cut_head
                  THEN 'head'
                WHEN c.cut_mid IS NOT NULL AND s.avg_logprob >= c.cut_mid
                  THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM scored s LEFT JOIN cuts c ON s.domain = c.domain
         ORDER BY s.doc_id""")),
    "ta17b_gate" -> Entry(ta17bGate(_, _),
      Some("SELECT 75 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    "ta13_gopher" -> Entry(ta13Gopher(_, _), Some(gopherSql)),
    "ta14_url_filter" -> Entry(ta14UrlFilter(_, _), Some(urlFilterSql)),
    // s9: shard = rank-over-md5-order div 64; id_sum pins membership
    "s9_sharded_export" -> Entry(s9ShardedExport(_, _), Some(
      """WITH r AS (
           SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5('shard:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
               AS pos
           FROM documents)
         SELECT CAST(pos // 64 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1 ORDER BY 1""")),
    // s10: per-(domain, split) membership through the partitioned
    // write→read-back roundtrip — domain and split re-derived exactly
    "s10_partitioned_export" -> Entry(s10PartitionedExport(_, _), Some(
      s"""WITH d AS (
           SELECT doc_id, $domainSql AS domain,
             ${md5UnitSql("split")} AS u
           FROM documents)
         SELECT domain, $splitCaseSql AS split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),
    "dd10_paragraph_dedup" -> Entry(dd10ParagraphDedup(_, _), Some(
      s"""WITH $plantedBoilerCte,
         p AS (
           SELECT doc_id, ps[k] AS para, k AS pos
           FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM planted),
             LATERAL UNNEST(generate_series(1, len(ps))) AS u(k)),
         hot AS (
           SELECT md5(para) AS ph FROM p GROUP BY 1 HAVING COUNT(*) >= 10),
         kept AS (
           SELECT doc_id, para, pos FROM p
           WHERE md5(para) NOT IN (SELECT ph FROM hot)),
         agg AS (
           SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras
           FROM p GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           t.n_paras, t.n_paras - COALESCE(a.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN agg a USING (doc_id)
         ORDER BY t.doc_id""")),
    "bt1_bpe_train" -> Entry(bt1BpeTrain(_, _), Some(bpeTrainSql(8))),
    // bt1b: re-learn from the SAME keyed-hash half-sample (selection
    // predicate = the sp2/mx1 md5-unit draw, seed "bpe")
    "bt1b_bpe_train_sampled" -> Entry(bt1bBpeTrainSampled(_, _), Some(bpeTrainSql(8,
      corpus = s"(SELECT * FROM documents WHERE ${md5UnitSql("bpe")} < 0.5)"))),
    "bt2_bpe_encode" -> Entry(bt2BpeEncode(_, _), Some(bpeEncodeSql(8))),
    "bt3_bpe_vocab" -> Entry(bt3BpeVocab(_, _), Some(bpeVocabSql(8))),
    "mx2_temperature" -> Entry(mx2Temperature(_, _), Some(
      s"""WITH d AS (SELECT doc_id, $domainSql AS domain FROM documents),
         c AS (
           SELECT domain, COUNT(*) AS nd FROM d GROUP BY domain),
         t AS (
           SELECT CAST(SUM(nd) AS DOUBLE) AS ntot,
             CAST(SUM(CAST(round(pow(CAST(nd AS DOUBLE), 0.5), 9)
               AS DECIMAL(38,10))) AS DOUBLE) AS z
           FROM c),
         r AS (
           SELECT domain,
             least(1.0, round(pow(CAST(nd AS DOUBLE), 0.5), 9) / z
               * (0.5 * ntot) / CAST(nd AS DOUBLE)) AS rate
           FROM c, t)
         SELECT d.doc_id, d.domain, round(r.rate, 4) AS keep_rate
         FROM d JOIN r USING (domain)
         WHERE ${md5UnitSql("temp", "d.doc_id")} < r.rate
         ORDER BY d.doc_id""")),
    // mx3: the whole waterfall replayed — sorted-cap window with decimal
    // prefix sums, water level = share at the FIRST uncapped index
    // (arg-min by i, not min over shares), then mx1's floor+fraction
    // keyed-hash copies. Same derived skewed domain as mx2.
    "mx3_unimax" -> Entry(mx3Unimax(_, _), Some(
      s"""WITH d AS (SELECT doc_id, $domainSql AS domain FROM documents),
         c AS (
           SELECT domain, COUNT(*) AS nd,
             round(CAST(COUNT(*) AS DOUBLE) * 2.0, 9) AS cap
           FROM d GROUP BY domain),
         t AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndom FROM c),
         ranked AS (
           SELECT domain, nd, cap,
             ROW_NUMBER() OVER (ORDER BY cap, domain NULLS FIRST) AS i,
             COALESCE(SUM(CAST(cap AS DECIMAL(38,10))) OVER (
               ORDER BY cap, domain NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(38,10))) AS cumprev
           FROM c),
         shares AS (
           SELECT domain, nd, cap, i,
             (400.0 - CAST(cumprev AS DOUBLE)) /
               CAST(t.ndom - i + 1 AS DOUBLE) AS share
           FROM ranked, t),
         sstar AS (
           SELECT share AS s FROM shares WHERE cap >= share
           ORDER BY i LIMIT 1),
         r AS (
           SELECT domain,
             least(cap, COALESCE((SELECT s FROM sstar), cap))
               / CAST(nd AS DOUBLE) AS w
           FROM shares),
         base AS (
           SELECT d.doc_id, d.domain, r.w,
             ${md5UnitSql("unimax", "d.doc_id")} AS u
           FROM d JOIN r USING (domain)),
         cp AS (
           SELECT doc_id, domain, w,
             CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS INT) AS n
           FROM base)
         SELECT doc_id, domain, CAST(g.k AS INT) AS copy,
           round(w, 6) AS target_epochs
         FROM cp, LATERAL UNNEST(generate_series(1, n)) AS g(k)
         ORDER BY doc_id, copy""")),
    // ta11: corpus-ML unigram logprob; ln rounded to 6dp on both engines
    // BEFORE the order-independent decimal sum (1-ulp libm differences
    // cannot survive the 6dp grid except exactly on a .0000005 boundary)
    "ta11_logprob" -> Entry(ta11LogProb(_, _), Some(
      s"""WITH t AS (
           SELECT doc_id,
             UNNEST(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS tok
           FROM documents),
         f AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM t),
         lp AS (
           SELECT doc_id, round(ln(c / total), 6) AS lp
           FROM t JOIN f USING (tok), tot),
         lm AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(CAST(round(lp * 1000000) AS BIGINT)) AS s,
             CAST(COUNT(*) AS BIGINT) * 100 AS d
           FROM lp GROUP BY 1)
         SELECT doc_id, n_tokens, $lmAvgExpr AS avg_logprob
         FROM lm ORDER BY doc_id""")),
    "ta10_compress" -> Entry(ta10Compress(_, _)),
    // ta10_gate: deflate ratio separates planted repetition from prose
    // and stays bounded over the corpus (SQL has no deflate, so the gate
    // carries the registry-level check for the rows-only ta10)
    "ta10_gate" -> Entry(ta10Gate(_, _),
      Some("SELECT 1 AS has_rows, 1 AS ordered, 1 AS bounded")),
    // ta8: dup-line fraction + top-bigram fraction on the derived
    // multi-line corpus (first line repeated once per doc)
    "ta8_repetition" -> Entry(ta8Repetition(_, _), Some(
      """WITH base AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
           WHERE trim(text) <> ''),
         pl AS (
           SELECT doc_id, g,
                  array_to_string(toks[CAST(g*8+1 AS INT):CAST(g*8+8 AS INT)], ' ') AS piece
           FROM base, LATERAL UNNEST(generate_series(0, CAST(floor((len(toks)-1)/8.0) AS BIGINT))) AS u(g)),
         rep AS (
           SELECT doc_id,
                  string_agg(piece, chr(10) ORDER BY g) || chr(10) ||
                    MAX(CASE WHEN g = 0 THEN piece END) AS t
           FROM pl GROUP BY 1),
         lns AS (
           SELECT doc_id,
                  list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                              x -> x <> '') AS ls
           FROM rep),
         dupf AS (
           SELECT doc_id,
                  CASE WHEN len(ls) > 0
                    THEN round(1.0 - len(list_distinct(ls)) * 1.0 / len(ls), 4)
                    ELSE 0.0 END AS dup_line_frac
           FROM lns),
         tk AS (SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks FROM rep),
         bg AS (
           SELECT doc_id, toks[CAST(k AS INT)] || ' ' || toks[CAST(k+1 AS INT)] AS gram
           FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-1)) AS u(k)
           WHERE len(toks) >= 2),
         cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         agg AS (SELECT doc_id, round(MAX(c) * 1.0 / SUM(c), 4) AS top2gram_frac
                 FROM cnt GROUP BY 1)
         SELECT d.doc_id AS doc_id, d.dup_line_frac,
                COALESCE(a.top2gram_frac, 0.0) AS top2gram_frac
         FROM dupf d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY doc_id""")),
    // top-10 trigrams, deterministic (count desc, gram asc)
    "ta6_top_ngrams" -> Entry(ta6TopNgrams(_, _), Some(
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS t
           FROM documents),
         grams AS (
           SELECT t[k] || ' ' || t[k+1] || ' ' || t[k+2] AS gram
           FROM toks, LATERAL UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(k))
         SELECT gram, COUNT(*) AS n FROM grams GROUP BY gram
         ORDER BY n DESC, gram ASC LIMIT 10""")),
    "eval_rouge_ngram" -> Entry(evalRougeNgram(_, _), Some(
      s"WITH $rougeNgramCtes\n$rougeNgramSelect\nORDER BY l.doc_id")),
    // G9 mean-of-list stats over the SAME rouge-ngram metric rows:
    // exactAvg / population-std formulas (decimal-exact sums, the g6
    // pattern) held to DuckDB parity on a real metric distribution
    "eval_stats_ngram" -> Entry(evalStatsNgram(_, _), Some(rougeStatsSql)),
    // BERTScore greedy match with the md5-bucket embedder: a single-token
    // embedding is exactly +/-e_(h % 64) (h = first 60 md5 bits, sign =
    // bit 6), so cosine(tok_a, tok_b) = same bucket ? sign_a*sign_b : 0 —
    // the greedy best-match max, the P/R means and the harmonic F1 follow
    // in plain SQL with bit-identical doubles.
    "eval_bert_ngram" -> Entry(evalBertNgram(_, _), Some(
      raw"""WITH ${tokenSlicePairsCte()},
         tok AS (
           SELECT doc_id,
             regexp_extract_all(lower(gen), '[\p{L}\p{N}]+') AS gt,
             regexp_extract_all(lower(ref), '[\p{L}\p{N}]+') AS rt
           FROM pairs),
         g AS (
           SELECT doc_id, i,
             CAST(('0x' || substr(md5(gt[i]), 1, 15)) AS BIGINT) AS h
           FROM tok, LATERAL UNNEST(generate_series(1, len(gt))) AS u(i)),
         r AS (
           SELECT doc_id, j,
             CAST(('0x' || substr(md5(rt[j]), 1, 15)) AS BIGINT) AS h
           FROM tok, LATERAL UNNEST(generate_series(1, len(rt))) AS u(j)),
         gb AS (
           SELECT g.doc_id, g.i,
             MAX(CASE WHEN (g.h % 64) = (r.h % 64)
               THEN CASE WHEN ((g.h >> 6) & 1) = ((r.h >> 6) & 1)
                 THEN 1.0 ELSE -1.0 END
               ELSE 0.0 END) AS best
           FROM g JOIN r USING (doc_id) GROUP BY 1, 2),
         rb AS (
           SELECT r.doc_id, r.j,
             MAX(CASE WHEN (g.h % 64) = (r.h % 64)
               THEN CASE WHEN ((g.h >> 6) & 1) = ((r.h >> 6) & 1)
                 THEN 1.0 ELSE -1.0 END
               ELSE 0.0 END) AS best
           FROM r JOIN g USING (doc_id) GROUP BY 1, 2),
         pq AS (SELECT doc_id, SUM(best) / COUNT(*) AS p FROM gb GROUP BY 1),
         rq AS (SELECT doc_id, SUM(best) / COUNT(*) AS r FROM rb GROUP BY 1),
         m AS (
           SELECT d.doc_id, coalesce(pq.p, 0.0) AS p, coalesce(rq.r, 0.0) AS r,
             (pq.doc_id IS NULL OR rq.doc_id IS NULL) AS degenerate
           FROM documents d
             LEFT JOIN pq ON d.doc_id = pq.doc_id
             LEFT JOIN rq ON d.doc_id = rq.doc_id)
         SELECT doc_id,
           round(CASE WHEN degenerate THEN 0.0 ELSE p END, 4) AS bert_p,
           round(CASE WHEN degenerate THEN 0.0 ELSE r END, 4) AS bert_r,
           round(CASE WHEN degenerate OR p + r = 0.0 THEN 0.0
             ELSE 2.0 * p * r / (p + r) END, 4) AS bert_f
         FROM m ORDER BY doc_id""")),
    "eval_bleu_ngram" -> Entry(evalBleuNgram(_, _), Some(
      raw"""WITH ${tokenSlicePairsCte()},
         mt AS (
           SELECT doc_id,
             regexp_extract_all(lower(gen), '[\p{L}\p{N}]+') AS ct,
             regexp_extract_all(lower(ref), '[\p{L}\p{N}]+') AS rt
           FROM pairs),
         ns AS (SELECT UNNEST([1, 2, 3, 4]) AS n),
         cg AS (
           SELECT m.doc_id, ns.n,
             UNNEST(list_transform(range(1, len(m.ct) - ns.n + 2),
               i -> array_to_string(m.ct[i:i+ns.n-1], ' '))) AS gram
           FROM mt m CROSS JOIN ns),
         rg AS (
           SELECT m.doc_id, ns.n,
             UNNEST(list_transform(range(1, len(m.rt) - ns.n + 2),
               i -> array_to_string(m.rt[i:i+ns.n-1], ' '))) AS gram
           FROM mt m CROSS JOIN ns),
         cc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY 1, 2, 3),
         rcn AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY 1, 2, 3),
         mtc AS (
           SELECT cc.doc_id, cc.n,
             SUM(LEAST(cc.c, COALESCE(rcn.c, 0))) AS m, SUM(cc.c) AS t
           FROM cc LEFT JOIN rcn ON cc.doc_id = rcn.doc_id
             AND cc.n = rcn.n AND cc.gram = rcn.gram
           GROUP BY 1, 2),
         grid AS (
           SELECT m.doc_id, ns.n, len(m.ct) AS c, len(m.rt) AS r
           FROM mt m CROSS JOIN ns),
         lns AS (
           SELECT g.doc_id, g.c, g.r,
             CAST(round(round(ln((COALESCE(x.m, 0) + 1)
               / CAST(COALESCE(x.t, 0) + 1 AS DOUBLE)), 6) * 1000000)
               AS BIGINT) AS lnm
           FROM grid g LEFT JOIN mtc x ON g.doc_id = x.doc_id AND g.n = x.n),
         agg AS (
           SELECT doc_id, MAX(c) AS c, MAX(r) AS r,
             CAST(SUM(lnm) AS BIGINT) AS lnsum
           FROM lns GROUP BY 1),
         sc AS (
           SELECT doc_id,
             CASE WHEN c = 0 OR r = 0 THEN NULL
               ELSE 4 * (CASE WHEN c >= r THEN 0
                 ELSE CAST(round(round(1 - CAST(r AS DOUBLE) / c, 6)
                   * 1000000) AS BIGINT) END) + lnsum
             END AS q
           FROM agg)
         SELECT doc_id,
           CASE WHEN q IS NULL THEN 0.0
             ELSE round(exp(q / 4000000.0), 4) END AS bleu,
           q AS log_bleu_qmicro
         FROM sc ORDER BY doc_id""")),
    // M6: BLEU replay — gram tables for n=1..4, clipped-match sums,
    // 6dp micro ln-precisions, quarter-micro combined log, 4dp exp
    // eval_chrf: char-gram chrF2 replay — whitespace removed by joining
    // the token slices with '' (equivalent to the Scala \s+ strip: split
    // tokens carry no whitespace), per-order P/R micro-snapped before the
    // exact integer averages (the Bleu micro6 convention)
    "eval_chrf" -> Entry(evalChrf(_, _), Some(
      raw"""WITH ${tokenSlicePairsCte("")},
         ns AS (SELECT UNNEST([1, 2, 3, 4]) AS n),
         cg AS (
           SELECT p.doc_id, ns.n,
             UNNEST(list_transform(range(1, length(p.gen) - ns.n + 2),
               i -> substr(p.gen, CAST(i AS INT), CAST(ns.n AS INT)))) AS gram
           FROM pairs p CROSS JOIN ns),
         rgr AS (
           SELECT p.doc_id, ns.n,
             UNNEST(list_transform(range(1, length(p.ref) - ns.n + 2),
               i -> substr(p.ref, CAST(i AS INT), CAST(ns.n AS INT)))) AS gram
           FROM pairs p CROSS JOIN ns),
         cc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY 1, 2, 3),
         rcn AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rgr GROUP BY 1, 2, 3),
         mtc AS (
           SELECT cc.doc_id, cc.n, SUM(LEAST(cc.c, COALESCE(rcn.c, 0))) AS m
           FROM cc LEFT JOIN rcn ON cc.doc_id = rcn.doc_id
             AND cc.n = rcn.n AND cc.gram = rcn.gram
           GROUP BY 1, 2),
         grid AS (
           SELECT p.doc_id, ns.n,
             greatest(length(p.gen) - ns.n + 1, 0) AS ct,
             greatest(length(p.ref) - ns.n + 1, 0) AS rt
           FROM pairs p CROSS JOIN ns),
         pn AS (
           SELECT g.doc_id, g.n, g.ct, g.rt, COALESCE(x.m, 0) AS m
           FROM grid g LEFT JOIN mtc x ON g.doc_id = x.doc_id AND g.n = x.n),
         mic AS (
           SELECT doc_id,
             SUM(CASE WHEN ct > 0 THEN CAST(round(round(
               m / CAST(ct AS DOUBLE), 6) * 1000000) AS BIGINT) END) AS ps,
             COUNT(*) FILTER (WHERE ct > 0) AS pk,
             SUM(CASE WHEN rt > 0 THEN CAST(round(round(
               m / CAST(rt AS DOUBLE), 6) * 1000000) AS BIGINT) END) AS rs,
             COUNT(*) FILTER (WHERE rt > 0) AS rk
           FROM pn GROUP BY 1),
         fin AS (
           SELECT doc_id, COALESCE(ps, 0) AS a, pk * 1000000 AS ba,
             COALESCE(rs, 0) AS b, rk * 1000000 AS bb
           FROM mic)
         SELECT doc_id,
           CASE WHEN ba = 0 OR bb = 0 OR (4*a*bb + b*ba) = 0 THEN 0.0
             ELSE ((2*(5*a*b)*10000 + (4*a*bb + b*ba))
               // (2*(4*a*bb + b*ba))) / 10000.0 END AS chrf,
           CASE WHEN ba = 0 THEN 0.0
             ELSE ((2*a*10000 + ba) // (2*ba)) / 10000.0 END AS chrf_p,
           CASE WHEN bb = 0 THEN 0.0
             ELSE ((2*b*10000 + bb) // (2*bb)) / 10000.0 END AS chrf_r
         FROM fin ORDER BY doc_id""")),
    "eval_bertscore_tx" -> Entry(evalBertscoreTx(_, _)),
    "m3t_semantic_tx" -> Entry(m3tSemanticTx(_, _)),
    "m3tb_semantic_tx_lsh" -> Entry(m3tbSemanticTxLsh(_, _)),
    "m3tb_recall" -> Entry(m3tbRecall(_, _)),
    // m3tb_gate: recall floor for the LSH-routed transformer retrieval
    // (measured 1.0 at sf0.001/0.01/0.1 — ProbeTx notes the anisotropy
    // that makes sign-LSH candidate-rich on pooled transformer vectors)
    "m3tb_gate" -> Entry((s: SparkSession, d: String) =>
      recallGate(m3tbRecall(s, d), 90),
      Some("SELECT 90 AS floor_x100, 1 AS has_rows, 1 AS pass")),
    // tx_gate: the transformer-contract literal — self-BERTScore exact 1,
    // order sensitivity, near-dup beats unrelated, bit-exact determinism
    "tx_gate" -> Entry(txGate(_, _), Some(
      """SELECT 1 AS self_pass, 1 AS order_pass, 1 AS neardup_pass,
           1 AS det_pass, 1 AS has_rows""")),
    // tx_trained_gate: the committed TRAINED checkpoint beats the seeded
    // weights on the separation contract (margin lift >= 0.40, unrelated-
    // doc cosine down >= 0.40, alignment held, bit-determinism) — the
    // "quality proven" literal for the in-repo contrastive trainer
    "tx_trained_gate" -> Entry(txTrainedGate(_, _), Some(
      """SELECT 1 AS lift_pass, 1 AS aniso_pass, 1 AS align_pass,
           1 AS det_pass, 1 AS has_rows""")),
    "ss14_rerank_cross" -> Entry(ss14RerankCross(_, _)),
    // ss14_gate: retrieve-then-rerank invariants — top-5 contained in the
    // shortlist, rerank mean cross-F1 >= the bi-encoder top-5's, and
    // bit-determinism of the cross scores across model instances
    "ss14_gate" -> Entry(ss14Gate(_, _), Some(
      """SELECT 1 AS has_rows, 1 AS contained_pass, 1 AS improve_pass,
           1 AS det_pass""")),
    // CoverageJudge rubric over the eval_rouge_ngram pairing: coverage =
    // |distinct(ref toks) ∩ distinct(gen toks)| / |distinct(ref toks)|,
    // coherence = distinct/total over gen toks, pass = coverage >= 0.25
    "eval_judge_ngram" -> Entry(evalJudgeNgram(_, _), Some(
      raw"""WITH ${tokenSlicePairsCte()},
         tok AS (
           SELECT doc_id, gen,
             regexp_extract_all(lower(gen), '[\p{L}\p{N}]+') AS gt,
             list_distinct(regexp_extract_all(lower(gen), '[\p{L}\p{N}]+')) AS gset,
             list_distinct(regexp_extract_all(lower(ref), '[\p{L}\p{N}]+')) AS rset
           FROM pairs),
         m AS (
           SELECT doc_id,
             CASE WHEN len(rset) = 0 OR trim(gen) = '' THEN 0.0
               ELSE len(list_filter(rset, x -> list_contains(gset, x))) * 1.0 / len(rset)
             END AS cov,
             CASE WHEN len(gt) = 0 THEN 0.0
               ELSE len(list_distinct(gt)) * 1.0 / len(gt) END AS coh,
             trim(gen) = '' AS is_empty
           FROM tok)
         SELECT doc_id, (NOT is_empty AND cov >= 0.25) AS passed,
           round(cov, 4) AS correctness, round(coh, 4) AS coherence
         FROM m ORDER BY doc_id""")))

  // ---------------------------------------------------------------- events

  /** The events table is written with TIMESTAMP(NANOS) parquet timestamps,
    * which Spark only reads via the legacy nanos-as-long conf; `ts` then
    * arrives as a LongType of epoch-nanos and `ts div 1000` (integer div —
    * a double division would lose precision above 2^53) recovers micros.
    */
  /** Events with a normalized clock: older driver drops store `ts` as
    * int64 NANOS (readable only with nanosAsLong), newer drops as a native
    * microsecond timestamp. Emit BOTH a timestamp `ts` and long micros
    * `ts_us` so every downstream query is drop-format-independent (the r5
    * drop silently switched formats and took aj1/ev1-ev4 off the
    * correctness board — this is the permanent fix).
    */
  private def eventsTbl(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ =>
        val t = col("ts").cast("timestamp_ltz")
        raw.withColumn("ts_us", unix_micros(t)).withColumn("ts", t)
    }
  }

  /** AJ1: as-of join — every purchase event picks up the most recent
    * signup of the same user at or before it (union+window form, one
    * shuffle; oracled against DuckDB's native ASOF LEFT JOIN). Timestamps
    * compared at micro precision on both engines (the events convention —
    * see ev1/ev2).
    */
  private def aj1Asof(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    graft.operators.AsofJoin.asofJoinPrior(
      ev.filter(col("event_type") === "purchase").drop("event_type"),
      ev.filter(col("event_type") === "signup").drop("event_type"),
      keyCol = "user_id", tsCol = "ts_us", idCol = "event_id",
      rightPayload = Seq("event_id", "value"))
      .orderBy(col("event_id"))
  }

  /** AJ2: grid-binned interval join — purchases matched to every 30-minute
    * post-signup window of the same user that contains them (inclusive
    * bounds; a purchase inside two overlapping windows appears twice).
    * Oracled against DuckDB's plain inequality join — the binning must be
    * invisible in the result.
    */
  private def aj2IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
    val points = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val intervals = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("window_id"), col("user_id"),
        col("ts_us").as("w_start"),
        (col("ts_us") + 1800000000L).as("w_end"))
    graft.operators.AsofJoin.intervalJoin(points, intervals,
        "user_id", "ts_us", "w_start", "w_end", gridUs = 1800000000L)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("window_id"), col("w_start"))
      .orderBy(col("event_id"), col("window_id"))
  }

  /** EV1: tumbling-window aggregate (batch form of the streaming agg). */
  private def ev1EventWindow(spark: SparkSession, dir: String): DataFrame =
    eventsTbl(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), r4(exactSum(col("value"))).as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** AJ1b: the as-of join under a HOT KEY — the time-block-salted
    * distributed prefix scan (AsofJoin.asofJoinPriorSalted, 1-day blocks)
    * held to aj1's DuckDB ASOF JOIN oracle verbatim: identical rows,
    * skew-proof plan (the events probe's user 0 holds ~20% of the table;
    * aj1's per-key window sorts all of it in one task, this bounds tasks
    * by the key's busiest day).
    */
  private def aj1bAsofSalted(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    graft.operators.AsofJoin.asofJoinPriorSalted(
      ev.filter(col("event_type") === "purchase").drop("event_type"),
      ev.filter(col("event_type") === "signup").drop("event_type"),
      keyCol = "user_id", tsCol = "ts_us", idCol = "event_id",
      rightPayload = Seq("event_id", "value"), blockUs = 86400000000L)
      .orderBy(col("event_id"))
  }

  /** EV9: view → click → purchase funnel, 1-hour horizon from the first
    * view — per-user step timestamps + contiguous-prefix count. Strict
    * step ordering, inclusive horizon (EventOps.funnel's pinned
    * semantics); FULL oracle via cascaded min-joins.
    */
  private def ev9Funnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.funnel(eventsTbl(spark, dir),
        Seq("view", "click", "purchase"), Some(3600000000L))
      .orderBy(col("user_id"))

  /** EV10: daily cohort retention — cohort = first-activity day,
    * retention by whole-day age. FULL oracle (two aggs + two joins
    * replayed; integer div day bucketing).
    */
  private def ev10Retention(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.cohortRetention(eventsTbl(spark, dir),
        86400000000L)
      .orderBy(col("cohort"), col("age"))

  /** EV9's streaming twin run in batch mode (one group pass == one
    * micro-batch): the O(steps)-state live funnel must produce ev9's
    * answer VERBATIM — held to the same oracle (the ev2/ev3 same-SQL
    * discipline). Cross-batch state semantics are pinned in
    * StreamingSpec.
    */
  private def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.EventStreams
    val ev = eventsTbl(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id").cast("long"), col("event_type"),
        col("ts_us").cast("long"))
      .as[EventStreams.FunnelEvent]
    EventStreams.funnelStream(ev, Seq("view", "click", "purchase"),
        Some(3600000000L))
      .toDF().orderBy(col("user_id"))
  }

  /** EV2: gap-based sessionization (30-minute inactivity boundary). */
  private def ev2Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventsTbl(spark, dir)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("is_new")).over(cum).as("session_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** EV2b: sessionization under the same hot key — the time-block-salted
    * prefix-scan form (EventOps.sessionizeSalted, 1-day blocks) held to
    * ev2's flat window-cumsum oracle verbatim. Local cumsum per
    * (user, day), per-user carry over the tiny day-summary table, one
    * join back on the already-established (user, day) exchange.
    */
  private def ev2bSessionizeSalted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.sessionizeSalted(
        eventsTbl(spark, dir)
          .select(col("user_id"), col("event_id"), col("ts_us")),
        "user_id", "ts_us", "event_id",
        gapUs = 1800000000L, blockUs = 86400000000L)
      .select(col("user_id"), col("event_id"), col("session_id"))
      .orderBy(col("user_id"), col("event_id"))

  /** EV5: composed session analytics — sessionization (the salted
    * prefix-scan form, so the composition itself runs the skew-proof
    * plan) flowing into per-session aggregates: event count, span,
    * purchase count and order-independent purchase value. The canonical
    * events workload composed end to end; the oracle extends ev2's
    * window CTE with the grouping, so the session ASSIGNMENT + the
    * aggregation chain is what gets hash-checked.
    */
  private def ev5SessionStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.sessionizeSalted(
        eventsTbl(spark, dir).select(col("user_id"), col("event_id"),
          col("ts_us"), col("event_type"), col("value")),
        "user_id", "ts_us", "event_id",
        gapUs = 1800000000L, blockUs = 86400000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        r4(exactSum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)))).as("purchase_value"))
      .orderBy(col("user_id"), col("session_id"))

  /** EV3: gap sessionization via the stateful streaming operator
    * (flatMapGroupsWithState) run in batch mode — one implementation serves
    * both execution modes, and the batch run is held to the SAME oracle as
    * the window-based ev2.
    */
  private def ev3SessionizeState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.EventStreams
    val ev = eventsTbl(spark, dir)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us"))
      .as[EventStreams.SessionEvent]
    EventStreams.sessionize(ev, 30).toDF()
      .orderBy(col("user_id"), col("event_id"))
  }

  /** EV4: the streaming windowed aggregate run in batch (watermark is a
    * no-op); window bounds projected flat for the oracle.
    */
  private def ev4StreamWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
    graft.streaming.EventStreams.windowedAgg(ev, "1 hour", "30 minutes")
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), r4(col("total_value")).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** EV7: native session_window aggregation — one row per (user,
    * session) with the engine's own gap-merge; oracle re-derives the
    * sessions with the >= boundary split (see
    * [[graft.streaming.EventStreams.sessionWindowAgg]]).
    */
  private def ev7SessionWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionWindowAgg(eventsTbl(spark, dir))
      .select(col("user_id"),
        col("win.start").as("session_start"),
        col("win.end").as("session_end"),
        col("n_events"), r4(col("total_value")).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** EV7b: the session_window aggregate under a HOT KEY — the time-block
    * salted prefix-scan assignment feeding a skew-proof (user, session)
    * hash agg (EventOps.sessionWindowSalted, 1-day blocks), held to
    * ev7's native-session_window oracle VERBATIM: the engine's one-task
    * per-key merge (measured 25.9 s at the 100x hot-key probe) swapped
    * for a plan bounded by the hot key's busiest day, with identical
    * rows. EventOps.sessionWindowSkewSafe routes between the two by
    * measured key share — the routing rule SCALE.md states, as code.
    */
  private def ev7bSessionWindowSalted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.sessionWindowSalted(
        eventsTbl(spark, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value",
        gapUs = 1800000000L, blockUs = 86400000000L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), r4(col("total_value")).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** EV7c: the ROUTER itself, driver-verified — sessionWindowSkewSafe at
    * the default threshold over the same events, held to ev7's oracle
    * VERBATIM: whichever branch the measured key share picks, the rows
    * must be identical. Routing is a plan choice, never a semantics
    * choice — EventOpsSpec pins both branches; this pins the shipped
    * entry point end-to-end under the driver's hash compare too.
    */
  private def ev7cSessionWindowRouted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.sessionWindowSkewSafe(
        eventsTbl(spark, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value",
        gapUs = 1800000000L, blockUs = 86400000000L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), r4(col("total_value")).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** pipe_curation oracle: the gate expressions are the ta1/ta2 oracle
    * bodies as CTEs, the dedup stages are the dd1b keeper / dd7 closure
    * shapes over the GATED relation — every stage reuses SQL already
    * proven on its standalone query.
    */
  /** The curation gate stage (language + quality predicates) as shared
    * CTEs — the single definition behind both the batch `pipe_curation`
    * oracle and the `stream_curation` count oracle, mirroring how
    * `Curation.gate` is the single Scala definition behind both paths.
    */
  /** ev9's cascaded min-join funnel oracle — strict step ordering (>),
    * inclusive horizon (<=), null timestamps dropped, prefix property by
    * construction. Shared VERBATIM by ev9_funnel (batch) and
    * stream_funnel (the O(steps)-state live form).
    */
  private val ev9FunnelSql: String =
    """WITH s1 AS (
         SELECT user_id, MIN(epoch_us(ts)) AS t1
         FROM events WHERE event_type = 'view' AND ts IS NOT NULL
         GROUP BY 1),
       s2 AS (
         SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
         FROM events e JOIN s1 ON e.user_id = s1.user_id
         WHERE e.event_type = 'click' AND e.ts IS NOT NULL
           AND epoch_us(e.ts) > s1.t1
           AND epoch_us(e.ts) <= s1.t1 + 3600000000
         GROUP BY 1),
       s3 AS (
         SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
         FROM events e JOIN s1 ON e.user_id = s1.user_id
           JOIN s2 ON e.user_id = s2.user_id
         WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
           AND epoch_us(e.ts) > s2.t2
           AND epoch_us(e.ts) <= s1.t1 + 3600000000
         GROUP BY 1)
       SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
         CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
                + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS INT)
           AS steps_completed
       FROM s1
       LEFT JOIN s2 ON s1.user_id = s2.user_id
       LEFT JOIN s3 ON s1.user_id = s3.user_id
       ORDER BY s1.user_id"""

  /** aj1's oracle: DuckDB's native ASOF LEFT JOIN over micro-precision ts
    * — for the union+window form and aj1b's salted prefix scan alike.
    */
  private val aj1AsofSql: String =
    """WITH p AS (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         FROM events WHERE event_type = 'purchase'),
       s AS (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         FROM events WHERE event_type = 'signup')
       SELECT p.event_id, p.user_id, p.ts_us, p.value,
         s.event_id AS asof_event_id, s.value AS asof_value
       FROM p ASOF LEFT JOIN s
         ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
       ORDER BY p.event_id"""

  /** The 30-minute session split ev2/ev5/ev7 share: `prev_us` = the
    * user's previous event time, and the running count of gaps over 30
    * minutes (an event EXACTLY 30 minutes after the previous one stays in
    * the session: session_window extends the window end inclusively,
    * pinned by StreamingSpec's boundary case).
    */
  private val sessionPrevSql: String =
    "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us"

  private val sessionIdSql: String =
    """SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  /** ev2's per-event session id — also ev2b's salted prefix scan and ev3's
    * stateful form, which must both be invisible.
    */
  private val ev2SessionizeSql: String =
    s"""WITH e AS (
         SELECT user_id, event_id, ts, $sessionPrevSql
         FROM events)
       SELECT user_id, event_id,
         CAST($sessionIdSql AS BIGINT) AS session_id
       FROM e ORDER BY user_id, event_id"""

  /** ev7: the native session_window gap-merge re-derived from ev2's split
    * — also ev7b's salted assignment and ev7c's router on whichever
    * branch the measured key share picks.
    */
  private val ev7SessionWindowSql: String =
    s"""WITH e AS (
         SELECT user_id, event_id, ts, value, $sessionPrevSql
         FROM events),
       s AS (
         SELECT user_id, event_id, ts, value,
           $sessionIdSql AS sid
         FROM e)
       SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 4) AS total_value
       FROM s GROUP BY user_id, sid
       ORDER BY user_id, session_start"""

  private def eventEntries: Seq[(String, Entry)] = Seq(
    "aj1_asof_join" -> Entry(aj1Asof(_, _), Some(aj1AsofSql)),
    // aj2: the grid binning must be invisible — plain inequality join
    "aj2_interval_join" -> Entry(aj2IntervalJoin(_, _), Some(
      """WITH p AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'purchase'),
         s AS (
           SELECT event_id AS window_id, user_id, epoch_us(ts) AS w_start,
             epoch_us(ts) + 1800000000 AS w_end
           FROM events WHERE event_type = 'signup')
         SELECT p.event_id, p.user_id, p.ts_us, s.window_id, s.w_start
         FROM p JOIN s ON p.user_id = s.user_id
           AND p.ts_us BETWEEN s.w_start AND s.w_end
         ORDER BY p.event_id, s.window_id""")),
    "ev1_event_window" -> Entry(ev1EventWindow(_, _), Some(
      s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
         round(${exactSumSql("value")}, 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    "aj1b_asof_salted" -> Entry(aj1bAsofSalted(_, _), Some(aj1AsofSql)),
    // ev9: cascaded min-joins — strict step ordering (>), inclusive
    // horizon (<=), prefix property by construction. stream_funnel (the
    // O(steps)-state live form) is held to this SAME SQL verbatim.
    "ev9_funnel" -> Entry(ev9Funnel(_, _), Some(ev9FunnelSql)),
    // ev10: distinct (user, day) activity, min-day cohorts, count per
    // (cohort, age) — activity rows are distinct and a user has one
    // cohort, so COUNT(*) is the distinct-user count
    "ev10_retention" -> Entry(ev10Retention(_, _), Some(
      """WITH act AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS period
           FROM events WHERE ts IS NOT NULL),
         frst AS (SELECT user_id, MIN(period) AS cohort FROM act GROUP BY 1),
         sizes AS (
           SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
           FROM frst GROUP BY 1),
         aa AS (
           SELECT f.cohort, a.period - f.cohort AS age,
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM act a JOIN frst f USING (user_id) GROUP BY 1, 2)
         SELECT cohort, age, n_active, n_cohort,
           round(n_active * 1.0 / n_cohort, 4) AS retention
         FROM aa JOIN sizes USING (cohort) ORDER BY cohort, age""")),
    "stream_funnel" -> Entry(streamFunnel(_, _), Some(ev9FunnelSql)),
    "ev2_sessionize" -> Entry(ev2Sessionize(_, _), Some(ev2SessionizeSql)),
    "ev2b_sessionize_salted" -> Entry(ev2bSessionizeSalted(_, _), Some(ev2SessionizeSql)),
    // ev5: ev2's session-assignment CTE + per-session grouping — the
    // composed chain (assignment feeding aggregates) is what hashes
    "ev5_session_stats" -> Entry(ev5SessionStats(_, _), Some(
      s"""WITH e AS (
           SELECT user_id, event_id, ts, event_type, value, $sessionPrevSql
           FROM events),
         s AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             CAST($sessionIdSql AS BIGINT) AS session_id
           FROM e)
         SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS start_us,
           MAX(ts_us) - MIN(ts_us) AS span_us,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
           round(${exactSumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")}, 4) AS purchase_value
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ev3_sessionize_state" -> Entry(ev3SessionizeState(_, _), Some(ev2SessionizeSql)),
    "ev4_stream_window" -> Entry(ev4StreamWindow(_, _), Some(
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
         round(${exactSumSql("value")}, 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ev7_session_window" -> Entry(ev7SessionWindow(_, _), Some(ev7SessionWindowSql)),
    "ev7b_session_window_salted" -> Entry(ev7bSessionWindowSalted(_, _),
      Some(ev7SessionWindowSql)),
    "ev7c_session_window_routed" -> Entry(ev7cSessionWindowRouted(_, _),
      Some(ev7SessionWindowSql)))

  // ------------------------------------------------------- joins on corpus

  /** S2/J1: paired scan — documents with their embedding row. */
  private def s2Paired(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
      .join(tbl(spark, dir, "embeddings").select(col("vec_id"), col("label")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("n_chars"), col("label"))
      .orderBy(col("doc_id"))

  /** S6: docs lacking an embedding (the to-compute set). A third of the
    * embedding table is masked out (vec_id % 3 == 0 treated as absent) so
    * the recompute set is non-empty at every SF — the skip-if-exists path
    * is exercised for real, not vacuously.
    */
  private def s6Incremental(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").select(col("doc_id"))
      .join(tbl(spark, dir, "embeddings").select(col("vec_id"))
          .filter(col("vec_id") % 3 =!= 0),
        col("doc_id") === col("vec_id"), "left_anti")
      .orderBy(col("doc_id"))

  /** S7 (corpus side): source health-check as ONE aggregate row — the
    * data-pipeline generalization of the reference's pre-flight (backend
    * probe lives in llm.HealthCheck): row count, null/empty text counts,
    * duplicate-id count, id range. One scan, one partial-aggregated
    * reduce; a 100 TB pre-flight costs a single pass.
    */
  private def s7Health(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
      sum(when(col("text").isNotNull && trim(col("text")) === "", 1L).otherwise(0L))
        .as("n_empty_text"),
      (count(col("doc_id")) - countDistinct(col("doc_id"))).as("n_dup_ids"),
      min(col("doc_id")).as("min_doc_id"),
      max(col("doc_id")).as("max_doc_id"))

  /** S4: summary sinks, round-tripped end-to-end — the parquet summary
    * table (idiomatic sink) is written and read back, and the per-doc
    * `<doc_id>.txt` compatibility sink (reference:
    * runners/run_summarization_ollama_mapreduce.py:269-271) is written
    * from the executors for a bounded id subset and read back through
    * `spark.read.text` + filename parsing. The returned frame exposes BOTH
    * read-back paths next to each other; the oracle recomputes the summary
    * straight from `documents`, so any write/read infidelity (encoding,
    * truncation, lost rows) breaks the hash match. The file subset is
    * bounded (doc_id < 200) so the sink check stays O(1) as SF grows —
    * per-doc small files are the compatibility path, not the scale path
    * (that is the parquet/bucketed table; see operators/Sinks.scala).
    */
  /** S12: atomic manifest publish round-tripped in-query — stage, write
    * `_manifest.json` from the staged files, atomic rename, then read
    * back through the validating reader (which throws on any mismatch)
    * and report count + order-independent key fingerprint. FULL oracle:
    * the fingerprint is bit_xor of the md5-prefix long, replayed exactly.
    */
  private def s12ManifestPublish(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s12_") { root =>
      val out = root.resolve("published").toString
      operators.Sinks.publishWithManifest(
        tbl(spark, dir, "documents").select(col("doc_id")), out)
      graft.operators.Materialize(
        operators.Sinks.readPublished(spark, out)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            expr(s"bit_xor(${operators.Sinks.keyFingerprintSql("doc_id")})")
              .as("key_xor"))
          .withColumn("manifest_ok", lit(1)))
    }
  }

  /** S14: multi-table snapshot commit end to end — publish v0 (the even-id
    * docs + all embeddings), publish v1 (all docs, same embeddings),
    * SIMULATE A TORN v2 (a table directory renamed into place with no
    * commit or pointer — the crash window), then read latest and
    * time-travel to v0 through the validating reader. The emitted counts
    * and fingerprints are pure functions of the source tables, so the
    * whole transactional lifecycle carries a FULL oracle; `v_latest = 1`
    * IS the torn-publish invariant (the orphaned v2 dir moved the pointer
    * nowhere).
    */
  private def s14SnapshotPublish(spark: SparkSession, dir: String)
      : DataFrame = {
    withScratch("graft_s14_")(tmp =>
      s14SnapshotPublishCore(spark, dir, tmp.resolve("snap").toString))
  }

  private def s14SnapshotPublishCore(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val emb = tbl(spark, dir, "embeddings").select(col("vec_id"))
    val docsV0 = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("n_chars"))
    val docsV1 = docs.select(col("doc_id"), col("n_chars"))
    operators.Sinks.publishSnapshot(
      Map("docs" -> (docsV0, "doc_id"), "emb" -> (emb, "vec_id")), root)
    operators.Sinks.publishSnapshot(
      Map("docs" -> (docsV1, "doc_id"), "emb" -> (emb, "vec_id")), root)
    // torn v2: one table's rename landed, then the publisher died —
    // no commit file, no pointer swap
    docsV0.limit(1).write.parquet(s"$root/docs/v=2")
    val latest = operators.Sinks.readSnapshot(spark, root)
    val v0 = operators.Sinks.readSnapshot(spark, root, Some(0L))
    import spark.implicits._
    Seq((operators.Sinks.currentVersion(root).getOrElse(-1L),
      latest("docs").count(), v0("docs").count(), latest("emb").count()))
      .toDF("v_latest", "docs_latest", "docs_v0", "emb_latest")
  }

  /** S15: CDC changelog apply (MERGE INTO) — base = the even-id docs; the
    * planted changelog updates every %10 key, deletes every %14 key, and
    * inserts a shifted copy of every odd key. Keys divisible by 70 carry
    * BOTH an update (seq 1) and a delete (seq 2), so last-write-wins is
    * exercised, not just asserted. FULL oracle: the window resolve,
    * anti-join and union replay in SQL.
    */
  private def s15CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 2 === 0)
    val upd = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        concat(lit("updated "), col("doc_id")).as("text"),
        lit("update").as("op"), lit(1L).as("seq"))
    val del = docs.filter(col("doc_id") % 14 === 0)
      .select(col("doc_id"), lit("").as("text"),
        lit("delete").as("op"), lit(2L).as("seq"))
    val ins = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("inserted "), col("doc_id")).as("text"),
        lit("insert").as("op"), lit(1L).as("seq"))
    operators.Sinks.applyChangelog(base, upd.unionByName(del).unionByName(ins))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private def s4SinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s4_") { out =>
      val summaries = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          truncateTokens(col("text"), 15).as("summary"),
          tokenCount(col("text")).as("n_tokens"))
      operators.Sinks.writeSummaryTable(summaries, s"$out/table")
      operators.Sinks.writeSummaryFiles(
        summaries.filter(col("doc_id") < 200), s"$out/files",
        idCol = "doc_id", textCol = "summary")
      val table = spark.read.parquet(s"$out/table")
      val files = spark.read.text(s"$out/files")
        .select(
          regexp_extract(input_file_name(), "([0-9]+)\\.txt$", 1).cast("long")
            .as("file_doc_id"),
          col("value").as("file_summary"))
      graft.operators.Materialize(
        table.join(files, col("doc_id") === col("file_doc_id"), "left")
          .select(col("doc_id"), col("summary"), col("n_tokens"),
            col("file_summary")))
        .orderBy(col("doc_id"))
    }
  }

  /** S5: nested JSON evaluation report sink, round-tripped — stats +
    * histogram + capped details are written through Sinks.writeJsonReport
    * (reference shape: evaluate/evaluate_summaries_semantic.py:674-696) and
    * read back via `spark.read.json(multiLine)`; the returned frame is the
    * re-exploded stats block plus the section cardinalities, all recomputed
    * independently by the oracle from `documents`.
    */
  private def s5ReportSink(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s5_")(out => s5ReportSinkCore(spark, dir, out.toString))
  }

  private def s5ReportSinkCore(spark: SparkSession, dir: String,
      out: String): DataFrame = {
    val report = s"$out/report.json"
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        charCount(col("text")).as("n_chars"))
    val long = docs
      .select(lit("n_tokens").as("metric"), col("n_tokens").cast("double").as("v"))
      .unionAll(docs.select(lit("n_chars").as("metric"),
        col("n_chars").cast("double").as("v")))
    val stats = long.groupBy(col("metric"))
      .agg(r4(exactAvg(col("v"))).as("mean_v"), r4(min(col("v"))).as("min_v"),
        r4(max(col("v"))).as("max_v"), count(lit(1)).as("n"))
    val hist = docs
      .groupBy(when(col("n_tokens") < 55, "short")
        .when(col("n_tokens") < 65, "mid").otherwise("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val details = docs.select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id")).limit(100)
    operators.Sinks.writeJsonReport(stats, hist, details, report, maxDetails = 100)
    graft.operators.Materialize(
      spark.read.option("multiLine", "true").json(report)
        .select(explode(col("summary_statistics")).as("s"),
          size(col("similarity_distribution")).as("hist_buckets"),
          size(col("detailed_results")).as("details_n"))
        .select(col("s.metric").as("metric"), col("s.mean_v").as("mean_v"),
          col("s.min_v").as("min_v"), col("s.max_v").as("max_v"),
          col("s.n").as("n"), col("hist_buckets"), col("details_n")))
      .orderBy(col("metric"))
  }

  /** Streaming curation, driver-checked: the same gate stage as
    * `pipe_curation` read as a file-source STREAM (AvailableNow trigger),
    * prefix-deduped with `dropDuplicatesWithinWatermark`, counted through a
    * foreachBatch sink. Which member of a fingerprint group survives is
    * arrival-order-dependent, but exactly one survives per group, so the
    * curated COUNT is deterministic and carries a full hash oracle
    * (COUNT(DISTINCT prefix-fp) over the gated set). Event times are
    * synthetic microsecond offsets so the whole corpus sits inside one
    * watermark window at any SF — the eviction semantics themselves are
    * spec'd in StreamingSpec, this entry proves the streaming plan computes
    * the batch answer. See CorpusStreams.curateStream for why near-dup CC
    * stays batch-side.
    */
  private def streamCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one micro-batch for the whole table: this entry proves batch parity,
    // not trigger pacing (StreamingSpec covers multi-batch semantics), and
    // per-batch state-store commit overhead would otherwise dominate
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")))
    val curated = graft.streaming.CorpusStreams.curateStream(docs)
    val acc = spark.sparkContext.longAccumulator("graft.streamCuration")
    withScratch("graft_sc_") { ckpt =>
      drain(curated, ckpt.toString) { (batch, _) => acc.add(batch.count()) }
      Seq(acc.value).toDF("n_curated")
    }
  }

  /** Streaming CommonCrawl-shaped ingest, driver-checked end to end: the
    * derived HTML corpus is serialized into WARC shard blobs (s11's
    * writer) and landed as a parquet directory; the STREAM then reads
    * blob files as they arrive, parses records with the length-driven
    * reader (stateless typed flatMap), extracts text with ta19's chain
    * (projection), and runs the stream_curation gate + watermarked
    * first-arrival prefix dedup. One AvailableNow batch proves batch
    * parity; the oracle replays template → extraction → gate in SQL and
    * counts distinct gated prefix fingerprints (the stream_curation
    * contract). This is the full ingest boundary a 100 TB web corpus
    * arrives through: container → records → text → gates → dedup, as one
    * continuous query.
    */
  private def streamCcIngest(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_cci_")(root =>
      streamCcIngestCore(spark, dir, s"$root/shards", s"$root/ckpt"))
  }

  private def streamCcIngestCore(spark: SparkSession, dir: String,
      shardsDir: String, ckpt: String): DataFrame = {
    import spark.implicits._
    graft.operators.Warc.buildShards(ta19HtmlCorpus(spark, dir), 8)
      .write.mode("overwrite").parquet(shardsDir)
    val schema = spark.read.parquet(shardsDir).schema
    val blobs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4096).parquet(shardsDir)
    // Two load-bearing plan moves, each measured at the 1x probe
    // (30 -> 7 s together): (1) records REPARTITION after parsing —
    // blob rows are few and small, so the file scan packs them into ~one
    // task and everything downstream would run single-threaded without
    // the exchange (record-level work must not inherit blob-level
    // parallelism); (2) a typed identity map between extraction and the
    // gate — CollapseProject otherwise inlines the 13-regex extraction
    // chain into EVERY gate expression (the streaming-legal analogue of
    // the Materialize double-branch rule).
    val extracted = TextAnalysis.extractHtml(
        graft.operators.Warc.parseShards(blobs)
          .repartition(col("doc_id")), "text")
      .select(col("doc_id"), col("clean_text").as("text"))
    val docs = extracted.as[(Long, String)].map(identity)
      .toDF("doc_id", "text")
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")))
    val curated = graft.streaming.CorpusStreams.curateStream(docs)
    val acc = spark.sparkContext.longAccumulator("graft.streamCcIngest")
    drain(curated, ckpt) { (batch, _) => acc.add(batch.count()) }
    Seq(acc.value).toDF("n_curated")
  }

  /** Streaming exact (prefix-fingerprint) dedup, driver-checked end to
    * end: the documents table replayed as a file-source stream through the
    * watermarked `dropDuplicatesWithinWatermark` path (state TTL — see
    * CorpusStreams.curateStream's scaladoc), survivors counted in
    * foreachBatch. First-arrival-wins over the whole table equals distinct
    * fingerprints, which is the oracle.
    */
  private def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")))
    val deduped = docs
      .withColumn("fp", md5(substring(col("text"), 1, 100)))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    val acc = spark.sparkContext.longAccumulator("graft.streamDedup")
    withScratch("graft_sd_") { ckpt =>
      drain(deduped, ckpt.toString) { (batch, _) => acc.add(batch.count()) }
      Seq(acc.value).toDF("n_unique")
    }
  }

  /** Streaming near-dup ingest dedup, driver-checked: documents replay as
    * a file stream through [[graft.streaming.CorpusStreams.NearDupDeduper]]
    * with a fresh band-key store; AvailableNow + a high file cap lands the
    * replay in ONE batch, making the store check vacuous and the greedy
    * rule batch-global — so the kept set must equal [[dd14LshDedupGreedy]]
    * VERBATIM (the stream_classify train-batch/score-stream invisibility
    * discipline; cross-batch store semantics and replay idempotence are
    * pinned by StreamingSpec). Kept rows round-trip a parquet sink (the
    * ev6 discipline), so the oracle checks the full kept id set, not a
    * count.
    */
  private def streamNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    withScratch("graft_snd_") { root =>
      val outDir = s"$root/out"
      val dedup = graft.streaming.CorpusStreams.nearDupDeduper(s"$root/store")
      drain(docs, s"$root/ckpt") { (batch, batchId) =>
        graft.streaming.CorpusStreams
          .writeSummaryBatch(dedup(batch, batchId), outDir, batchId)
      }
      graft.operators.Materialize(
        spark.read.parquet(outDir).select(col("doc_id")))
        .orderBy(col("doc_id"))
    }
  }

  /** Streaming benchmark decontamination, driver-checked: the corpus side
    * streams through the STATELESS per-batch Bloom-prefilter + exact
    * verify-join path (CorpusStreams.decontaminator — distributed-built
    * Bloom broadcast, no driver-collected gram set, no state store, no
    * watermark) against the static eval slice; survivor count held to the
    * dc2 oracle's composition (same 5-gram shingles, same doc_id%10
    * split). Exactness at any fpp: the verify join removes every Bloom
    * false positive, so this count is independent of the filter sizing.
    */
  private def streamDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    val bench = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 10 === 0)
    val decontam = graft.streaming.CorpusStreams.decontaminator(
      bench, "text", ngramSize = 5)
    val acc = spark.sparkContext.longAccumulator("graft.streamDecontam")
    withScratch("graft_sx_") { ckpt =>
      drain(docs.filter(col("doc_id") % 10 =!= 0), ckpt.toString) {
        (batch, _) => acc.add(decontam(batch).count()) }
      decontam.close()
      Seq(acc.value).toDF("n_clean")
    }
  }

  /** STREAM-STATE gate (literal oracle): the
    * [[graft.streaming.StreamObservability]] metrics table, held to
    * DETERMINISTIC ground truth — replay the documents as a stream
    * through a watermarked streaming dedup and require (a) progress rows
    * exist, (b) the metrics' total input rows equal the corpus count
    * exactly, and (c) the final state-store row count equals the
    * corpus's distinct fingerprint count exactly (dedup state holds one
    * row per distinct key; the doc_id-derived event time spans far less
    * than the watermark delay, so nothing evicts). Timings and bytes are
    * host noise, but THESE three are exact invariants — the
    * observability operator's accounting is driver-verified, not just
    * spec-asserted.
    */
  private def streamStateGate(spark: SparkSession, dir: String): DataFrame = {
    val (base, glob) = graft.streaming.CorpusStreams
      .tableStreamPath(spark, dir, "documents.parquet")
    streamStateGateCore(spark, base, glob,
      tbl(spark, dir, "documents"), maxFilesPerTrigger = 4096)
  }

  /** The gate's body, parameterized on the streamed path and trigger
    * granularity so StreamingSpec can drive it past 100 triggers
    * (maxFilesPerTrigger = 1 over a many-file corpus) and prove the
    * accounting does not depend on the recentProgress ring-buffer default
    * (r11 verdict wrong #2 — pinned via numRecentProgressUpdates below).
    * `corpus` is the batch ground truth the accounting is held to.
    */
  private[graft] def streamStateGateCore(spark: SparkSession, base: String,
      glob: String, corpus: DataFrame, maxFilesPerTrigger: Int): DataFrame = {
    import spark.implicits._
    val schema = corpus.schema
    val docs = graft.streaming.CorpusStreams
      .readDocStream(spark, base, schema, maxFilesPerTrigger, glob)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")))
    val deduped = docs
      .withColumn("fp", md5(substring(col("text"), 1, 100)))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    // the gate reads recentProgress, a ring buffer of the LAST
    // numRecentProgressUpdates (default 100) triggers — a corpus needing
    // more triggers than that would silently drop early batches and
    // false-fail input_match. Pin the buffer above any plausible trigger
    // count for the gate's run, restore after (session-level conf).
    val progKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevProg = spark.conf.getOption(progKey)
    spark.conf.set(progKey, "100000")
    val m = try withScratch("graft_ssg_") { ckpt =>
      val q = drain(deduped, ckpt.toString) { (batch, _) => batch.count() }
      // recentProgress is populated synchronously by the (terminated)
      // execution thread — the deterministic source for the gate; the
      // listener-based ProgressRecorder (async bus) is spec territory
      graft.streaming.StreamObservability.stateMetrics(spark, q)
        .orderBy(col("batch_id")).collect()
    } finally
      prevProg.fold(spark.conf.unset(progKey))(spark.conf.set(progKey, _))
    val nRows = corpus.count()
    val nDistinct = corpus
      .select(md5(substring(col("text"), 1, 100))).distinct().count()
    val inputTotal = m.map(_.getAs[Long]("input_rows")).sum
    val finalState = m.lastOption.map(_.getAs[Long]("state_rows")).getOrElse(-1L)
    Seq((
      if (m.nonEmpty) 1 else 0,
      if (inputTotal == nRows) 1 else 0,
      if (finalState == nDistinct) 1 else 0))
      .toDF("has_batches", "input_match", "state_match")
  }

  /** STREAM-INDEX gate (literal oracle): streaming ANN-index maintenance
    * ([[graft.streaming.IndexStreams]]) held to its append contract —
    * the embeddings table replays as a file stream, each micro-batch
    * assigns against the FROZEN centroid model and lands under its
    * batch_id partition (replay-idempotent overwrite), and the grown
    * inverted file must be ROW-IDENTICAL (vec_id, cell) to the batch
    * build over the same corpus with the same model: assignment is a
    * pure function of (vector, centroids), so streamed-vs-batch
    * divergence is a defect, never drift. The ss7b append contract,
    * driver-verified in its streaming form.
    */
  private def streamIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (batchIdx, cs) = Similarity.buildIvfIndex(emb, 16, 2)
    val stream = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "embeddings.parquet", maxFilesPerTrigger = 4096)
    withScratch("graft_sia_") { root =>
      val store = s"$root/idx"
      val appender = new graft.streaming.IndexStreams.IvfAppender(cs, store)
      drain(stream, s"$root/ckpt") { (b, id) => appender(b, id) }
      // Materialized: each side feeds a count AND both exceptAll legs.
      // exceptAll = MULTISET difference — a duplicated row compensating a
      // dropped one (the exactly-once defect class this gate exists for)
      // cannot false-pass the way a join count would.
      val streamed = graft.operators.Materialize(
        graft.streaming.IndexStreams.readIndex(spark, store)
          .select(col("vec_id"), col("cell")))
      val bsel = graft.operators.Materialize(
        batchIdx.select(col("vec_id"), col("cell")))
      val nB = bsel.count()
      val nS = streamed.count()
      val nDiff = bsel.exceptAll(streamed).count() +
        streamed.exceptAll(bsel).count()
      Seq((
        if (nS == nB && nB > 0) 1 else 0,
        if (nDiff == 0L) 1 else 0))
        .toDF("rows_match", "assign_match")
    }
  }

  /** STREAM-DRIFT gate (literal oracle): the centroid-drift monitor
    * ([[graft.streaming.IndexDrift]]) held to a PLANTED ground truth —
    * the frozen-model streamed index's missing rebuild signal, measured.
    * The embeddings table is staged as three clean files plus one
    * DRIFTED file (ids offset, every embedding replaced by a direction
    * ORTHOGONAL to all centroids — [[graft.streaming.IndexDrift
    * .uncoveredDirection]]: assignment cosine ≈ 0 so per-row distance
    * ≈ 1 past the train-time p95, and occupancy collapses into one cell),
    * streamed one file per micro-batch through the
    * [[graft.streaming.IndexDrift.DriftingIvfAppender]] against the
    * train-time profile. The gate requires EXACT flag parity per batch:
    * every clean batch unflagged, the planted batch flagged — joined
    * through the index store's own batch_id partitions (the planted ids
    * identify the drifted batch), so the check does not depend on file
    * discovery order.
    */
  private def streamDriftGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (assigned, cs) = Similarity.buildIvfIndex(emb, 16, 2)
    val prof = graft.streaming.IndexDrift.profile(assigned, cs)
    withScratch("graft_sdg_") { root =>
      val inDir = s"$root/in"
      emb.repartition(3).write.mode("overwrite").parquet(inDir)
      val ood = graft.streaming.IndexDrift.uncoveredDirection(cs)
      emb.select((col("vec_id") + 10000000L).as("vec_id"),
          typedLit(ood.toSeq).as("embedding"))
        .coalesce(1).write.mode("append").parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      val stream = graft.streaming.CorpusStreams
        .readDocStream(spark, inDir, schema, maxFilesPerTrigger = 1,
          glob = "*.parquet")
      val store = s"$root/idx"
      val driftDir = s"$root/drift"
      val appender = new graft.streaming.IndexDrift.DriftingIvfAppender(
        cs, store, driftDir, prof)
      drain(stream, s"$root/ckpt") { (b, id) => appender(b, id) }
      val drift = graft.streaming.IndexDrift.readDrift(spark, driftDir)
      // which batch carries the planted rows, from the index store itself
      val planted = spark.read.option("basePath", store).parquet(store)
        .groupBy(col("batch_id"))
        .agg((max(col("vec_id")) >= 10000000L).cast("int").as("planted"))
      val rows = drift.join(planted, Seq("batch_id")).collect()
      val nBatches = rows.length
      val nPlanted = rows.map(_.getAs[Int]("planted")).sum
      val flagMatch = rows.forall(r =>
        r.getAs[Int]("drifted") == r.getAs[Int]("planted"))
      Seq((
        if (nBatches >= 2) 1 else 0,
        if (nPlanted == 1) 1 else 0,
        if (flagMatch) 1 else 0))
        .toDF("has_batches", "planted_ok", "flag_match")
    }
  }

  /** STREAM-INDEX-REBUILD gate (literal oracle): the drift→rebuild→swap
    * lifecycle ([[graft.streaming.IndexRebuild]]) driver-verified end to
    * end — the closure of the loop the drift monitor opened. Setup: v0 =
    * the batch IVF build over the embeddings table, published as a
    * snapshot and seeded into the raw-vector store. Stream: one CLEAN
    * delta file (a same-distribution ¼ sample, ids +20M) and one PLANTED
    * out-of-distribution file (⅛-sample count, every embedding the
    * uncovered direction, ids +10M), one file per micro-batch. The gate
    * pins, whatever order the files arrive:
    *  - exact flag parity (clean batches unflagged, planted flagged);
    *  - exactly one rebuild → the pointer reads v1;
    *  - REBUILD FIDELITY: v1's cells + centroids are row/bit-identical
    *    to a from-scratch [[graft.operators.Similarity.buildIvfIndex]]
    *    over the store rows it claims to cover (multiset exceptAll both
    *    ways — the build is deterministic, so streamed-rebuild
    *    divergence is a defect);
    *  - PRE-SWAP SERVING: v0 stays readable through the validating
    *    reader and row-identical to the original batch build (a search
    *    pinned to v0 mid-rebuild is unaffected);
    *  - POST-SWAP SERVING: the base+delta served index is COMPLETE
    *    (every store row served exactly once) and answers a query in
    *    the planted direction with top-1 cosine ≈ 1 — content the v0
    *    model maximally did not cover, retrievable only because the
    *    rebuild actually happened.
    */
  private def streamIndexRebuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.{IndexDrift, IndexRebuild}
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (cells0raw, cs0) = Similarity.buildIvfIndex(emb, 16, 2)
    val cells0 = graft.operators.Materialize(cells0raw)
    val prof0 = IndexDrift.profile(cells0, cs0)
    withScratch("graft_sir_") { root =>
      val snapRoot = s"$root/snap"
      val store = s"$root/store"
      val driftDir = s"$root/drift"
      IndexRebuild.publishIndex(cells0, cs0, prof0, -1L, snapRoot) // v0
      cells0.write.mode("overwrite").parquet(s"$store/batch_id=-1")
      val inDir = s"$root/in"
      emb.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(inDir)
      val ood = IndexDrift.uncoveredDirection(cs0)
      emb.filter(col("vec_id") % 8 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          typedLit(ood.toSeq).as("embedding"))
        .coalesce(1).write.mode("append").parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      val stream = graft.streaming.CorpusStreams
        .readDocStream(spark, inDir, schema, maxFilesPerTrigger = 1,
          glob = "*.parquet")
      val appender = new IndexRebuild.RebuildingIvfAppender(
        snapRoot, store, driftDir, nCells = 16, iterations = 2)
      drain(stream, s"$root/ckpt") { (b, id) => appender(b, id) }
      val storeAll = spark.read.option("basePath", store).parquet(store)
      val vLatest = graft.operators.Sinks.currentVersion(snapRoot)
        .getOrElse(-99L)
      val latest = IndexRebuild.loadIndex(spark, snapRoot)
      // rebuild fidelity vs a from-scratch build over the covered rows
      val coveredCorpus = storeAll
        .filter(col("batch_id") <= latest.coveredMaxBatch)
        .select(col("vec_id"), col("emb_c").as("embedding"))
      val (cellsF, csF) = Similarity.buildIvfIndex(coveredCorpus, 16, 2)
      val csSame = csF.length == latest.centroids.length &&
        csF.zip(latest.centroids).forall { case (a, b) => a.sameElements(b) }
      val lc = graft.operators.Materialize(
        latest.cells.select(col("vec_id"), col("cell")))
      val fc = graft.operators.Materialize(
        cellsF.select(col("vec_id"), col("cell")))
      val nDiff = lc.exceptAll(fc).count() + fc.exceptAll(lc).count()
      // pre-swap: v0 readable, row-identical to the original batch build
      val v0c = graft.operators.Materialize(IndexRebuild
        .loadIndex(spark, snapRoot, Some(0L)).cells
        .select(col("vec_id"), col("cell")))
      val b0 = graft.operators.Materialize(
        cells0.select(col("vec_id"), col("cell")))
      val nDiff0 = v0c.exceptAll(b0).count() + b0.exceptAll(v0c).count()
      // post-swap serving: complete base+delta, and the planted direction
      // is retrievable at cosine ~1
      val (served, csServe) = IndexRebuild.servedIndex(spark, snapRoot, store)
      val servedM = graft.operators.Materialize(served)
      val top1 = Similarity.ivfSearch(servedM, csServe,
          Seq((1L, ood)).toDF("query_id", "embedding"), 1, 4)
        .select(col("cosine")).as[Double].collect()
        .headOption.getOrElse(-1.0)
      // flag parity via the store's own partitions (planted ids in
      // [10M, 20M); clean delta ids >= 20M)
      val planted = storeAll.filter(col("batch_id") >= 0)
        .groupBy(col("batch_id"))
        .agg(max(col("vec_id")).between(10000000L, 19999999L)
          .cast("int").as("planted"))
      val rows = IndexRebuild.readDrift(spark, driftDir)
        .join(planted, Seq("batch_id")).collect()
      val flagMatch = rows.nonEmpty && rows.forall(r =>
        r.getAs[Int]("drifted") == r.getAs[Int]("planted"))
      Seq((
        if (rows.length >= 2) 1 else 0,
        if (rows.map(_.getAs[Int]("planted")).sum == 1) 1 else 0,
        if (flagMatch) 1 else 0,
        if (vLatest == 1L) 1 else 0,
        if (csSame && nDiff == 0L) 1 else 0,
        if (nDiff0 == 0L) 1 else 0,
        if (servedM.count() == storeAll.count()) 1 else 0,
        if (top1 >= 0.99) 1 else 0))
        .toDF("has_batches", "planted_ok", "flag_match", "rebuilt_once",
          "rebuilt_identical", "preswap_ok", "served_complete", "served_ok")
    }
  }

  /** TA18s: train-batch / score-STREAM domain classification — the
    * production shape of ta18: the NB model trains on the static corpus
    * (two hash-aggs), collects as metadata (≤ C×V rows, contract-pinned),
    * and ships inside a scoring UDF that runs as a STATELESS projection
    * on the document stream — no state store, no watermark, every batch
    * independent. Sink rows are held to ta18's oracle VERBATIM: the
    * serving-side per-row integer scorer must reproduce the batch
    * aggregate's micro-nat argmax exactly.
    */
  private def streamClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    val model = TextAnalysis.nbTrainCollect(
      tbl(spark, dir, "documents"), col("source"))
    val scoreUdf = udf { (t: String) =>
      val (p, sm) = model.score(t)
      (p, sm / 1e6)
    }
    val scored = docs.select(col("doc_id"), col("source"),
        scoreUdf(col("text")).as("s"))
      .select(col("doc_id"), col("source"),
        col("s._1").as("pred_source"), col("s._2").as("score"))
    withScratch("graft_cls_") { root =>
      val out = s"$root/out"
      drain(scored, s"$root/ckpt") { (batch, _) =>
        batch.write.mode("append").parquet(out) }
      graft.operators.Materialize(
        spark.read.schema(scored.schema).parquet(out))
        .orderBy(col("doc_id"))
    }
  }

  /** CLS1s: train-batch / score-STREAM with the TRAINED linear classifier
    * — the stream_classify production shape on the CG-trained model: the
    * ridge weights train once on the static corpus (even-id docs), freeze
    * into a stateless per-row scorer (k+1 doubles in the closure, no
    * state store, no watermark), and serve the full document stream. Sink
    * rows are held to the batch oracle VERBATIM — the local scorer's
    * tokenization, hashing, distinct and decimal-grid sum replicate the
    * batch column expressions term for term, so streamed scores
    * hash-match the all-docs batch replay.
    */
  private def streamClassifyLr(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.streaming.CorpusStreams
      .tableStream(spark, dir, "documents.parquet", maxFilesPerTrigger = 4096)
    val pl = plantedQualityDocs(tbl(spark, dir, "documents"))
    val w = graft.operators.LinearModel.trainCgRidgeArrays(
      graft.operators.LinearModel.hashedPresenceArrays(pl, ClsK),
      pl.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("y")),
      ClsK)
    val scorer = graft.operators.LinearModel.localScorer(w)
    val scoreUdf = udf { (t: String) => scorer(t) }
    val plantedStream = docs.select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 3 === 0,
        lit(" click buy free winner cash prize now deal"))
        .otherwise(lit(" study method result analysis careful review note")))
        .as("text"),
      when(col("doc_id") % 3 === 0, -1).otherwise(1).as("label"))
    val scored = plantedStream
      .withColumn("__s", scoreUdf(col("text")))
      .select(col("doc_id"), round(col("__s"), 6).as("score"),
        (col("__s") >= 0.0).cast("int").as("pred"), col("label"))
    withScratch("graft_clr_") { root =>
      val out = s"$root/out"
      drain(scored, s"$root/ckpt") { (batch, _) =>
        batch.write.mode("append").parquet(out) }
      graft.operators.Materialize(
        spark.read.schema(scored.schema).parquet(out))
        .orderBy(col("doc_id"))
    }
  }

  /** EV6: stream-STREAM attribution join, driver-checked end to end — the
    * purchase and click slices of the events table replayed as two
    * independent file-source streams, joined live on user + 30-minute
    * event-time window (symmetric hash join, per-side watermarked state —
    * see EventStreams.attributionJoin), appended to a parquet sink and
    * read back. Unlike the other stream_ entries this oracle checks the
    * full JOINED ROWS (ids, user, gap), not a count: stream-stream join
    * output is order-free and exactly the batch equi+range join's set.
    */
  private def ev6StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val (base, glob) = graft.streaming.CorpusStreams
      .tableStreamPath(spark, dir, "events.parquet")
    def sideStream(tpe: String, idAs: String, userAs: String, tsAs: String) = {
      val raw = graft.streaming.CorpusStreams
        .readDocStream(spark, base, schema, maxFilesPerTrigger = 4096, glob)
      val norm = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("__ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("__ts", col("ts").cast("timestamp_ltz"))
      }
      norm.filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("__ts").as(tsAs))
    }
    val joined = graft.streaming.EventStreams.attributionJoin(
      sideStream("purchase", "purchase_id", "user_id", "p_ts"),
      sideStream("click", "click_id", "c_user", "c_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    withScratch("graft_ssj_") { root =>
      val out = s"$root/out"
      drain(joined, s"$root/ckpt") { (batch, _) =>
        batch.write.mode("append").parquet(out) }
      // materialize DISTRIBUTED before the scratch is deleted: the
      // joined set is corpus-scale on dense corpora (116M rows on the
      // replicated 100x events), so a driver collect is not an option
      graft.operators.Materialize(
        spark.read.schema(joined.schema).parquet(out))
        .orderBy(col("purchase_id"), col("click_id"))
    }
  }

  /** EV8: left-outer attribution (batch form — the stream form's
    * watermark-trailing null emission is pinned by StreamingSpec):
    * unattributed purchases survive with click_id/gap coalesced to -1
    * (nullable longs hash unstably through the driver compare; -1 is
    * outside both id and gap domains).
    */
  private def ev8AttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("ts").as(tsAs))
    graft.streaming.EventStreams.attributionJoinOuter(
        side("purchase", "purchase_id", "user_id", "p_ts"),
        side("click", "click_id", "c_user", "c_ts"))
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
          lit(-1L)).as("gap_us"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** EV8b: the grid-binned hot-key form of ev8, held to ev8's oracle
    * VERBATIM — the binning must be invisible (the aj1b/ev2b rule).
    */
  private def ev8bAttributionBinned(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("ts").as(tsAs))
    graft.streaming.EventStreams.attributionJoinBinned(
        side("purchase", "purchase_id", "user_id", "p_ts"),
        side("click", "click_id", "c_user", "c_ts"), outer = true)
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
          lit(-1L)).as("gap_us"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Round-6 composed flagship: the full training-mix pipeline as ONE
    * chained plan — plant boilerplate → global paragraph removal (dd10) →
    * language/quality gate (the curation gate) → temperature-flattened
    * domain mixture (mx2) → deterministic split assignment (sp1) → per
    * (domain, split) counts. Five operator families, each the proven form
    * of its standalone query; the oracle replays the whole chain, so the
    * COMPOSITION (each stage consuming the previous stage's exact output)
    * is what gets hash-checked. Scale shape: every stage is the
    * documented scale shape of its standalone op — nothing new joins the
    * plan except one broadcast of the |domains|-row rate table.
    */
  private def pipeTrainingMix(spark: SparkSession, dir: String): DataFrame = {
    // Re-spread after the paragraph rebuild (guide §2.5 input skew, the
    // r14 "not yet optimized" #6): dd10's groupBy(doc_id) shuffle is
    // BYTES-small, so AQE coalesces it to one partition, and the
    // CPU-heavy gate/lang-id chains downstream then ran as single-task
    // stages (ProfileQ r15: 6.3 s + 4.3 s, 1 task, cpu-bound). The
    // deterministic keyed exchange restores `cores`-wide parallelism;
    // width derives from the session's own parallelism, not local[32].
    val cleaned = Dedup.dropRepeatedParagraphs(
        tbl(spark, dir, "documents").withColumn("text", plantedBoiler),
        minOccurrences = 10L)
      .select(col("doc_id"), col("clean_text").as("text"))
      .repartition(spark.sparkContext.defaultParallelism,
        xxhash64(col("doc_id")))
    // Materialize the gated+domain table (the pipe_ccnet persisted-gate
    // discipline): temperatureMixture consumes it through THREE plan
    // branches (domain counts, the Z total, the rate join), so without
    // the cut the whole dd10+gate chain re-computed per branch — the
    // r15 plan dump showed the spread exchange (and everything under
    // it) appearing 3x.
    val gated = graft.operators.Materialize(
      graft.operators.Curation.gate(cleaned)
        .withColumn("domain", syntheticDomain))
    val mixed = graft.operators.Sampling.temperatureMixture(
      gated, col("domain"),
      alpha = 0.5, targetFraction = 0.5)
    graft.operators.Sampling.assignSplits(mixed,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .groupBy(col("domain"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("domain"), col("split"))
  }

  /** Composed CCNet flagship (Wenzek et al. 2020, the pipeline order of
    * the paper): paragraph-hash boilerplate removal (dd10) → language
    * identification + 'und' gate (ta2's marker argmax as a projection) →
    * per-LANGUAGE perplexity terciles on the cleaned text (ta17, LM
    * self-trained on the gated corpus) → keep head+middle, CCNet's
    * default training slice. One chained plan; the oracle replays all
    * four stages (dd10's hot-set CTEs → the ta2 SELECT on the cleaned
    * corpus → the ta16/ta17 LM + NTILE chain trained on the gated set).
    * Per-doc output, so the hash pins every doc's language, LM score AND
    * bucket through the whole composition.
    */
  private def pipeCcnet(spark: SparkSession, dir: String): DataFrame = {
    // Same post-dd10 re-spread as pipe_training_mix: without it the
    // Materialize below checkpointed ONE AQE-coalesced partition, so the
    // whole lang-pred + quality chain ran on one core (ProfileQ r15:
    // 6.1 s single-task localCheckpoint stage, cpu 5.1 s).
    val cleaned = Dedup.dropRepeatedParagraphs(
        tbl(spark, dir, "documents").withColumn("text", plantedBoiler),
        minOccurrences = 10L)
      .select(col("doc_id"), col("clean_text").as("text"))
      .repartition(spark.sparkContext.defaultParallelism,
        xxhash64(col("doc_id")))
    // Materialize the gated corpus: the LM trains on it through THREE
    // plan branches (unigram, bigram, final join), and without the cut
    // Catalyst substitutes the 5-language argmax lambda into each
    // branch's filter and recomputes dd10 per branch (measured 8.2 s →
    // the sum of its stages at sf0.1). Same persisted-gate-subtree
    // discipline as pipe_curation.
    val gated = graft.operators.Materialize(TextAnalysis.withLangPred(cleaned)
      .filter(col("lang_pred") =!= "und")
      .select(col("doc_id"), col("text"), col("lang_pred")))
    TextAnalysis.perplexityBuckets(gated, col("lang_pred"))
      .filter(col("bucket") =!= "tail")
      .select(col("doc_id"), col("domain").as("lang"), col("n_bigrams"),
        col("avg_logprob"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Composed data-prep flagship: NFC normalization → benchmark
    * decontamination → deterministic split assignment as ONE chained plan
    * — each stage is the proven form of its standalone query (ta9, dc2,
    * sp1), so the oracle checks the composition, not just the parts.
    * Normalization feeds the decontamination shingles (its contract: dedup
    * and n-gram ops run on normalized text).
    */
  private def pipePrep(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val normalized = TextAnalysis.normalizeText(docs)
      .select(col("doc_id"), col("norm_text").as("text"))
    val clean = graft.operators.Dedup.decontaminate(
      normalized.filter(col("doc_id") % 10 =!= 0),
      normalized.filter(col("doc_id") % 10 === 0), "text", 5)
    graft.operators.Sampling.assignSplits(clean,
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Curation funnel: one row of per-stage survivor counts with the exact
    * stage semantics of pipe_curation.
    */
  private def pipeCurationFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.funnelReport(
      tbl(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** Incremental curation flagship: odd-id docs are the NEW daily batch,
    * even-id docs the existing curated corpus — gates on the batch only,
    * exact-fp dedup against both the batch and existing, and near-dup
    * contamination over the union graph (a new doc near-duplicating
    * existing content drops; purely-new near-dup groups keep their min).
    * End-to-end oracle composed from the proven gate / dd4 / closure CTEs.
    */
  private def pipeCurationIncr(spark: SparkSession, dir: String,
      lsh: Boolean = false): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Curation.curateIncremental(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      lshPrefilter = lsh)
      .orderBy(col("doc_id"))
  }

  /** PIPE_CURATION_SNAP: a REAL workload through the lakehouse read path
    * (r13 stretch #8 — the s18 loop proven composable, not just
    * self-gated): documents are committed doc_id-clustered with per-file
    * stats at one snapshot version, and the incremental curation pass
    * (the pipe_curation_incr operator verbatim, split on the doc_id
    * midpoint instead of parity so the split is RANGE-prunable — the
    * "curate last night's drop" shape) sources BOTH sides from
    * version-pinned, manifest-validated, stats-PRUNED reads
    * ([[graft.operators.FileSkipping.prunedParquetTyped]]): the new-band
    * read opens only the files covering the upper half. Result held to
    * the full incremental-curation DuckDB oracle (gates, exact prefix
    * dedup vs existing, near-dup closure with contamination routing) —
    * any mis-prune loses or duplicates a document and hash-fails.
    */
  private def pipeCurationSnap(spark: SparkSession, dir: String,
      lsh: Boolean = false): DataFrame = {
    import graft.operators.FileSkipping.LongRange
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val m = docs.agg(max(col("doc_id"))).head().getLong(0)
    withScratch("graft_psnap_") { root =>
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/stage_data")
      FileSkipping.fileStats(spark.read.parquet(s"$root/stage_data"),
          Seq("doc_id"))
        .withColumn("__file", Sinks.fileNameCol)
        .coalesce(1).write.parquet(s"$root/stage_stats")
      val v = Sinks.publishSnapshotStaged(Map(
        "data" -> ((s"$root/stage_data", "doc_id")),
        "file_stats" -> ((s"$root/stage_stats", "__file"))),
        s"$root/snap", spark)
      val snap = Sinks.readSnapshot(spark, s"$root/snap", Some(v))
      val dataDir = new java.net.URI(snap("data").inputFiles.head).getPath
        .replaceAll("/[^/]+$", "")
      val stats = snap("file_stats")
        .withColumn("__file", concat(lit(s"$dataDir/"), col("__file")))
      val schema = snap("data").schema
      def bandRead(lo: Long, hi: Long): DataFrame =
        FileSkipping.prunedParquetTyped(spark, stats,
            Seq(LongRange("doc_id", lo, hi)), schema,
            tableDir = Some(dataDir))
          .filter(col("doc_id").between(lo, hi))
      // lazy plans reference the scratch snapshot — materialize before
      // the scratch is deleted
      graft.operators.Materialize(
        graft.operators.Curation.curateIncremental(
          bandRead(m / 2 + 1, m), bandRead(0L, m / 2), lshPrefilter = lsh)
          .orderBy(col("doc_id")))
    }
  }

  /** Curation flagship: the composed training-data pass (TA2 language gate
    * -> TA1 quality gate -> DD1b exact prefix dedup -> DD4/DD7 near-dup
    * components -> DD8 keeper selection) as ONE registered query with an
    * end-to-end oracle. See [[graft.operators.Curation]] for the scale
    * shape.
    */
  private def pipeCuration(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.curate(tbl(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** The full curation chain with the near-dup stage on the MinHash-LSH →
    * verify composition (the 100 TB operating point; SCALE.md §scale-probe
    * measured the exact inverted-index stage going candidate-quadratic at
    * 10x while this form stays linear) — held to pipe_curation's oracle
    * VERBATIM: on this corpus banding recall is 1.0 (all near-dup pairs
    * sit at jaccard ≥ 0.89, where P(band miss) ≤ 2e-3 per pair and the
    * measured candidate set contains every dd4 pair), so the curated
    * output must be bit-identical.
    */
  private def pipeCurationLsh(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.curate(tbl(spark, dir, "documents"),
        lshPrefilter = true)
      .orderBy(col("doc_id"))

  /** S8: small-files compaction, driver-checked end-to-end — documents are
    * fragmented into 20 small parquet files (the post-streaming /
    * per-batch-append shape), compacted by size with
    * [[operators.CorpusOps.compactParquet]] (coalesce — no shuffle), and
    * read back. The oracle checks data integrity (every row survives the
    * roundtrip) AND the compaction itself: n_files_after is a column, and
    * the oracle pins it to the size-derived expectation (1 at test SF).
    */
  private def s8CompactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    withScratch("graft_s8_") { out =>
      tbl(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
        .repartition(20)
        .write.mode("overwrite").parquet(s"$out/frag")
      operators.CorpusOps.compactParquet(spark, s"$out/frag", s"$out/compact")
      val compacted = spark.read.parquet(s"$out/compact")
      graft.operators.Materialize(
        compacted.withColumn("n_files_after", lit(compacted.inputFiles.length)))
        .orderBy(col("doc_id"))
    }
  }

  /** CL4: the SemDeDup-deduplicated corpus itself (pairs → components →
    * min-id keeper anti-join) on the planted near-dup embedding corpus —
    * rows-only (the pair stage rides the non-SQL k-means model); each
    * composed stage is oracled on its standalone query and
    * `cl2_containment` hash-checks the pair set's precision.
    */
  private def cl4SemdedupCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.semDedupCorpus(
        nearDupEmbeddings(tbl(spark, dir, "embeddings")), 0.85,
        trainSampleMod = 4)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  /** S3: recursive tree-JSON ingestion, driver-checked end-to-end — chunk
    * trees are serialized to the reference's `{type,text,children}` JSON
    * shape and parsed back through TreeOps.fromJsonStrings; the resulting
    * pre-order adjacency has a closed-form oracle
    * (OracleSqlGen.s3TreeIngestSql). Reference: data_1/document_tree.json,
    * run_full_evaluation_pipeline.py:502-530.
    */
  private def s3TreeIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TreeOps
    val jsons = TreeOps.chunkTreeJson(CorpusOps.documents(spark, dir), 16, 2, 3)
    TreeOps.fromJsonStrings(spark, jsons)
      .orderBy(col("doc_id"), col("node_id"))
  }

  /** pipe_training_mix oracle: the dd10 paragraph-removal CTEs feed the
    * curation gate CTEs (gateCtes parameterized on the cleaned corpus),
    * then the mx2 rate derivation over the GATED domain counts, then the
    * sp1 keyed-hash split thresholds — the full five-stage replay.
    */
  private def trainingMixSql: String =
    s"""WITH $boilerCleanCtes,
     ${gateCtes("cleaned")},
     dom AS (SELECT doc_id, $domainSql AS domain FROM cgated),
     dc AS (SELECT domain, COUNT(*) AS nd FROM dom GROUP BY domain),
     dt AS (
       SELECT CAST(SUM(nd) AS DOUBLE) AS ntot,
         CAST(SUM(CAST(round(pow(CAST(nd AS DOUBLE), 0.5), 9)
           AS DECIMAL(38,10))) AS DOUBLE) AS z
       FROM dc),
     dr AS (
       SELECT domain,
         least(1.0, round(pow(CAST(nd AS DOUBLE), 0.5), 9) / z
           * (0.5 * ntot) / CAST(nd AS DOUBLE)) AS rate
       FROM dc, dt),
     samp AS (
       SELECT d.doc_id, d.domain FROM dom d JOIN dr USING (domain)
       WHERE ${md5UnitSql("temp", "d.doc_id")} < dr.rate),
     spl AS (
       SELECT doc_id, domain, $splitCaseSql AS split
       FROM (SELECT doc_id, domain, ${md5UnitSql("split")} AS u FROM samp))
     SELECT domain, split, CAST(COUNT(*) AS BIGINT) AS n_docs
     FROM spl GROUP BY 1, 2 ORDER BY 1, 2"""

  /** pipe_ccnet oracle: dd10's hot-set removal CTEs → the ta2 lang-ID
    * SELECT on the cleaned corpus (langIdSqlOn, reused verbatim) → the
    * ta16 LM chain RE-TRAINED ON THE GATED SET → ta17's NTILE per
    * language → drop the tail tercile.
    */
  private def ccnetSql: String =
    s"""WITH $boilerCleanCtes,
     lang AS (${langIdSqlOn("cleaned")}),
     gated AS (
       SELECT c.doc_id, c.text, l.lang_pred
       FROM cleaned c JOIN lang l USING (doc_id)
       WHERE l.lang_pred <> 'und'),
     ${bigramLmCtes("gated")},
     $lmMeanCte,
     ranked AS (
       SELECT lm2.doc_id, g.lang_pred AS lang, lm2.n_bigrams,
         lm2.avg_logprob,
         NTILE(3) OVER (PARTITION BY g.lang_pred
           ORDER BY lm2.avg_logprob DESC, lm2.doc_id) AS tercile
       FROM lm2 JOIN gated g ON lm2.doc_id = g.doc_id)
     SELECT doc_id, lang, n_bigrams, avg_logprob,
       CASE tercile WHEN 1 THEN 'head' ELSE 'middle' END AS bucket
     FROM ranked WHERE tercile <> 3 ORDER BY doc_id"""

  /** ev8's left-outer attribution (unmatched purchases carry -1
    * sentinels); ev8b's binning must be invisible.
    */
  private val ev8AttributionSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
         COALESCE(c.event_id, -1) AS click_id,
         COALESCE(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
       ORDER BY purchase_id, click_id"""

  private def gateCtes(src: String = "documents"): String = {
    val en = TextAnalysis.StopwordMarkers("en").map(s => s"'$s'").mkString(", ")
    val langs = TextAnalysis.StopwordMarkers.keys.toSeq.sorted
    def hits(l: String) = {
      val words = TextAnalysis.StopwordMarkers(l).map(s => s"'$s'").mkString(", ")
      s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> list_contains([$words], x)))"
    }
    val hitCols = langs.map(l => s"${hits(l)} AS hits_$l").mkString(", ")
    val maxExpr = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val caseExpr = langs.map(l => s"WHEN hits_$l = m THEN '$l'").mkString(" ")
    s"""cq AS (
  SELECT doc_id, ${tok("text")} AS n_tokens, length(text) AS n_chars,
    round(CASE WHEN ${tok("text")} = 0 THEN 0.0
      ELSE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> list_contains([$en], x))) * 1.0 / ${tok("text")} END, 4) AS stopword_ratio,
    round(CASE WHEN length(text) = 0 THEN 0.0
      ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / length(text) END, 4) AS punct_ratio
  FROM $src),
cl AS (
  SELECT doc_id, CASE WHEN m <= 0 THEN 'und' $caseExpr END AS lang_pred
  FROM (SELECT doc_id, $hitCols, $maxExpr AS m FROM $src)),
cgated AS (
  SELECT d.doc_id, d.text, cl.lang_pred, cq.n_tokens, cq.n_chars, cq.stopword_ratio
  FROM $src d JOIN cq USING (doc_id) JOIN cl USING (doc_id)
  WHERE cl.lang_pred = 'en' AND cq.stopword_ratio >= 0.01
    AND cq.n_tokens >= 5 AND cq.punct_ratio <= 0.30)"""
  }

  /** stream_curation oracle: exactly one survivor per distinct prefix
    * fingerprint among gated docs — the count the streaming path must
    * reproduce regardless of which group member arrived first.
    */
  private def streamCurationSql: String =
    s"""WITH ${gateCtes()}
SELECT CAST(COUNT(DISTINCT md5(substr(text, 1, 100))) AS BIGINT) AS n_curated
FROM cgated"""

  /** pipe_curation_incr oracle: odd ids = new batch, even ids = existing.
    * Survivor rule (matching Curation.curateIncremental): gated, first
    * in-batch per prefix fingerprint, fingerprint unseen in existing, and
    * not in a near-dup component touching existing (else min-of-pure-new
    * component). Same gate / shingle-jaccard / transitive-closure CTE
    * fragments as the batch oracle.
    */
  private def curationIncrSql: String =
    curationIncrSqlWith("doc_id % 2 = 1", "doc_id % 2 = 0")

  /** The incremental-curation oracle parameterized on the new/existing
    * split predicates — `pipe_curation_incr` splits on parity,
    * `pipe_curation_snap` on the doc_id midpoint (the range-prunable
    * form its snapshot reads skip files by).
    */
  private def curationIncrSqlWith(newPred: String, existPred: String)
      : String = {
    s"""WITH RECURSIVE ${gateCtes()},
ngated AS (SELECT * FROM cgated WHERE $newPred),
exist AS (SELECT doc_id, text FROM documents WHERE $existPred),
nkeep AS (
  SELECT md5(substr(text, 1, 100)) AS fp, MIN(doc_id) AS doc_id
  FROM ngated GROUP BY 1),
nkeep2 AS (
  SELECT doc_id FROM nkeep
  WHERE fp NOT IN (SELECT md5(substr(text, 1, 100)) FROM exist)),
nexact AS (SELECT g.* FROM ngated g JOIN nkeep2 USING (doc_id)),
uni AS (SELECT doc_id, text FROM nexact UNION ALL SELECT doc_id, text FROM exist),
${jaccardComponentCtes("uni")},
contam AS (SELECT DISTINCT component FROM comp WHERE $existPred),
ulosers AS (
  SELECT doc_id FROM comp WHERE component IN (SELECT component FROM contam)
  UNION
  SELECT doc_id FROM comp WHERE component <> doc_id)
SELECT doc_id, lang_pred, n_tokens, n_chars, stopword_ratio
FROM nexact WHERE doc_id NOT IN (SELECT doc_id FROM ulosers)
ORDER BY doc_id"""
  }

  /** The exact-dedup + near-dup-closure CTE chain over `cgated` (needs
    * [[gateCtes]]; recursive) — shared by the curation, funnel, and any
    * future composed-curation oracles.
    */
  private def curationChainCtes: String =
    s"""ckeep AS (
  SELECT MIN(doc_id) AS doc_id FROM cgated GROUP BY md5(substr(text, 1, 100))),
cexact AS (SELECT g.* FROM cgated g JOIN ckeep USING (doc_id)),
${jaccardComponentCtes("cexact")},
closers AS (SELECT doc_id FROM comp WHERE component <> doc_id)"""

  private def curationSql: String = {
    s"""WITH RECURSIVE ${gateCtes()},
$curationChainCtes
SELECT doc_id, lang_pred, n_tokens, n_chars, stopword_ratio
FROM cexact WHERE doc_id NOT IN (SELECT doc_id FROM closers)
ORDER BY doc_id"""
  }

  /** Funnel oracle: one row of per-stage survivor counts off the same CTE
    * chain the curation oracle uses (a funnel that disagrees with the
    * pipeline it describes is worse than none).
    */
  private def curationFunnelSql: String = {
    s"""WITH RECURSIVE ${gateCtes()},
$curationChainCtes
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_total,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cl WHERE lang_pred = 'en') AS n_lang_pass,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cgated) AS n_gate_pass,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cexact) AS n_exact_keep,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cexact
     WHERE doc_id NOT IN (SELECT doc_id FROM closers)) AS n_curated"""
  }

  private def corpusJoinEntries: Seq[(String, Entry)] = Seq(
    "s2_paired_scan" -> Entry(s2Paired(_, _), Some(
      """SELECT d.doc_id, d.n_chars, e.label FROM documents d
         JOIN embeddings e ON d.doc_id = e.vec_id ORDER BY d.doc_id""")),
    "s6_incremental" -> Entry(s6Incremental(_, _), Some(
      """SELECT doc_id FROM documents
         WHERE NOT EXISTS (SELECT 1 FROM embeddings
                           WHERE vec_id = doc_id AND vec_id % 3 != 0)
         ORDER BY doc_id""")),
    "s7_health" -> Entry(s7Health(_, _), Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
         CAST(SUM(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
         CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_ids,
         MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         FROM documents""")),
    // s12: the manifest aggregates replayed — count + bit_xor of the
    // md5-prefix-long key fingerprint (order/partitioning-independent);
    // manifest_ok = 1 is meaningful because readPublished THROWS on any
    // data/manifest mismatch before this row can exist
    "s12_manifest_publish" -> Entry(s12ManifestPublish(_, _), Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT)) AS key_xor,
           1 AS manifest_ok
         FROM documents""")),
    // s14: the snapshot lifecycle's emitted counts are pure functions of
    // the source tables; v_latest = 1 is the torn-publish invariant
    "s14_snapshot_publish" -> Entry(s14SnapshotPublish(_, _), Some("""
SELECT CAST(1 AS BIGINT) AS v_latest,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS docs_latest,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0) AS docs_v0,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS emb_latest""")),
    // s15: MERGE INTO replayed — the changelog's last-write-wins window
    // (seq DESC, op DESC), the anti-join of base against changed keys,
    // and the upsert union
    "s15_cdc_apply" -> Entry(s15CdcApply(_, _), Some("""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
ch AS (
  SELECT doc_id, 'updated ' || doc_id AS text, 'update' AS op, 1 AS seq
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, '' AS text, 'delete' AS op, 2 AS seq
  FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'inserted ' || doc_id AS text,
    'insert' AS op, 1 AS seq
  FROM documents WHERE doc_id % 2 = 1),
lt AS (
  SELECT doc_id, text, op FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY seq DESC, op DESC) AS rn FROM ch) WHERE rn = 1),
res AS (
  SELECT b.doc_id, b.text FROM base b
  LEFT JOIN lt ON b.doc_id = lt.doc_id WHERE lt.doc_id IS NULL
  UNION ALL
  SELECT doc_id, text FROM lt WHERE op <> 'delete')
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
FROM res ORDER BY doc_id""")),
    // s4: the oracle recomputes the summary straight from documents — both
    // read-back paths (parquet table, per-doc txt files for doc_id < 200)
    // must reproduce it bit-for-bit or the hash check fails
    "s4_sink_roundtrip" -> Entry(s4SinkRoundtrip(_, _), Some(
      s"""SELECT doc_id,
         array_to_string(string_split_regex(trim(text), '\\s+')[1:15], ' ') AS summary,
         ${tok("text")} AS n_tokens,
         CASE WHEN doc_id < 200
           THEN array_to_string(string_split_regex(trim(text), '\\s+')[1:15], ' ')
         END AS file_summary
         FROM documents ORDER BY doc_id""")),
    // s5: stats block + section cardinalities of the JSON report,
    // recomputed independently (g6-style exact-decimal mean)
    "s5_report_sink" -> Entry(s5ReportSink(_, _), Some(
      s"""WITH v AS (
           SELECT 'n_tokens' AS metric, CAST(${tok("text")} AS DOUBLE) AS v FROM documents
           UNION ALL
           SELECT 'n_chars' AS metric, CAST(length(text) AS DOUBLE) AS v FROM documents),
         st AS (
           SELECT metric,
             round(${exactSumSql("v")} / COUNT(*), 4) AS mean_v,
             round(MIN(v), 4) AS min_v, round(MAX(v), 4) AS max_v,
             COUNT(*) AS n
           FROM v GROUP BY 1),
         hb AS (
           SELECT CAST(COUNT(DISTINCT CASE WHEN ${tok("text")} < 55 THEN 'short'
                                           WHEN ${tok("text")} < 65 THEN 'mid'
                                           ELSE 'long' END) AS INT) AS hist_buckets
           FROM documents),
         dn AS (SELECT CAST(least(100, COUNT(*)) AS INT) AS details_n FROM documents)
         SELECT metric, mean_v, min_v, max_v, n, hist_buckets, details_n
         FROM st, hb, dn ORDER BY metric""")),
    "stream_curation" -> Entry(streamCuration(_, _), Some(streamCurationSql)),
    // stream_ccingest: template → extraction (the shared ta19 CTEs) →
    // gate → one survivor per distinct gated prefix fingerprint
    "stream_ccingest" -> Entry(streamCcIngest(_, _), Some(
      s"""WITH ${htmlExtractCtes()},
         xdocs AS (SELECT doc_id, t AS text FROM xs4),
         ${gateCtes("xdocs")}
         SELECT CAST(COUNT(DISTINCT md5(substr(text, 1, 100))) AS BIGINT)
           AS n_curated
         FROM cgated""")),
    // stream_dedup: first-arrival-wins over one replay == distinct prefix
    // fingerprints (the dd1b derivation)
    "stream_dedup" -> Entry(streamDedup(_, _), Some(
      """SELECT CAST(COUNT(DISTINCT md5(substr(text, 1, 100))) AS BIGINT)
           AS n_unique FROM documents""")),
    // stream_neardup: one AvailableNow batch == the batch greedy rule —
    // held to dd14's oracle verbatim
    "stream_neardup" -> Entry(streamNeardup(_, _), Some(lshGreedyDedupSql())),
    // stream_decontam: the dc2 composition as a survivor count
    "stream_decontam" -> Entry(streamDecontam(_, _), Some(
      s"""WITH ${benchShingleCtes()},
         $flaggedCte
         SELECT CAST(COUNT(*) AS BIGINT) AS n_clean FROM documents
         WHERE doc_id % 10 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM flagged)""")),
    // stream_state_gate: the observability table's accounting equals
    // exact ground truth (input rows == corpus count, final dedup state
    // rows == distinct fingerprints)
    "stream_state_gate" -> Entry(streamStateGate(_, _), Some(
      "SELECT 1 AS has_batches, 1 AS input_match, 1 AS state_match")),
    // stream_index_append: the streamed inverted file is row-identical
    // to the batch build with the same frozen centroid model
    "stream_index_append" -> Entry(streamIndexAppend(_, _), Some(
      "SELECT 1 AS rows_match, 1 AS assign_match")),
    // stream_drift_gate: the centroid-drift monitor flags the planted
    // drifted batch and nothing else (exact per-batch flag parity)
    "stream_drift_gate" -> Entry(streamDriftGate(_, _), Some(
      "SELECT 1 AS has_batches, 1 AS planted_ok, 1 AS flag_match")),
    // stream_index_rebuild: the drift-triggered rebuild + atomic swap —
    // exactly one rebuild fired by the planted batch, the rebuilt index
    // row/bit-identical to a from-scratch build over the covered
    // corpus, v0 still served intact, and the post-swap base+delta
    // index complete and able to retrieve the planted direction
    "stream_index_rebuild" -> Entry(streamIndexRebuild(_, _), Some(
      """SELECT 1 AS has_batches, 1 AS planted_ok, 1 AS flag_match,
           1 AS rebuilt_once, 1 AS rebuilt_identical, 1 AS preswap_ok,
           1 AS served_complete, 1 AS served_ok""")),
    "stream_classify" -> Entry(streamClassify(_, _), Some(ta18NbSql)),
    // stream_classify_lr: sink rows held VERBATIM to the all-docs batch
    // replay of the trained scorer (train-batch/score-stream invisibility)
    "stream_classify_lr" -> Entry(streamClassifyLr(_, _),
      Some(OracleSqlGen.cls1ScoresStreamSql())),
    // ev6: the stream-stream join's output set == the batch equi+range
    // join (watermarks only bound state, never drop in-window rows here:
    // the whole replay fits one micro-batch per side)
    "ev6_stream_join" -> Entry(ev6StreamJoin(_, _), Some(
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM events p JOIN events c ON p.user_id = c.user_id
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
         ORDER BY purchase_id, click_id""")),
    "ev8_attribution_outer" -> Entry(ev8AttributionOuter(_, _), Some(ev8AttributionSql)),
    "ev8b_attribution_binned" -> Entry(ev8bAttributionBinned(_, _),
      Some(ev8AttributionSql)),
    "pipe_training_mix" -> Entry(pipeTrainingMix(_, _), Some(trainingMixSql)),
    "pipe_ccnet" -> Entry(pipeCcnet(_, _), Some(ccnetSql)),
    // pipe_prep: normalize -> decontaminate -> split, each stage the
    // standalone oracle's form, chained (normalized text feeds the shingles)
    "pipe_prep" -> Entry(pipePrep(_, _), Some(
      s"""WITH norm AS (SELECT doc_id, $normalizeTextSql AS text FROM documents),
         ${benchShingleCtes("norm")},
         $flaggedCte,
         clean AS (
           SELECT doc_id FROM norm
           WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         u AS (SELECT doc_id, ${md5UnitSql("split")} AS u FROM clean)
         SELECT doc_id, $splitCaseSql AS split
         FROM u ORDER BY doc_id""")),
    "pipe_curation_funnel" -> Entry(pipeCurationFunnel(_, _), Some(curationFunnelSql)),
    "pipe_curation_incr" -> Entry(pipeCurationIncr(_, _), Some(curationIncrSql)),
    // the shingle-hash-LSH incremental form must curate identically
    // (8x2 banding recall 1.0 on this corpus) — same oracles verbatim
    "pipe_curation_incr_lsh" -> Entry(pipeCurationIncr(_, _, lsh = true),
      Some(curationIncrSql)),
    "pipe_curation_snap" -> Entry(pipeCurationSnap(_, _), Some(curationIncrSqlWith(
      "doc_id * 2 > (SELECT MAX(doc_id) FROM documents)",
      "doc_id * 2 <= (SELECT MAX(doc_id) FROM documents)"))),
    "pipe_curation_snap_lsh" -> Entry(pipeCurationSnap(_, _, lsh = true),
      Some(curationIncrSqlWith(
      "doc_id * 2 > (SELECT MAX(doc_id) FROM documents)",
      "doc_id * 2 <= (SELECT MAX(doc_id) FROM documents)"))),
    "pipe_curation" -> Entry(pipeCuration(_, _), Some(curationSql)),
    // the LSH-prefiltered chain must curate identically here (banding
    // recall 1.0 on this corpus) — same oracle verbatim
    "pipe_curation_lsh" -> Entry(pipeCurationLsh(_, _), Some(curationSql)),
    // g1c: the hot-key corpus (doc 0 = every fifth order, ~20% of chunks)
    // still held to the direct ordered string_agg — the salted path must be
    // indistinguishable from the unsalted collect ON the skewed key
    // s8: roundtrip integrity + the size-derived file count (1 at test SF)
    "s8_compact_roundtrip" -> Entry(s8CompactRoundtrip(_, _), Some(
      """SELECT doc_id, n_chars, 1 AS n_files_after
         FROM documents ORDER BY doc_id""")),
    "cl4_semdedup_corpus" -> Entry(cl4SemdedupCorpus(_, _)),
    "s3_tree_ingest" -> Entry(s3TreeIngest(_, _), Some(OracleSqlGen.s3TreeIngestSql)))

  // ------------------------------------------------------------ multimodal

  /** MM1: opaque binary column plumbing — payload bytes + checksum + a
    * clearly-STUBBED deterministic "decode" (width/height derived from the
    * checksum; real decoders slot into the same schema per-partition).
    */
  private def mm1BinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val payload = col("text").cast("binary")
    val digest = md5(payload)
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        length(payload).cast("long").as("n_bytes"),
        digest.as("payload_md5"),
        // STUB decode: pretend the first md5 bytes are image dims
        (conv(substring(digest, 1, 4), 16, 10).cast("long") % 1920).as("width"),
        (conv(substring(digest, 5, 4), 16, 10).cast("long") % 1080).as("height"))
      .orderBy(col("doc_id"))
  }

  /** MM2: typed metadata decode over the binary payload via the
    * per-partition decoder (STUB codec, real mapPartitions plumbing); the
    * stub is md5-derived so the whole path has an exact SQL oracle.
    */
  private def mm2DecodeMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(Multimodal.withPayload(tbl(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** MM4: media feature extraction (STUB encoder) — the feature vector
    * plugs into the similarity ops; oracled via its L2 norm (md5-derived
    * features are exactly reproducible in SQL).
    */
  private def mm4FeatureNorm(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.withPayload(tbl(spark, dir, "documents")), 8)
      .select(col("doc_id"), size(col("features")).as("dim"),
        r4(graft.functions.vecNormF(col("features"))).as("feat_norm"))
      .orderBy(col("doc_id"))

  /** MM5: payload resize (STUB re-encode) — rows-only; the mapPartitions
    * plumbing is the product, the codec is the stub.
    */
  /** MM5: stub resize to 64x48 (single-byte ASCII big-endian dims, so the
    * stub's digest-of(payload ++ dim bytes) is exactly md5(text||chr(64)||
    * chr(48)) in DuckDB — the resized BYTES are oracle-verified, not just
    * their length).
    */
  private def mm5Resize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizePayloads(Multimodal.withPayload(tbl(spark, dir, "documents")), 64, 48)
      .select(col("doc_id"), lower(hex(col("resized"))).as("resized_md5"),
        col("n_bytes"))
      .orderBy(col("doc_id"))

  /** MM3: frame sampling (every 10th frame) — one row per sampled frame. */
  private def mm3FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.withPayload(tbl(spark, dir, "documents")), 10)
      .select(col("doc_id"), col("frame_idx"), length(col("frame")).as("frame_bytes"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** MM6: REAL codec round-trip (JdkMedia.scala) — render a genuine PNG
    * per doc at doc_id-derived dimensions, parse it back with the JDK
    * ImageIO decoder, resize it with a real Graphics2D re-encode, and
    * parse THAT back. The oracle predicts every decoded dimension from
    * doc_id alone, so it only matches if ImageIO actually parsed the
    * containers both times — the codec is no longer a stub. Map-only
    * except the final doc_id join of the two decode branches.
    */
  private def mm6CodecRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JdkMedia
    val dims = tbl(spark, dir, "documents").select(
      col("doc_id"),
      (lit(16) + pmod(col("doc_id"), lit(13)) * 4).cast("int").as("w"),
      (lit(16) + pmod(col("doc_id"), lit(7)) * 4).cast("int").as("h"))
    // both decode branches reference the rendered table; materialize it so
    // the PNG encode (the dominant cost) runs once, not per branch
    val media = graft.operators.Materialize(JdkMedia.withRenderedPng(dims, "w", "h"))
    val decoded = Multimodal.decodeMeta(media, JdkMedia.JdkMediaDecoder)
      .select(col("doc_id"), col("format"), col("width"), col("height"), col("n_frames"))
    val redecoded = Multimodal.decodeMeta(
        Multimodal.resizePayloads(media, 24, 18, JdkMedia.JdkMediaDecoder)
          .select(col("doc_id"), col("resized").as("payload")),
        JdkMedia.JdkMediaDecoder)
      .select(col("doc_id"), col("width").as("r_width"), col("height").as("r_height"))
    decoded.join(redecoded, "doc_id").orderBy(col("doc_id"))
  }

  /** mm6b: the fused single-pass codec round-trip — one mapPartitions
    * does decode + resize + re-decode per row, so the rendered-PNG table
    * is scanned once, nothing is materialized, and no join ships payloads
    * through an exchange. The one exchange that DOES happen is the cheap
    * one: the dims table (doc_id + two ints) is repartitioned to the
    * session's parallelism BEFORE the codec chain, because a small
    * parquet input otherwise scans as one partition and would serialize
    * all the codec work on one core — the repartition ships ~12 bytes/row
    * where mm6's materialize+join ships whole payloads. Held to mm6's
    * oracle verbatim.
    */
  private def mm6bCodecFused(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JdkMedia
    val dims = tbl(spark, dir, "documents").select(
      col("doc_id"),
      (lit(16) + pmod(col("doc_id"), lit(13)) * 4).cast("int").as("w"),
      (lit(16) + pmod(col("doc_id"), lit(7)) * 4).cast("int").as("h"))
    Multimodal.codecRoundtripFused(JdkMedia.withRenderedPng(dims, "w", "h"),
        24, 18, JdkMedia.JdkMediaDecoder)
      .orderBy(col("doc_id"))
  }

  /** MM7: REAL WAV round-trip — render genuine 16-bit PCM WAV containers
    * (frame count / channel count derived from doc_id), parse them back
    * via javax.sound; the oracle predicts sample rate, channels and frame
    * count, which only match if the RIFF header was truly parsed.
    */
  private def mm7WavRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JdkMedia
    val dims = tbl(spark, dir, "documents").select(
      col("doc_id"),
      (lit(256) + pmod(col("doc_id"), lit(512))).cast("int").as("nf"),
      (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"))
    Multimodal.decodeMeta(
        JdkMedia.withRenderedWav(dims, "nf", "ch", sampleRate = 8000),
        JdkMedia.JdkMediaDecoder)
      .select(col("doc_id"), col("format"), col("width").as("sample_rate"),
        col("height").as("channels"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** MM9: audio signal features (RMS + zero-crossing rate) over REAL
    * decoded WAV — each doc renders a ±12000 square wave (nf = 256 +
    * id%512 frames, half-cycle p = 2 + id%7) into a real WAV container,
    * the JDK codec parses it back, and the features compute from the
    * decoded samples. FULL oracle: every sample is a pure integer
    * function of its index, so the SQL replays the waveform and both
    * feature formulas exactly.
    */
  private def mm9AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JdkMedia
    // repartition off the (possibly single) input split BEFORE the
    // render+decode map chain — the mm6b/eval_bertscore_tx discipline;
    // the 1x probe measured 26 s single-partition vs ~2 s spread
    val dims = tbl(spark, dir, "documents").select(
      col("doc_id"),
      (lit(256) + pmod(col("doc_id"), lit(512))).cast("int").as("nf"),
      (lit(2) + pmod(col("doc_id"), lit(7))).cast("int").as("p"))
    JdkMedia.audioSignalFeatures(
        JdkMedia.withRenderedWavSquare(dims, "nf", "p", sampleRate = 8000))
      .orderBy(col("doc_id"))
  }

  /** MM8: perceptual near-dup over REAL decoded images — the media analog
    * of dd5's SimHash text near-dup, proving the codec pipeline
    * (render → real parse → 9x8 rescale → dHash) preserves perceptual
    * identity under rescale with real Hamming separation. Each doc
    * renders ITS master's block pattern (doc_id % 16) at a doc-specific
    * size; the invariants — every variant within 6 bits of its master's
    * canonical hash, every distinct master pair ≥ 14 bits apart (measured
    * margins: 0 and 21) — are verified in-query, the oracle checks the
    * booleans (the ss7 literal-gate pattern; pixel bytes are
    * JDK-rescaler-dependent, the INVARIANTS are the contract). All
    * map-only into three one-row aggregates.
    */
  private def mm8MediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.JdkMedia
    val variantHash = udf((m: Long, w: Int, h: Int) =>
      JdkMedia.dHash(JdkMedia.renderBlockPng(1000L + m, w, h)))
    val docs = tbl(spark, dir, "documents").select(
      col("doc_id"),
      pmod(col("doc_id"), lit(16)).as("master_id"),
      (lit(36) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
      (lit(32) + pmod(col("doc_id"), lit(16))).cast("int").as("h"))
    // canonical hashes and the cross-master separation live on the
    // DISTINCT master list — metadata-scale (≤16 residues of doc_id) —
    // so both happen once on the driver; the corpus pays exactly one
    // render+decode+hash per row and one broadcast join. Fewer than two
    // masters = vacuously separated. The VARIANT hashing is deliberately
    // NOT deduped even though the fixture has ≤48 distinct
    // (master, w, h) combos: the fixture stands in for real corpora
    // whose payloads are all distinct — per-row codec cost IS the
    // workload being measured, not waste to optimize away.
    val masterIds = docs.select(col("master_id")).distinct()
      .as[Long].collect().sorted
    val masterHashes = masterIds.map(m =>
      m -> JdkMedia.dHash(JdkMedia.renderBlockPng(1000L + m, 64, 48)))
    val interMin = (for {
      i <- masterHashes.indices; j <- i + 1 until masterHashes.length
    } yield java.lang.Long.bitCount(masterHashes(i)._2 ^ masterHashes(j)._2))
      .minOption.getOrElse(64)
    val masters = masterHashes.toSeq.toDF("master_id", "mhash")
    docs
      .select(col("master_id"),
        variantHash(col("master_id"), col("w"), col("h")).as("vhash"))
      .join(broadcast(masters), "master_id")
      .agg(countDistinct(col("master_id")).as("n_masters"),
        max(bit_count(col("vhash").bitwiseXOR(col("mhash")))).as("intra_max"))
      .select(col("n_masters"),
        (coalesce(col("intra_max"), lit(0)) <= 6).cast("int").as("intra_ok"),
        lit(if (interMin >= 14) 1 else 0).as("inter_ok"))
  }

  /** Q8: the model-backed extractive summarizer (embedding-MMR over the
    * hermetic transformer — llm.MmrSummarizer) on the q7 re-punctuated
    * corpus. Rows-only (the encoder has no SQL replay); q8_gate pins the
    * contract.
    */
  private def q8MmrSummaries(spark: SparkSession, dir: String): DataFrame = {
    val budget = 24
    val repunct = udf((t: String, l: Int) => if (t == null) ""
      else graft.core.Text.wsTokens(t).grouped(l)
        .map(_.mkString(" ") + ".").mkString(" "))
    val mmr = udf((t: String) =>
      graft.llm.MmrSummarizer.summarize(if (t == null) "" else t, budget))
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        mmr(repunct(col("text"),
          (lit(5) + pmod(col("doc_id"), lit(4))).cast("int"))).as("summary"))
      .withColumn("n_tokens",
        graft.functions.tokenCount(col("summary")))
      .orderBy(col("doc_id"))
  }

  /** Q8 gate (FULL literal oracle): every summary respects the 24-token
    * budget, is non-empty for a non-empty doc, a SECOND summarize call
    * reproduces it byte-for-byte (model determinism through the whole
    * sentence-split → embed → MMR → budget-walk chain), and selection is
    * doing semantic work: at least one doc's summary differs from the
    * lead baseline at the same budget.
    */
  private def q8Gate(spark: SparkSession, dir: String): DataFrame = {
    val budget = 24
    val repunct = udf((t: String, l: Int) => if (t == null) ""
      else graft.core.Text.wsTokens(t).grouped(l)
        .map(_.mkString(" ") + ".").mkString(" "))
    val both = udf((t: String) => {
      val t2 = if (t == null) "" else t
      Array(graft.llm.MmrSummarizer.summarize(t2, budget),
        graft.llm.MmrSummarizer.summarize(t2, budget),
        graft.llm.IdentitySummarizer.summarize(t2, budget))
    })
    tbl(spark, dir, "documents")
      .select(col("doc_id"), length(trim(col("text"))).as("src_len"),
        both(repunct(col("text"),
          (lit(5) + pmod(col("doc_id"), lit(4))).cast("int"))).as("g"))
      .select(
        (graft.functions.tokenCount(col("g")(0)) <= budget).cast("int").as("b"),
        (col("g")(0) === col("g")(1)).cast("int").as("d"),
        (col("src_len") === 0 || length(col("g")(0)) > 0).cast("int").as("ne"),
        (col("g")(0) =!= col("g")(2)).cast("int").as("sel"))
      .agg(min(col("b")).as("budget_pass"), min(col("d")).as("det_pass"),
        min(col("ne")).as("nonempty_pass"),
        (max(col("sel")) === 1).cast("int").as("selects_pass"),
        (count(lit(1)) > 0).cast("int").as("has_rows"))
  }

  /** Q7 (beyond-reference): in-process summarizer quality comparison —
    * the three deterministic scalars (extractive TF, lead-K, TextRank)
    * each summarize every document at the same budget, scored by
    * ROUGE-1/2 F against the eval family's token-slice reference proxy.
    * One scan fanned to three map-only UDF branches, no shuffle until
    * the final sort. The oracle replays ALL of it: the extractive CTE
    * block, the full 10-round TextRank chain, the lead truncation, and
    * the ROUGE chain — on a composite doc key (doc_id*4+variant) so the
    * proven rouge CTEs run untouched. Finding on this corpus: lead wins
    * (0.644/0.624/0.622 mean R1 at sf0.01) BECAUSE the reference proxy
    * is a front-of-doc token slice — the lead-bias every summarization
    * eval has to control for, reproduced measurably.
    */
  private def q7SummarizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val budget = 24
    // the synthetic docs are ONE long sentence (no punctuation), which
    // makes every extractive scalar trivially identical; re-punctuate
    // into doc-dependent sentence lengths so selection actually chooses
    // (the eval family's fabricate-the-fixture-in-query pattern)
    val repunct = udf((t: String, l: Int) => if (t == null) ""
      else graft.core.Text.wsTokens(t).grouped(l)
        .map(_.mkString(" ") + ".").mkString(" "))
    // the lead baseline is the plain token truncation (IdentitySummarizer
    // semantics) — text2 is already whitespace-normalized and the scalars
    // must all see the SAME input, so LeadSummarizer's tag-cleaning pass
    // would be the one asymmetric (and un-oracled) transformation
    val allGens = udf((t: String) => {
      val t2 = if (t == null) "" else t
      Array(
        graft.llm.ExtractiveSummarizer.summarize(t2, budget),
        graft.llm.IdentitySummarizer.summarize(t2, budget),
        graft.llm.TextRankSummarizer.summarize(t2, budget))
    })
    val toks = split(trim(col("text")), "\\s+")
    // ONE scan: repunct once per row, all three scalars in one UDF call,
    // then a 3-way posexplode — no union of scans
    val base = tbl(spark, dir, "documents").select(col("doc_id"),
      allGens(repunct(col("text"),
        (lit(5) + pmod(col("doc_id"), lit(4))).cast("int"))).as("gens"),
      array_join(slice(toks, 11, 30), " ").as("ref"))
    val names = array(lit("extractive"), lit("lead"), lit("textrank"))
    base
      .select(col("doc_id"), col("ref"),
        posexplode(col("gens")).as(Seq("pos", "gen")))
      .select(col("doc_id"), element_at(names, col("pos") + 1).as("summarizer"),
        col("gen"), col("ref"))
      .withColumn("rouge", graft.functions.udfs.rouge12Struct(col("gen"), col("ref")))
      .select(col("doc_id"), col("summarizer"),
        r4(col("rouge.rouge1_f")).as("rouge1_f"),
        r4(col("rouge.rouge2_f")).as("rouge2_f"))
      .orderBy(col("doc_id"), col("summarizer"))
  }

  private def q7CompareSql: String = {
    val b = 24
    OracleSqlGen.materialize(
      s"""WITH RECURSIVE q7_toks AS (
  -- wsTokens semantics: split on \\s+ and drop empties, so leading/
  -- trailing tabs/newlines cannot shift the grouping (DuckDB trim()
  -- strips spaces only and would)
  SELECT doc_id,
    list_filter(string_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS toks,
    5 + doc_id % 4 AS sl
  FROM documents),
q7_in AS (
  SELECT t.doc_id, 0 AS uid,
    string_agg(array_to_string(t.toks[k : k + t.sl - 1], ' ') || '.', ' ' ORDER BY k) AS txt
  FROM q7_toks t, LATERAL UNNEST(generate_series(1, len(t.toks), t.sl)) AS u(k)
  WHERE len(t.toks) > 0
  GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, 0, '' FROM q7_toks WHERE len(toks) = 0),
${OracleSqlGen.extractive("q7ex", "q7_in", b)},
${OracleSqlGen.textRankCtes("q7tr", "q7_in", b)},
q7_lead AS (
  SELECT doc_id, coalesce(array_to_string(string_split_regex(trim(txt), '\\s+')[1:$b], ' '), '') AS summary
  FROM q7_in),
q7_ref AS (
  SELECT doc_id, ${refSlice()} AS ref
  FROM documents),
pairs AS (
  SELECT e.doc_id * 4 + 0 AS doc_id, e.summary AS gen, r.ref
  FROM q7ex_out e JOIN q7_ref r ON r.doc_id = e.doc_id
  UNION ALL
  SELECT l.doc_id * 4 + 1, l.summary, r.ref
  FROM q7_lead l JOIN q7_ref r ON r.doc_id = l.doc_id
  UNION ALL
  SELECT t.doc_id * 4 + 2, t.summary, r.ref
  FROM q7tr_out t JOIN q7_ref r ON r.doc_id = t.doc_id),
$rougeChainCtes,
m AS ($rougeNgramSelect)
SELECT m.doc_id // 4 AS doc_id,
  CASE m.doc_id % 4 WHEN 0 THEN 'extractive' WHEN 1 THEN 'lead' ELSE 'textrank' END AS summarizer,
  rouge1_f, rouge2_f
FROM m ORDER BY doc_id, summarizer""")
  }

  /** Q6 (beyond-reference): TextRank extractive summaries per document —
    * the in-process quality upgrade over the TF-scored default scalar
    * (graft/llm/TextRank.scala; Mihalcea & Tarau 2004). One UDF map over
    * the scan, no shuffle: each doc's sentence graph is local and bounded
    * (first-256-sentence cap), so 100 TB costs a map pass. The oracle
    * replays the whole algorithm — graph build, 10 power-iteration
    * rounds, rounded ranking, greedy budget walk — in SQL.
    */
  private def q6TextRank(spark: SparkSession, dir: String): DataFrame = {
    val summarize = udf((t: String) =>
      if (t == null) "" else graft.llm.TextRankSummarizer.summarize(t, 24))
    tbl(spark, dir, "documents")
      .select(col("doc_id"), summarize(col("text")).as("summary"))
      .orderBy(col("doc_id"))
  }

  /** mm6's decoded dimensions, pure functions of doc_id (the oracle can
    * only match if the JDK codec actually parsed the rendered
    * containers); mm6b's fused one-pass plan must be invisible.
    */
  private val mm6CodecSql: String =
    """SELECT doc_id, 'png' AS format,
       CAST(16 + (doc_id % 13) * 4 AS INT) AS width,
       CAST(16 + (doc_id % 7) * 4 AS INT) AS height,
       CAST(1 AS INT) AS n_frames,
       CAST(24 AS INT) AS r_width, CAST(18 AS INT) AS r_height
       FROM documents ORDER BY doc_id"""

  private def multimodalEntries: Seq[(String, Entry)] = Seq(
    "mm1_binary_meta" -> Entry(mm1BinaryMeta(_, _), Some(
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5,
         CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1920 AS width,
         CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1080 AS height
         FROM documents ORDER BY doc_id""")),
    "mm2_decode_meta" -> Entry(mm2DecodeMeta(_, _), Some(
      """SELECT doc_id,
         ['jpeg','png','wav','mp4'][(CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 4) + 1] AS format,
         16 + CAST(('0x' || substr(md5(text), 3, 4)) AS INT) % 1904 AS width,
         16 + CAST(('0x' || substr(md5(text), 7, 4)) AS INT) % 1064 AS height,
         1 + CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 120 AS n_frames,
         octet_length(encode(text)) AS n_bytes
         FROM documents ORDER BY doc_id""")),
    "mm4_feature_norm" -> Entry(mm4FeatureNorm(_, _), Some {
      // f_i = byte_i / 256 (exact in binary fp); norm accumulates
      // left-to-right like the VecNorm loop
      val fs = (0 until 8).map { i =>
        s"(CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT) / 256.0)"
      }
      val sumSq = fs.map(f => s"$f * $f").mkString(" + ")
      s"""SELECT doc_id, 8 AS dim, round(sqrt($sumSq), 4) AS feat_norm
         FROM documents ORDER BY doc_id"""
    }),
    // stub resize = md5(payload ++ bigint-bytes(64) ++ bigint-bytes(48));
    // 64 and 48 are single ASCII bytes, so the digest input is exactly the
    // UTF-8 of text || chr(64) || chr(48)
    "mm5_resize" -> Entry(mm5Resize(_, _), Some(
      """SELECT doc_id, md5(text || chr(64) || chr(48)) AS resized_md5,
         CAST(16 AS BIGINT) AS n_bytes
         FROM documents ORDER BY doc_id""")),
    // STUB decoder is md5-derived end to end, so even frame sampling has an
    // exact oracle: every 10th frame index below n_frames, 16-byte frames.
    "mm3_frame_sample" -> Entry(mm3FrameSample(_, _), Some(
      """SELECT doc_id, CAST(k AS INT) AS frame_idx, 16 AS frame_bytes
         FROM (SELECT doc_id,
                 1 + CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 120 AS n_frames
               FROM documents),
         LATERAL UNNEST(generate_series(0, n_frames - 1, 10)) AS t(k)
         ORDER BY doc_id, frame_idx""")),
    "mm6_codec_roundtrip" -> Entry(mm6CodecRoundtrip(_, _), Some(mm6CodecSql)),
    "mm6b_codec_fused" -> Entry(mm6bCodecFused(_, _), Some(mm6CodecSql)),
    "mm7_wav_roundtrip" -> Entry(mm7WavRoundtrip(_, _), Some(
      """SELECT doc_id, 'wav' AS format,
         CAST(8000 AS INT) AS sample_rate,
         CAST(1 + (doc_id % 2) AS INT) AS channels,
         CAST(256 + (doc_id % 512) AS INT) AS n_frames
         FROM documents ORDER BY doc_id""")),
    // mm9: the square waveform regenerated sample-by-sample, then the
    // same RMS / strict-sign-product ZCR formulas (a zero sample crosses
    // nothing on both engines; the wave never emits zeros anyway)
    "mm9_audio_features" -> Entry(mm9AudioFeatures(_, _), Some(
      """WITH d AS (
           SELECT doc_id, CAST(256 + doc_id % 512 AS BIGINT) AS n,
             CAST(2 + doc_id % 7 AS BIGINT) AS p
           FROM documents),
         s AS (
           SELECT doc_id, n, u.i,
             CASE WHEN ((u.i // p) % 2) = 0 THEN 12000 ELSE -12000 END AS v
           FROM d, LATERAL UNNEST(generate_series(0, n - 1)) AS u(i)),
         z AS (
           SELECT doc_id, n, v,
             CASE WHEN v * lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0
               THEN 1 ELSE 0 END AS c
           FROM s)
         SELECT doc_id, MAX(n) AS n_samples,
           round(sqrt(SUM(CAST(v AS DOUBLE) * v) / MAX(n)), 4) AS rms,
           round(SUM(c) * 1.0 / (MAX(n) - 1), 4) AS zcr
         FROM z GROUP BY doc_id ORDER BY doc_id""")),
    // the invariants (rescale-invariant dHash per master, Hamming
    // separation between masters) are verified in-query; the oracle
    // derives the master count from the same doc_id arithmetic
    "mm8_media_neardup" -> Entry(mm8MediaNeardup(_, _), Some(
      """SELECT CAST(COUNT(DISTINCT doc_id % 16) AS BIGINT) AS n_masters,
         1 AS intra_ok, 1 AS inter_ok FROM documents""")),
    "q8_mmr_summaries" -> Entry(q8MmrSummaries(_, _)),
    // q8_gate: the MMR summarizer contract — budget, determinism,
    // non-emptiness, and differs-from-lead on at least one doc
    "q8_gate" -> Entry(q8Gate(_, _), Some(
      """SELECT 1 AS budget_pass, 1 AS det_pass, 1 AS nonempty_pass,
           1 AS selects_pass, 1 AS has_rows""")),
    "q7_summarizer_compare" -> Entry(q7SummarizerCompare(_, _), Some(q7CompareSql)),
    // Q1 truncated strategy END-TO-END: cleanThinking (corpus-effective:
    // >=3-newline squeeze + trim) -> 16-token truncation -> the
    // ExtractiveSummarizer formula itself — sentence split (punctuation
    // boundaries emulated with chr(1) markers; RE2 has no lookbehind), TF
    // sentence scoring raw/sqrt(len), rank by (-score, idx), greedy
    // budget-8 selection as a recursive CTE (the same state walk as the
    // g3 greedy oracle), original-order concat, final 8-token truncation.
    "q6_textrank" -> Entry(q6TextRank(_, _), Some(OracleSqlGen.q6TextRankSql())))

  // ------------------------------------------------------------- pipelines

  /** Non-SQL-expressible ops (rows-only driver check + ScalaTest goldens). */
  private def binpackGreedy(spark: SparkSession, dir: String): DataFrame = {
    val chunks = tbl(spark, dir, "lineitem").select(
      col("l_orderkey").as("doc_id"),
      col("l_linenumber").as("chunk_idx"),
      lit("x").as("text"),
      floor(col("l_quantity")).cast("long").as("n_tokens"))
    CorpusOps.binPack(chunks, 50L).toDF()
      .select(col("doc_id"), col("chunk_idx"), col("bin"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private def pipelineEntries: Seq[(String, Entry)] = Seq(
    // Exact greedy packing IS SQL-expressible via a recursive CTE: the
    // running total resets at each bin boundary, which the recursion walks
    // item-by-item per doc (depth = max chunks per doc, ~7 for lineitem).
    "g3_binpack_greedy" -> Entry(binpackGreedy(_, _), Some(
      """WITH RECURSIVE seq AS (
           SELECT l_orderkey AS doc_id, l_linenumber AS chunk_idx,
             CAST(floor(l_quantity) AS BIGINT) AS w,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, CAST(floor(l_quantity) AS BIGINT)) AS rn
           FROM lineitem),
         rec AS (
           SELECT doc_id, rn, chunk_idx, w, 0 AS bin, w AS cur
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.doc_id, s.rn, s.chunk_idx, s.w,
             CASE WHEN r.cur + s.w > 50 THEN r.bin + 1 ELSE r.bin END,
             CASE WHEN r.cur + s.w > 50 THEN s.w ELSE r.cur + s.w END
           FROM rec r JOIN seq s ON s.doc_id = r.doc_id AND s.rn = r.rn + 1)
         SELECT doc_id, chunk_idx, bin FROM rec ORDER BY doc_id, chunk_idx""")),
    "pipe_truncated" -> Entry(Pipelines.truncated(_, _), Some(
      """WITH RECURSIVE cleaned AS (
           SELECT doc_id,
             trim(regexp_replace(text, '\n{3,}', chr(10) || chr(10), 'g')) AS c
           FROM documents),
         src AS (
           SELECT doc_id,
             CASE WHEN len(string_split_regex(trim(c), '\s+')) <= 16 THEN trim(c)
               ELSE coalesce(array_to_string(string_split_regex(trim(c), '\s+')[1:16], ' '), '')
             END AS s
           FROM cleaned),
         pieces AS (
           SELECT doc_id,
             string_split(
               regexp_replace(regexp_replace(s, '([.!?;])\s+', '\1' || chr(1), 'g'),
                 '\n+', chr(1), 'g'),
               chr(1)) AS parts
           FROM src),
         sents AS (
           SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS s_idx,
             trim(parts[k]) AS sent
           FROM pieces, LATERAL UNNEST(generate_series(1, len(parts))) AS u(k)
           WHERE trim(parts[k]) <> ''),
         swl AS (
           SELECT doc_id, s_idx, sent,
             len(string_split_regex(sent, '\s+')) AS wslen,
             regexp_extract_all(lower(sent), '[\p{L}\p{N}]+') AS mt
           FROM sents),
         stoks AS (
           SELECT doc_id, s_idx, mt[k] AS tok
           FROM swl, LATERAL UNNEST(generate_series(1, len(mt))) AS u(k)),
         tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM stoks GROUP BY 1, 2),
         sscore AS (
           SELECT st.doc_id, st.s_idx, SUM(tf.c) AS raw, COUNT(*) AS mlen
           FROM stoks st JOIN tf USING (doc_id, tok) GROUP BY 1, 2),
         ranked AS (
           SELECT w.doc_id, w.s_idx, w.sent, w.wslen,
             ROW_NUMBER() OVER (PARTITION BY w.doc_id
               ORDER BY coalesce(sc.raw * 1.0 / sqrt(sc.mlen), 0.0) DESC, w.s_idx) AS rn
           FROM swl w LEFT JOIN sscore sc USING (doc_id, s_idx)),
         rec AS (
           SELECT doc_id, rn, s_idx, wslen, true AS picked, 8 - wslen AS budget
           FROM ranked WHERE rn = 1
           UNION ALL
           SELECT n.doc_id, n.rn, n.s_idx, n.wslen,
             (r.budget > 0 AND n.wslen <= r.budget) AS picked,
             CASE WHEN r.budget > 0 AND n.wslen <= r.budget
               THEN r.budget - n.wslen ELSE r.budget END AS budget
           FROM rec r JOIN ranked n ON n.doc_id = r.doc_id AND n.rn = r.rn + 1),
         outp AS (
           SELECT rec.doc_id, string_agg(ranked.sent, ' ' ORDER BY ranked.s_idx) AS o
           FROM rec JOIN ranked USING (doc_id, rn)
           WHERE rec.picked
           GROUP BY rec.doc_id)
         SELECT d.doc_id,
           CASE WHEN len(string_split_regex(trim(coalesce(o, '')), '\s+')) <= 8
             THEN trim(coalesce(o, ''))
             ELSE coalesce(array_to_string(
               string_split_regex(trim(coalesce(o, '')), '\s+')[1:8], ' '), '')
           END AS summary
         FROM documents d LEFT JOIN outp ON d.doc_id = outp.doc_id
         ORDER BY d.doc_id""")),
    // The strategy pipelines + the Q2-fed eval family, end to end, as
    // generated chained-CTE oracles (see OracleSqlGen): chunking, every
    // extractive-summarizer call, the unrolled 10-round collapse loop, the
    // critique cascade, the iterative fold, ROUGE-1/2/L, the md5-TF-count
    // cosine and the judge rubric are all replicated bit-exactly in DuckDB.
    "pipe_mapreduce" -> Entry(Pipelines.mapReduce(_, _),
      Some(OracleSqlGen.pipeMapReduceSql)),
    "pipe_critique" -> Entry(Pipelines.critique(_, _),
      Some(OracleSqlGen.pipeCritiqueSql)),
    "pipe_iterative" -> Entry(Pipelines.iterative(_, _),
      Some(OracleSqlGen.pipeIterativeSql())),
    "pipe_hierarchical" -> Entry(Pipelines.hierarchical(_, _),
      Some(OracleSqlGen.pipeHierarchicalSql)),
    "eval_pair_metrics" -> Entry(Pipelines.pairMetrics(_, _),
      Some(OracleSqlGen.evalPairMetricsSql)),
    "eval_summary_stats" -> Entry(Pipelines.evalStats(_, _),
      Some(OracleSqlGen.evalSummaryStatsSql)),
    "eval_judge_scores" -> Entry(Pipelines.judgeScores(_, _),
      Some(OracleSqlGen.evalJudgeScoresSql)),
    "eval_judge_stats" -> Entry(Pipelines.judgeStats(_, _),
      Some(OracleSqlGen.evalJudgeStatsSql)),
    "eval_bertscore" -> Entry(Pipelines.bertScores(_, _)))

  // -------------------------------------------------------------- registry

  /** One registered query: its builder and, when its semantics are
    * ANSI-SQL-expressible, the DuckDB SQL that must reproduce its output
    * (column names and value rounding kept bit-compatible with the Spark
    * plan).
    */
  final case class Entry(build: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  /** Every registered query, section by section; a repeated name fails
    * here instead of silently replacing an entry. Lazy: a strict val would
    * be built during object initialization and read every val declared
    * after it (the SQL fragments) as null.
    */
  lazy val registry: Seq[(String, Entry)] = {
    val all = relationalEntries ++ textEntries ++ dedupEntries ++
      similarityEntries ++ annRecallEntries ++ graphEntries ++
      clusteringEntries ++ textAnalysisEntries ++ eventEntries ++
      corpusJoinEntries ++ multimodalEntries ++ pipelineEntries
    val repeated = all.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The driver's view of the registry: every name and its builder. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, e) => n -> e.build }.toMap

  /** The DuckDB oracle of every entry that has one. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (n, Entry(_, Some(sql))) => n -> sql }.toMap

  /** Registry names from a comma-separated list, in list order. Fails
    * fast on any unregistered name — a typo would otherwise select
    * nothing, write no artifact and exit 0; the error is `what` followed
    * by the unknown names.
    */
  def namedQueries(csv: String, what: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(queries.contains).distinct.sorted
    require(unknown.isEmpty, s"$what: ${unknown.mkString(",")}")
    names
  }

  /** The dev-loop subset `SPARK_GRAFT_ONLY=name1,name2` selects for
    * Verify and Bench; unset (as the driver runs them), the full
    * registry.
    */
  def selectedQueries(): Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(queries) { csv =>
      val names =
        namedQueries(csv, "unknown SPARK_GRAFT_ONLY names").toSet
      queries.filter { case (n, _) => names(n) }
    }
}
