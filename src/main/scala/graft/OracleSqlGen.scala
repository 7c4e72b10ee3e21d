package graft

/** Generator for the chained-CTE DuckDB oracles of the strategy pipelines
  * (Q2 map-reduce, Q3 critique, Q4 iterative) and the eval family whose gen
  * side is Q2 — SURVEY.md §2.3/§2.9.
  *
  * Every stage of the registered pipelines is SQL-expressible once the
  * chunker is the fixed-stride token window (Pipelines.TestCfg):
  *  - chunking = array slices over the whitespace token list;
  *  - the extractive summarizer = the sentence-split / TF-score / greedy-
  *    select CTE chain proven bit-exact by the pipe_truncated oracle,
  *    here emitted as a reusable block parameterized by (prefix, input
  *    relation, budget);
  *  - greedy bin-packing = the g3_binpack_greedy recursive-CTE walk;
  *  - the bounded collapse loop = its rounds UNROLLED (the Scala loop caps
  *    at maxCollapseRounds=10, so emitting exactly 10 conditional rounds
  *    replicates the fixed point: a round whose over-budget set is empty
  *    passes everything through untouched);
  *  - the iterative fold = one extractive block per chunk index, unrolled
  *    to the corpus' maximum chunk count (docs are <=100 tokens => <=8
  *    chunks at size 16 / stride 14; 10 steps leaves margin — extra steps
  *    are no-ops for docs with fewer chunks);
  *  - ROUGE-L's LCS = the classic DP unrolled over gen-token index with a
  *    list-valued dp row per doc (dp_i[j] = max(dp_prev[j],
  *    max_{j2<=j}(dp_prev[j2-1] + eq(i,j2))) — the standard row
  *    simplification, exact because dp rows are monotone in j).
  *
  * All non-recursive CTEs are emitted AS MATERIALIZED: DuckDB inlines plain
  * CTEs per reference, and a 10-round unrolled chain re-expands its whole
  * upstream per reference — materialization keeps the oracle one parquet
  * scan and linear work.
  */
private[graft] object OracleSqlGen {

  /** Whitespace token count of a SQL string expression (Text.tokenCount). */
  private[graft] def tok(x: String): String =
    s"(CASE WHEN trim($x) = '' THEN 0 ELSE len(string_split_regex(trim($x), '\\s+')) END)"

  /** The SQL side of [[Pipelines.tokenSlicePairs]]: `pairs` (doc_id, gen,
    * ref) = whitespace tokens 1-20 and 11-40 of each document joined with
    * `sep` (chrF joins with '' for whitespace-free strings). coalesce:
    * DuckDB's array_to_string([]) is NULL, but a doc shorter than the
    * slice start means an EMPTY gen/ref, as in Spark.
    */
  private[graft] def tokenSlicePairsCte(sep: String = " "): String =
    s"""pairs AS (
  SELECT doc_id, ${tokenSlice("1:20", sep)} AS gen, ${refSlice(sep)} AS ref
  FROM documents)"""

  /** The ref side of [[tokenSlicePairsCte]] alone (`text` tokens 11-40),
    * for an oracle that pairs the ref with other summaries.
    */
  private[graft] def refSlice(sep: String = " "): String = tokenSlice("11:40", sep)

  private def tokenSlice(r: String, sep: String): String =
    s"coalesce(array_to_string(string_split_regex(trim(text), '\\s+')[$r], '$sep'), '')"

  /** Unicode-lowercase metric tokens of a SQL string expr (Text.metricTokens). */
  private def mtok(x: String): String =
    s"regexp_extract_all(lower($x), '[\\p{L}\\p{N}]+')"

  /** ExtractiveSummarizer over rel (doc_id, uid, txt) at `budget` whitespace
    * tokens; emits CTEs `{p}_pieces..{p}_out`, output (doc_id, uid, summary).
    * Bit-for-bit the formula of graft.llm.ExtractiveSummarizer (sentence
    * split keeping [.!?;] with the sentence; TF score raw/sqrt(len); rank by
    * (-score, idx); greedy budget walk always taking the first sentence;
    * original-order ' ' concat; final token truncation).
    */
  private[graft] def extractive(p: String, inRel: String, budget: Int): String =
    s"""${sentenceCtes(p, inRel)},
${p}_stoks AS (
  SELECT doc_id, uid, s_idx, mt[k] AS tok
  FROM ${p}_swl, LATERAL UNNEST(generate_series(1, len(mt))) AS u(k)),
${p}_tf AS (SELECT doc_id, uid, tok, COUNT(*) AS c FROM ${p}_stoks GROUP BY 1, 2, 3),
${p}_sscore AS (
  SELECT st.doc_id, st.uid, st.s_idx, SUM(tf.c) AS raw, COUNT(*) AS mlen
  FROM ${p}_stoks st JOIN ${p}_tf tf USING (doc_id, uid, tok) GROUP BY 1, 2, 3),
${p}_ranked AS (
  SELECT w.doc_id, w.uid, w.s_idx, w.sent, w.wslen,
    ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.uid
      ORDER BY coalesce(sc.raw * 1.0 / sqrt(sc.mlen), 0.0) DESC, w.s_idx) AS rn
  FROM ${p}_swl w LEFT JOIN ${p}_sscore sc USING (doc_id, uid, s_idx)),
${budgetWalk(p, inRel, budget)}"""

  /** The sentence split both extractive scalars share, over rel `$inRel`
    * (doc_id, uid, txt): `${p}_pieces` breaks after [.!?;] and on newline
    * runs, `${p}_sents` numbers the non-blank sentences, `${p}_swl` adds
    * each sentence's whitespace length and metric tokens.
    */
  private def sentenceCtes(p: String, inRel: String): String =
    s"""${p}_pieces AS (
  SELECT doc_id, uid,
    string_split(regexp_replace(regexp_replace(txt, '([.!?;])\\s+', '\\1' || chr(1), 'g'), '\\n+', chr(1), 'g'), chr(1)) AS parts
  FROM $inRel),
${p}_sents AS (
  SELECT doc_id, uid, ROW_NUMBER() OVER (PARTITION BY doc_id, uid ORDER BY k) - 1 AS s_idx, trim(parts[k]) AS sent
  FROM ${p}_pieces, LATERAL UNNEST(generate_series(1, len(parts))) AS u(k)
  WHERE trim(parts[k]) <> ''),
${p}_swl AS (
  SELECT doc_id, uid, s_idx, sent,
    len(string_split_regex(sent, '\\s+')) AS wslen,
    ${mtok("sent")} AS mt
  FROM ${p}_sents)"""

  /** The greedy budget walk + original-order emission shared by BOTH
    * extractive scalars (ExtractiveSummarizer and TextRankSummarizer
    * differ only in how `${p}_ranked` is scored): recursive rank walk
    * (first sentence always taken), in-order ' ' concat of the picks,
    * final token truncation. Input rel `${p}_ranked` must carry
    * (doc_id, uid, s_idx, sent, wslen, rn).
    */
  private def budgetWalk(p: String, inRel: String, budget: Int): String =
    s"""${p}_rec AS (
  SELECT doc_id, uid, rn, s_idx, wslen, true AS picked, $budget - wslen AS budget
  FROM ${p}_ranked WHERE rn = 1
  UNION ALL
  SELECT n.doc_id, n.uid, n.rn, n.s_idx, n.wslen,
    (r.budget > 0 AND n.wslen <= r.budget) AS picked,
    CASE WHEN r.budget > 0 AND n.wslen <= r.budget THEN r.budget - n.wslen ELSE r.budget END AS budget
  FROM ${p}_rec r JOIN ${p}_ranked n ON n.doc_id = r.doc_id AND n.uid = r.uid AND n.rn = r.rn + 1),
${p}_sel AS (
  SELECT r.doc_id, r.uid, string_agg(k.sent, ' ' ORDER BY k.s_idx) AS osum
  FROM ${p}_rec r JOIN ${p}_ranked k USING (doc_id, uid, rn)
  WHERE r.picked GROUP BY 1, 2),
${p}_out AS (
  SELECT i.doc_id, i.uid,
    CASE WHEN len(string_split_regex(trim(coalesce(s.osum, '')), '\\s+')) <= $budget
      THEN trim(coalesce(s.osum, ''))
      ELSE coalesce(array_to_string(string_split_regex(trim(coalesce(s.osum, '')), '\\s+')[1:$budget], ' '), '')
    END AS summary
  FROM $inRel i LEFT JOIN ${p}_sel s USING (doc_id, uid))"""

  /** q6_textrank: every step of graft.llm.TextRankSummarizer replayed over
    * whole documents — sentence split, DISTINCT-metric-token sets,
    * overlap/(ln|Ti|+ln|Tj|) edge weights over the first-256 prefix,
    * `iters` unrolled power-iteration rounds of
    * r_i = (1-0.85)/m + 0.85 * sum_j wt_ji/W_j * r_j (dangling sentences
    * contribute nothing — they never enter tr_esym), 1e-6 grid-snapped
    * ranking with position tie-break, then the shared greedy budget walk.
    * Float discipline: the damping constants are written `0.85e0` — the
    * e0 suffix forces a DOUBLE literal in DuckDB, which otherwise parses
    * bare decimals as DECIMAL (exact (1 - 0.85) = 0.15 ≠ the JVM's
    * double 0.15000000000000002) — so both engines compute the same
    * doubles, and the grid snap is the literal
    * IEEE expression floor(r * 1e6 + 0.5) / 1e6 on BOTH sides (library
    * decimal rounding differs between engines — the round(double)
    * divergence class the LM means hit); summation-order drift (~1e-15)
    * is absorbed by the grid before any ORDER BY sees a rank.
    */
  def q6TextRankSql(budget: Int = 24, iters: Int = 10): String =
    materialize(
      s"""WITH RECURSIVE tr_in AS (SELECT doc_id, 0 AS uid, text AS txt FROM documents),
${textRankCtes("tr", "tr_in", budget, iters)}
SELECT doc_id, summary FROM tr_out ORDER BY doc_id""")

  /** The TextRank fragments as a reusable CTE block over rel
    * `$inRel` (doc_id, uid, txt) — emits `${p}_pieces`..`${p}_out`,
    * output (doc_id, uid, summary). Composable the same way
    * [[extractive]] is (q7 runs both over the same corpus).
    */
  private[graft] def textRankCtes(p: String, inRel: String, budget: Int,
      iters: Int = 10): String = {
    val rounds = (1 to iters).map { t =>
      val prev = if (t == 1) s"${p}_r0" else s"${p}_r${t - 1}"
      s"""${p}_r$t AS (
  SELECT b.doc_id, b.uid, b.s_idx,
    (1 - 0.85e0) / ns.m + 0.85e0 * COALESCE(c.acc, 0) AS r
  FROM ${p}_r0 b
  JOIN ${p}_n ns USING (doc_id, uid)
  LEFT JOIN (
    SELECT e.doc_id, e.uid, e.dst AS s_idx, SUM(e.wt / o.ow * p.r) AS acc
    FROM ${p}_esym e
    JOIN ${p}_outw o ON o.doc_id = e.doc_id AND o.uid = e.uid AND o.s_idx = e.src
    JOIN $prev p ON p.doc_id = e.doc_id AND p.uid = e.uid AND p.s_idx = e.src
    GROUP BY 1, 2, 3) c
    ON c.doc_id = b.doc_id AND c.uid = b.uid AND c.s_idx = b.s_idx)"""
    }.mkString(",\n")
    s"""${sentenceCtes(p, inRel)},
${p}_stoksd AS (
  SELECT DISTINCT doc_id, uid, s_idx, mt[k] AS tok
  FROM ${p}_swl, LATERAL UNNEST(generate_series(1, len(mt))) AS u(k)),
${p}_tsize AS (SELECT doc_id, uid, s_idx, COUNT(*) AS sz FROM ${p}_stoksd GROUP BY 1, 2, 3),
${p}_n AS (SELECT doc_id, uid, LEAST(COUNT(*), 256) AS m FROM ${p}_swl GROUP BY 1, 2),
${p}_ov AS (
  SELECT a.doc_id, a.uid, a.s_idx AS i, b.s_idx AS j, COUNT(*) AS ov
  FROM ${p}_stoksd a JOIN ${p}_stoksd b
    ON a.doc_id = b.doc_id AND a.uid = b.uid AND a.tok = b.tok
  WHERE a.s_idx < b.s_idx AND b.s_idx < 256
  GROUP BY 1, 2, 3, 4),
${p}_e AS (
  SELECT o.doc_id, o.uid, o.i, o.j, o.ov / (ln(si.sz) + ln(sj.sz)) AS wt
  FROM ${p}_ov o
  JOIN ${p}_tsize si ON si.doc_id = o.doc_id AND si.uid = o.uid AND si.s_idx = o.i
  JOIN ${p}_tsize sj ON sj.doc_id = o.doc_id AND sj.uid = o.uid AND sj.s_idx = o.j
  WHERE ln(si.sz) + ln(sj.sz) > 0),
${p}_esym AS (
  SELECT doc_id, uid, i AS src, j AS dst, wt FROM ${p}_e
  UNION ALL
  SELECT doc_id, uid, j AS src, i AS dst, wt FROM ${p}_e),
${p}_outw AS (SELECT doc_id, uid, src AS s_idx, SUM(wt) AS ow FROM ${p}_esym GROUP BY 1, 2, 3),
${p}_r0 AS (
  SELECT w.doc_id, w.uid, w.s_idx, 1.0 / ns.m AS r
  FROM ${p}_swl w JOIN ${p}_n ns USING (doc_id, uid) WHERE w.s_idx < 256),
$rounds,
${p}_ranked AS (
  SELECT w.doc_id, w.uid, w.s_idx, w.sent, w.wslen,
    ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.uid
      ORDER BY COALESCE(floor(rr.r * 1000000.0 + 0.5) / 1000000.0, 0) DESC, w.s_idx) AS rn
  FROM ${p}_swl w LEFT JOIN ${p}_r$iters rr USING (doc_id, uid, s_idx)),
${budgetWalk(p, inRel, budget)}"""
  }

  /** Token-window chunking (Splitter.tokenWindows at TestCfg 16/2):
    * rel `chunks` = (doc_id, cidx, txt).
    */
  private def chunksCte(size: Int = 16, overlap: Int = 2): String = {
    val stride = size - overlap
    s"""tw_base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''),
chunks AS (
  SELECT doc_id, CAST(k AS INT) AS cidx,
    array_to_string(toks[k*$stride+1 : k*$stride+$size], ' ') AS txt
  FROM tw_base, LATERAL UNNEST(generate_series(0, (len(toks)-1)//$stride)) AS t(k))"""
  }

  /** One fixed-point collapse round over rel `cur` (doc_id, cidx, txt, w):
    * over-budget split, greedy pack (budget 24), in-order '\n\n' bin concat,
    * then `reduce` over the bins; output rel `{p}_next`.
    */
  private def collapseRound(p: String, cur: String, overBudget: Int,
      packBudget: Int, reduce: (String, String) => (String, String)): String = {
    val (ctes, outRel) = reduce(s"${p}e", s"${p}_bins")
    s"""${p}_over AS (SELECT doc_id FROM $cur GROUP BY doc_id HAVING SUM(w) > $overBudget),
${p}_under AS (SELECT c.* FROM $cur c WHERE doc_id NOT IN (SELECT doc_id FROM ${p}_over)),
${p}_seq AS (
  SELECT c.doc_id, c.cidx, c.txt, c.w,
    ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY c.cidx, c.w) AS rn
  FROM $cur c JOIN ${p}_over o USING (doc_id)),
${p}_pk AS (
  SELECT doc_id, rn, txt, w, 0 AS bin, w AS acc FROM ${p}_seq WHERE rn = 1
  UNION ALL
  SELECT s.doc_id, s.rn, s.txt, s.w,
    CASE WHEN r.acc + s.w > $packBudget THEN r.bin + 1 ELSE r.bin END,
    CASE WHEN r.acc + s.w > $packBudget THEN s.w ELSE r.acc + s.w END
  FROM ${p}_pk r JOIN ${p}_seq s ON s.doc_id = r.doc_id AND s.rn = r.rn + 1),
${p}_bins AS (
  SELECT doc_id, bin AS uid, string_agg(txt, chr(10)||chr(10) ORDER BY rn) AS txt
  FROM ${p}_pk GROUP BY 1, 2),
$ctes,
${p}_next AS (
  SELECT doc_id, cidx, txt, w FROM ${p}_under
  UNION ALL
  SELECT doc_id, CAST(uid AS INT) AS cidx, summary AS txt, ${tok("summary")} AS w
  FROM $outRel)"""
  }

  /** Q2's reduce: one extractive summarize at budget 8. */
  private def plainReduce(p: String, binsRel: String): (String, String) =
    (extractive(p, binsRel, 8), s"${p}_out")

  /** Q3's reduce-with-critique: budget cascade 8 -> 12 -> 18, each retry
    * gated on CoverageJudge (>=25% of the SOURCE bin's distinct metric
    * tokens retained; empty summary fails).
    */
  private def critiqueReduce(p: String, binsRel: String): (String, String) = {
    val budgets = Seq(8, 12, 18)
    val blocks = budgets.map(b => extractive(s"${p}b$b", binsRel, b)).mkString(",\n")
    def passc(alias: String) =
      s"(trim($alias.summary) <> '' AND b.srcn > 0 AND b.hits_$alias * 1.0 / b.srcn >= 0.25)"
    val cov = Seq(8, 12).map { b =>
      s"len(list_filter(list_distinct(${mtok("i.txt")}), " +
        s"x -> list_contains(list_distinct(${mtok(s"s$b.summary")}), x))) AS hits_s$b"
    }.mkString(",\n    ")
    (s"""$blocks,
${p}_covs AS (
  SELECT i.doc_id, i.uid,
    len(list_distinct(${mtok("i.txt")})) AS srcn,
    $cov
  FROM $binsRel i
    JOIN ${p}b8_out s8 USING (doc_id, uid)
    JOIN ${p}b12_out s12 USING (doc_id, uid)),
${p}_out AS (
  SELECT b.doc_id, b.uid,
    CASE WHEN ${passc("s8")} THEN s8.summary
         WHEN ${passc("s12")} THEN s12.summary
         ELSE s18.summary END AS summary
  FROM ${p}_covs b
    JOIN ${p}b8_out s8 USING (doc_id, uid)
    JOIN ${p}b12_out s12 USING (doc_id, uid)
    JOIN ${p}b18_out s18 USING (doc_id, uid))""", s"${p}_out")
  }

  /** CTE body (no WITH, no final SELECT) of the full map-reduce pipeline;
    * final summaries land in `f_out` (doc_id, uid, summary).
    */
  private def mapReduceBody(rounds: Int, reduce: (String, String) => (String, String),
      overBudget: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += chunksCte()
    parts += "map_in AS (SELECT doc_id, cidx AS uid, txt FROM chunks)"
    parts += extractive("m", "map_in", 8)
    parts += s"cur0 AS (SELECT doc_id, CAST(uid AS INT) AS cidx, summary AS txt, ${tok("summary")} AS w FROM m_out)"
    var cur = "cur0"
    (0 until rounds).foreach { r =>
      parts += collapseRound(s"r$r", cur, overBudget, 24, reduce)
      cur = s"r${r}_next"
    }
    parts += s"""fin AS (
  SELECT doc_id, 0 AS uid, string_agg(txt, chr(10)||chr(10) ORDER BY cidx) AS txt
  FROM $cur GROUP BY 1)"""
    val (fctes, fout) = reduce("f", "fin")
    parts += fctes
    parts += s"f_alias AS (SELECT * FROM $fout)"
    parts.result().mkString(",\n")
  }

  /** Mark non-recursive CTEs MATERIALIZED (see class doc). */
  private[graft] def materialize(sql: String): String =
    "([A-Za-z0-9_]+) AS \\(".r.replaceAllIn(sql, m => {
      val name = m.group(1)
      if (name.endsWith("_rec") || name.endsWith("_pk")) m.matched
      else s"$name AS MATERIALIZED ("
    })

  /** s3_tree_ingest: closed-form pre-order adjacency of the chunk tree
    * (TreeOps.chunkTreeJson at 16/2, sections of 3, round-tripped through
    * TreeOps.fromJsonStrings). Pre-order ids are arithmetic because only
    * the last section of a doc can be partial: header(si) = 1 + 4*si,
    * paragraph(cidx) = 2 + 4*(cidx/3) + cidx%3.
    */
  def s3TreeIngestSql: String = materialize(
    s"""WITH ${chunksCte()},
docs AS (SELECT DISTINCT doc_id FROM chunks),
secs AS (SELECT DISTINCT doc_id, cidx // 3 AS si FROM chunks),
nodes AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS node_id, CAST(-1 AS BIGINT) AS parent_id,
    CAST(0 AS INT) AS depth, 'Document' AS node_type,
    'doc_' || CAST(doc_id AS VARCHAR) AS text, CAST(0 AS INT) AS ord
  FROM docs
  UNION ALL
  SELECT doc_id, CAST(1 + 4*si AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS INT),
    'Header', 'Section ' || CAST(si + 1 AS VARCHAR), CAST(si AS INT)
  FROM secs
  UNION ALL
  SELECT doc_id, CAST(2 + 4*(cidx//3) + (cidx%3) AS BIGINT),
    CAST(1 + 4*(cidx//3) AS BIGINT), CAST(2 AS INT), 'Paragraph', txt,
    CAST(cidx % 3 AS INT)
  FROM chunks)
SELECT doc_id, node_id, parent_id, depth, node_type, text, ord
FROM nodes ORDER BY doc_id, node_id""")

  /** pipe_hierarchical: the Q5 bottom-up tree collapse on the synthesized
    * sentence tree (TreeOps.synthesize at 3 sentences/section; depth 2, so
    * each section collapses once, then the root —
    * Hierarchical.summarize under Pipelines.TestCfg, capTokens =
    * max(24*3/4, 8) = 18). Per section: '\n\n'-joined sentences,
    * UNCONDITIONAL 18-token space-rejoin truncation (Hierarchical.truncate),
    * extractive summary at 8, title prefix. Root: the same over the section
    * paragraphs in section order, then whitespace squeeze. Docs whose text yields no sentences drop out (no depth-1
    * rows), exactly like the Spark plan.
    */
  def pipeHierarchicalSql: String = {
    def trunc18(x: String) =
      s"array_to_string(string_split_regex(trim($x), '\\s+')[1:18], ' ')"
    materialize(
      s"""WITH RECURSIVE hsplit AS (
  SELECT doc_id,
    string_split(regexp_replace(regexp_replace(text, '([.!?;])\\s+', '\\1' || chr(1), 'g'), '\\n+', chr(1), 'g'), chr(1)) AS parts
  FROM documents),
hsent AS (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS s_idx,
    trim(parts[k]) AS sent
  FROM hsplit, LATERAL UNNEST(generate_series(1, len(parts))) AS u(k)
  WHERE trim(parts[k]) <> ''),
hsec AS (
  SELECT doc_id, s_idx // 3 AS si,
    string_agg(sent, chr(10) || chr(10) ORDER BY s_idx) AS sec_txt
  FROM hsent GROUP BY 1, 2),
hsec_in AS (
  SELECT doc_id, si AS uid, ${trunc18("sec_txt")} AS txt FROM hsec),
${extractive("hx", "hsec_in", 8)},
hd1 AS (
  SELECT doc_id, uid AS si,
    'Section ' || CAST(uid + 1 AS VARCHAR) || chr(10) || chr(10) || summary AS text
  FROM hx_out),
hroot_cat AS (
  SELECT doc_id, string_agg(text, chr(10) || chr(10) ORDER BY si) AS cat
  FROM hd1 GROUP BY doc_id),
hroot AS (
  SELECT doc_id, 0 AS uid, ${trunc18("cat")} AS txt FROM hroot_cat),
${extractive("hr", "hroot", 8)}
SELECT doc_id, trim(regexp_replace(summary, '\\s+', ' ', 'g')) AS summary
FROM hr_out ORDER BY doc_id""")
  }

  /** pipe_mapreduce: chunk -> map-summarize -> 10 conditional collapse
    * rounds -> final reduce (Strategies.mapReduce under Pipelines.TestCfg).
    */
  def pipeMapReduceSql: String = materialize(
    s"WITH RECURSIVE ${mapReduceBody(10, plainReduce, 24)}\n" +
      "SELECT doc_id, summary FROM f_alias ORDER BY doc_id")

  /** pipe_critique: same skeleton, critique cascade on every reduce, the
    * reference's half-budget headroom check on the loop predicate
    * (tokenMax/2 = 12; Strategies.mapReduceCritique).
    */
  def pipeCritiqueSql: String = materialize(
    s"WITH RECURSIVE ${mapReduceBody(10, critiqueReduce, 12)}\n" +
      "SELECT doc_id, summary FROM f_alias ORDER BY doc_id")

  /** pipe_iterative: per-doc fold summary_i = E(summary_{i-1} \n\n chunk_i)
    * unrolled over chunk index (Strategies.iterative).
    */
  def pipeIterativeSql(steps: Int = 10): String = {
    val parts = Seq.newBuilder[String]
    parts += chunksCte()
    parts += "it0_in AS (SELECT doc_id, 0 AS uid, txt FROM chunks WHERE cidx = 0)"
    parts += extractive("i0", "it0_in", 8)
    parts += "acc0 AS (SELECT doc_id, summary AS acc FROM i0_out)"
    (1 until steps).foreach { k =>
      parts += s"""it${k}_in AS (
  SELECT a.doc_id, 0 AS uid, a.acc || chr(10) || chr(10) || c.txt AS txt
  FROM acc${k - 1} a JOIN chunks c ON c.doc_id = a.doc_id AND c.cidx = $k)"""
      parts += extractive(s"i$k", s"it${k}_in", 8)
      parts += s"""acc$k AS (
  SELECT a.doc_id, coalesce(s.summary, a.acc) AS acc
  FROM acc${k - 1} a LEFT JOIN i${k}_out s USING (doc_id))"""
    }
    materialize(s"WITH RECURSIVE ${parts.result().mkString(",\n")}\n" +
      s"SELECT doc_id, acc AS summary FROM acc${steps - 1} ORDER BY doc_id")
  }

  // ------------------------------------------------------------------ eval

  /** Q2 chain + the gen/ref pairing of Pipelines.genRefPairs (ref = lead-12
    * tokens of the squeezed doc text, LeadSummarizer).
    */
  private def pairsBody: String =
    s"""${mapReduceBody(10, plainReduce, 24)},
lead_ref AS (
  SELECT doc_id, array_to_string(string_split_regex(trim(text), '\\s+')[1:12], ' ') AS ref
  FROM documents),
pairs AS (
  SELECT g.doc_id, g.summary AS gen, r.ref
  FROM f_alias g JOIN lead_ref r USING (doc_id))"""

  /** Rouge-1/2 (multiset overlap), Rouge-L (list-DP LCS unrolled over gen
    * token index), md5-TF-count cosine -> rel `pm` (doc_id + 4 r4 metrics;
    * Metrics.pairMetrics with Md5TfCountEmbedder).
    */
  private def pairMetricCtes(lcsSteps: Int = 24): String = {
    val lcs = Seq.newBuilder[String]
    lcs += """ld0 AS (
  SELECT doc_id, gt, rt, len(gt) AS glen, len(rt) AS rlen,
    list_transform(generate_series(1, len(rt)), j -> 0) AS dp
  FROM ptok)"""
    (1 to lcsSteps).foreach { i =>
      lcs += s"""ld$i AS (
  SELECT doc_id, gt, rt, glen, rlen,
    CASE WHEN $i <= glen THEN
      list_transform(generate_series(1, rlen), j ->
        greatest(dp[j], list_max(list_transform(generate_series(1, j), j2 ->
          coalesce(dp[j2-1], 0) + CASE WHEN gt[$i] = rt[j2] THEN 1 ELSE 0 END))))
    ELSE dp END AS dp
  FROM ld${i - 1})"""
    }
    def f1(ov: String, cn: String, rn: String) =
      s"CASE WHEN $cn = 0 OR $rn = 0 THEN 0.0 " +
        s"WHEN ($ov * 1.0 / $cn) + ($ov * 1.0 / $rn) = 0 THEN 0.0 " +
        s"ELSE 2 * ($ov * 1.0 / $cn) * ($ov * 1.0 / $rn) / (($ov * 1.0 / $cn) + ($ov * 1.0 / $rn)) END"
    s"""ptok AS (
  SELECT doc_id, ${mtok("gen")} AS gt, ${mtok("ref")} AS rt FROM pairs),
pgrams AS (
  SELECT doc_id, gt, rt,
    CASE WHEN len(gt) >= 2 THEN list_transform(generate_series(1, len(gt)-1), k -> gt[k] || ' ' || gt[k+1]) ELSE [] END AS g2,
    CASE WHEN len(rt) >= 2 THEN list_transform(generate_series(1, len(rt)-1), k -> rt[k] || ' ' || rt[k+1]) ELSE [] END AS r2
  FROM ptok),
pu1 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(gt) AS tok FROM pgrams) GROUP BY 1, 2),
pv1 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(rt) AS tok FROM pgrams) GROUP BY 1, 2),
po1 AS (SELECT doc_id, SUM(least(pu1.c, pv1.c)) AS ov FROM pu1 JOIN pv1 USING (doc_id, tok) GROUP BY 1),
pu2 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(g2) AS tok FROM pgrams) GROUP BY 1, 2),
pv2 AS (SELECT doc_id, tok, COUNT(*) AS c FROM (SELECT doc_id, unnest(r2) AS tok FROM pgrams) GROUP BY 1, 2),
po2 AS (SELECT doc_id, SUM(least(pu2.c, pv2.c)) AS ov FROM pu2 JOIN pv2 USING (doc_id, tok) GROUP BY 1),
${lcs.result().mkString(",\n")},
plcs AS (SELECT doc_id, glen, rlen, coalesce(dp[rlen], 0) AS lcs FROM ld$lcsSteps),
embt AS (
  SELECT doc_id, side, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h, COUNT(*) AS tf
  FROM (SELECT doc_id, 'g' AS side, unnest(gt) AS tok FROM ptok
        UNION ALL
        SELECT doc_id, 'r' AS side, unnest(rt) AS tok FROM ptok)
  GROUP BY 1, 2, 3),
embv AS (
  SELECT doc_id, side, h % 64 AS idx,
    SUM(CASE WHEN ((h >> 6) & 1) = 0 THEN tf ELSE -tf END) AS wv
  FROM embt GROUP BY 1, 2, 3),
embn AS (
  SELECT doc_id, side, SUM(wv * wv) AS nsq FROM embv GROUP BY 1, 2),
embdot AS (
  SELECT a.doc_id, SUM(a.wv * b.wv) AS dot
  FROM embv a JOIN embv b ON a.doc_id = b.doc_id AND a.idx = b.idx
  WHERE a.side = 'g' AND b.side = 'r' GROUP BY 1),
embcos AS (
  SELECT p.doc_id,
    CASE WHEN coalesce(ng.nsq, 0) = 0 OR coalesce(nr.nsq, 0) = 0 THEN 0.0
      ELSE coalesce(d.dot, 0) / (sqrt(CAST(ng.nsq AS DOUBLE)) * sqrt(CAST(nr.nsq AS DOUBLE))) END AS cos
  FROM pairs p
    LEFT JOIN (SELECT doc_id, nsq FROM embn WHERE side = 'g') ng USING (doc_id)
    LEFT JOIN (SELECT doc_id, nsq FROM embn WHERE side = 'r') nr USING (doc_id)
    LEFT JOIN embdot d USING (doc_id)),
pm AS (
  SELECT p.doc_id,
    round(c.cos, 4) AS semantic_similarity,
    round(${f1("coalesce(po1.ov, 0)", "l.glen", "l.rlen")}, 4) AS rouge1_f,
    round(${f1("coalesce(po2.ov, 0)", "greatest(l.glen - 1, 0)", "greatest(l.rlen - 1, 0)")}, 4) AS rouge2_f,
    round(${f1("l.lcs", "l.glen", "l.rlen")}, 4) AS rougeL_f
  FROM pairs p
    JOIN plcs l USING (doc_id)
    JOIN embcos c USING (doc_id)
    LEFT JOIN po1 USING (doc_id)
    LEFT JOIN po2 USING (doc_id))"""
  }

  def evalPairMetricsSql: String = materialize(
    s"WITH RECURSIVE $pairsBody,\n${pairMetricCtes()}\nSELECT * FROM pm ORDER BY doc_id")

  /** Order-free exact sum: every value cast onto the decimal(38,10) grid. */
  private[graft] def exactSumSql(e: String) =
    s"CAST(SUM(CAST($e AS DECIMAL(38,10))) AS DOUBLE)"

  /** Long-format mean/std/min/max per metric (Metrics.summaryStats). */
  def evalSummaryStatsSql: String = {
    def block(c: String) =
      s"""SELECT '$c' AS metric,
  round(${exactSumSql(c)} / COUNT($c), 4) AS mean,
  round(sqrt(greatest((${exactSumSql(s"$c * $c")} - ${exactSumSql(c)} * ${exactSumSql(c)} / CAST(COUNT($c) AS DOUBLE)) / CAST(COUNT($c) AS DOUBLE), 0.0)), 4) AS std,
  round(MIN($c), 4) AS min, round(MAX($c), 4) AS max FROM pm"""
    val u = Seq("semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f")
      .map(block).mkString("\nUNION ALL\n")
    materialize(s"WITH RECURSIVE $pairsBody,\n${pairMetricCtes()}\n$u")
  }

  /** CoverageJudge verdicts over the pairing (source = ref, summary = gen;
    * Metrics.judgeMetrics): rel `js`.
    */
  private def judgeCtes: String =
    s"""jj AS (
  SELECT doc_id, gen,
    len(list_distinct(${mtok("ref")})) AS srcn,
    len(list_filter(list_distinct(${mtok("ref")}),
      x -> list_contains(list_distinct(${mtok("gen")}), x))) AS hits,
    ${mtok("gen")} AS gtoks
  FROM pairs),
js AS (
  SELECT doc_id,
    CASE WHEN trim(gen) = '' THEN 'empty summary'
         WHEN srcn > 0 AND hits * 1.0 / srcn >= 0.25 THEN 'no issues'
         ELSE 'low source coverage: ' || hits || '/' || srcn || ' < 0.25' END AS verdict,
    (NOT trim(gen) = '' AND srcn > 0 AND hits * 1.0 / srcn >= 0.25) AS passed,
    round(CASE WHEN srcn = 0 OR trim(gen) = '' THEN 0.0 ELSE hits * 1.0 / srcn END, 4) AS correctness,
    round(CASE WHEN len(gtoks) = 0 THEN 0.0 ELSE len(list_distinct(gtoks)) * 1.0 / len(gtoks) END, 4) AS coherence
  FROM jj)"""

  def evalJudgeScoresSql: String = materialize(
    s"WITH RECURSIVE $pairsBody,\n$judgeCtes\nSELECT * FROM js ORDER BY doc_id")

  /** Pass rate + rubric-score stats (Metrics.judgeStats; n_failures is 0 by
    * construction — the deterministic judge never throws).
    */
  def evalJudgeStatsSql: String = {
    def stat(c: String, p: String) =
      s"""round(${exactSumSql(c)} / COUNT($c), 4) AS ${p}_mean,
  round(sqrt(greatest((${exactSumSql(s"$c * $c")} - ${exactSumSql(c)} * ${exactSumSql(c)} / CAST(COUNT($c) AS DOUBLE)) / CAST(COUNT($c) AS DOUBLE), 0.0)), 4) AS ${p}_std,
  round(MIN($c), 4) AS ${p}_min, round(MAX($c), 4) AS ${p}_max"""
    materialize(s"""WITH RECURSIVE $pairsBody,
$judgeCtes
SELECT COUNT(*) AS n_pairs,
  CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
  CAST(0 AS BIGINT) AS n_failures,
  round(${exactSumSql("CASE WHEN passed THEN 1.0 ELSE 0.0 END")} / COUNT(*), 4) AS pass_rate,
  ${stat("correctness", "corr")},
  ${stat("coherence", "coh")}
FROM js""")
  }

  // =================================================================== ANN
  // DuckDB replay of the ANN family's MODELS — the r10 verdict item 6:
  // the LSH hyperplanes are corpus-INDEPENDENT seeded constants
  // (Similarity.planeComponent), so they interpolate as literal tables;
  // the IVF coarse quantizer is deterministic k-means whose every step
  // (lowest-vec_id seeding, double cosine assignment with lowest-cell
  // ties, decimal-exact per-dim means cast to float, empty cells keeping
  // their centroid) is SQL-expressible — the ss10 oracle already proved
  // the decimal-mean parity pattern on these exact float values.

  /** Guarded split cosine between two float-list SQL exprs — bit-for-bit
    * graft.operators.Similarity.cosLocal / bruteForceTopK's column form:
    * doubles throughout, zero denominator -> 0.
    */
  private def cosD(a: String, b: String): String =
    s"""(CASE WHEN sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) = 0
        THEN 0.0
        ELSE list_sum(list_transform(list_zip($a, $b),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) END)"""

  /** The retrieval query set every ANN/top-k oracle shares: CTE `$name`
    * (query_id, eq) = the vec_id < 5 rows of `src` (vec_id, embedding).
    */
  private[graft] def queryCte(name: String, src: String = "embeddings"): String =
    s"$name AS (SELECT vec_id AS query_id, embedding AS eq FROM $src WHERE vec_id < 5)"

  /** FROM-clause body: rel (query_id, vec_id, cosine) ranked per query by
    * (cosine DESC, vec_id ASC) into `rank`, the first `k` kept — the
    * top-k order of Similarity.bruteForceTopK and every rerank.
    */
  private[graft] def cosineTopk(rel: String, k: Int = 5): String =
    s"""(
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, vec_id ASC) AS rank FROM $rel)
  WHERE rank <= $k"""

  /** `ap` = the top-5 of rel (query_id, vec_id, cosine) — the approximate
    * side [[recallTail]] scores.
    */
  private[graft] def apCte(rel: String): String =
    s"ap AS (SELECT query_id, vec_id, cosine, rank FROM ${cosineTopk(rel)})"

  /** The exact-top-5 side + recall@5 tail shared by every recall oracle:
    * `ap` must be a CTE of (query_id, vec_id) approximate hits.
    */
  private[graft] def recallTail: String =
    s"""${queryCte("fq2")},
fscored AS (
  SELECT fq2.query_id, c.vec_id, round(${cosD("fq2.eq", "c.embedding")}, 4) AS cosine
  FROM embeddings c, fq2 WHERE c.vec_id <> fq2.query_id),
ex AS (SELECT query_id, vec_id FROM ${cosineTopk("fscored")}),
j AS (
  SELECT ex.query_id,
    CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ex LEFT JOIN ap
    ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id)
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(hit) AS BIGINT) AS n_hit,
  round(SUM(hit) * 1.0 / COUNT(*), 4) AS recall
FROM j GROUP BY 1 ORDER BY query_id"""

  // --------------------------------------------------------- ss2 (sign-LSH)

  /** The 16x8 hyperplane literal table (64 weights each) — the exact
    * doubles of Similarity.lshKeysUdf's closure, printed with Scala's
    * shortest-round-trip Double.toString so DuckDB parses them back
    * bit-identically.
    */
  private def hpCte(dim: Int, tables: Int, planes: Int): String = {
    val rows = (for (t <- 0 until tables; p <- 0 until planes) yield {
      val ws = Array.tabulate(dim)(d =>
        graft.operators.Similarity.planeComponent(t, p, d))
      s"($t, $p, [${ws.mkString(", ")}])"
    }).mkString(",\n  ")
    s"hp AS (SELECT * FROM (VALUES\n  $rows) AS v(tbl, plane, w))"
  }

  /** Shared ss2 CTE chain: bucket keys (bit p set iff the float->double
    * dot with hyperplane (tbl, p) is >= 0, packed exactly as
    * lshKeysUdf), query-side Hamming-1 multiprobe shell, DISTINCT
    * candidates, exact rerank at 4dp -> `ap` = the lshTopK top-5.
    */
  private def ss2Ctes: String =
    s"""${hpCte(64, 16, 8)},
cb AS (
  SELECT e.vec_id, h.tbl,
    CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(e.embedding, h.w),
        p -> CAST(p[1] AS DOUBLE) * p[2])) >= 0
      THEN CAST(POWER(2, h.plane) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bkt
  FROM embeddings e CROSS JOIN hp h
  WHERE e.embedding IS NOT NULL
  GROUP BY 1, 2),
qb AS (
  SELECT vec_id AS query_id, tbl, bkt FROM cb WHERE vec_id < 5
  UNION ALL
  SELECT c.vec_id AS query_id, c.tbl,
    xor(c.bkt, CAST(POWER(2, r.b) AS BIGINT)) AS bkt
  FROM cb c CROSS JOIN range(0, 8) AS r(b) WHERE c.vec_id < 5),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bkt = q.bkt
  WHERE c.vec_id <> q.query_id),
${queryCte("fq")},
${rerankCtes("cand")}"""

  private[graft] def ss2TopkSql: String =
    s"""WITH $ss2Ctes
SELECT query_id, vec_id, cosine, rank FROM ap ORDER BY query_id, rank"""

  private[graft] def ss2RecallSql: String =
    s"""WITH $ss2Ctes,
$recallTail"""

  // ------------------------------------------------------------- ss3 (IVF)

  /** Deterministic k-means replay at ss3's operating point (16 cells,
    * 2 Lloyd rounds, vec_id-mod-4 training sample) -> `cells` (the
    * inverted file: every corpus vector with its best cell) and `c2`
    * (the final float centroids).
    */
  private def kmeansCtes(nCells: Int, trainMod: Int): String = {
    def round(r: Int): String =
      s"""a$r AS (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY t.vec_id
        ORDER BY ${cosD("t.embedding", "c.c")} DESC, c.cell ASC) AS rn
    FROM tr t CROSS JOIN c${r - 1} c) WHERE rn = 1),
m$r AS (
  SELECT a.cell, u.k - 1 AS i,
    CAST(CAST(SUM(CAST(CAST(t.embedding[u.k] AS DOUBLE) AS DECIMAL(38, 10)))
      AS DOUBLE) / COUNT(*) AS FLOAT) AS m
  FROM a$r a JOIN tr t USING (vec_id),
    LATERAL UNNEST(generate_series(1, len(t.embedding))) AS u(k)
  GROUP BY 1, 2),
c$r AS (
  SELECT p.cell, COALESCE(n.c, p.c) AS c
  FROM c${r - 1} p LEFT JOIN
    (SELECT cell, list(m ORDER BY i) AS c FROM m$r GROUP BY 1) n USING (cell))"""
    s"""tr AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % $trainMod = 0),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS c
  FROM (SELECT vec_id, embedding FROM tr ORDER BY vec_id LIMIT $nCells)),
${round(1)},
${round(2)},
cells AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${cosD("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1)"""
  }

  /** ss3's probe + rerank on the replayed model -> `ap` (the ivfTopK
    * top-5): each query probes its 6 nearest centroids (same double
    * cosine, lowest-cell ties), exact 4dp rerank within probed cells.
    */
  private def ss3Ctes: String =
    s"""${kmeansCtes(16, 4)},
pq AS (
  SELECT query_id, cell FROM (
    SELECT e.vec_id AS query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${cosD("e.embedding", "c.c")} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN c2 c WHERE e.vec_id < 5) WHERE rn <= 6),
${queryCte("fq")},
rr AS (
  SELECT fq.query_id, cl.vec_id,
    round(${cosD("fq.eq", "cl.embedding")}, 4) AS cosine
  FROM cells cl JOIN pq ON cl.cell = pq.cell
  JOIN fq ON pq.query_id = fq.query_id
  WHERE cl.vec_id <> fq.query_id),
${apCte("rr")}"""

  private[graft] def ss3TopkSql: String =
    s"""WITH $ss3Ctes
SELECT query_id, vec_id, cosine, rank FROM ap ORDER BY query_id, rank"""

  private[graft] def ss3RecallSql: String =
    s"""WITH $ss3Ctes,
$recallTail"""

  // ------------------------------------------------------ ss13 (graph ANN)

  /** The whole graph-ANN chain replayed: LSH bucket pairs (8 tables x 8
    * planes, hyperplane literals), exact 4dp pair scoring, per-node
    * top-8 out-edges, symmetrize, then THREE unrolled beam-search rounds
    * (beam 16, 4 lowest-id entry points) -> `ap` = graphTopK's top-5.
    * Duplicate (query, vec) hits collapse via MAX(cosine) — scoring is a
    * pure function of the pair, so every duplicate carries the identical
    * value and MAX == first-seen.
    */
  private def ss13Ctes: String = {
    import graft.operators.GraphAnn.{RegBeam, RegEntry, RegM, RegRounds}
    def beamTop(rel: String, n: Int): String =
      s"""(SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, vec_id ASC) AS rk FROM $rel) WHERE rk <= $n)"""
    def round(r: Int): String =
      s"""e$r AS (
  SELECT DISTINCT b.query_id, ed.dst AS vec_id
  FROM ${beamTop(s"b${r - 1}", RegBeam)} b
  JOIN edges ed ON b.vec_id = ed.src),
s$r AS (
  SELECT e.query_id, e.vec_id,
    round(${cosD("fq.eq", "c.embedding")}, 4) AS cosine
  FROM e$r e JOIN embeddings c ON e.vec_id = c.vec_id
  JOIN fq ON e.query_id = fq.query_id
  WHERE e.vec_id <> e.query_id),
b$r AS (
  SELECT query_id, vec_id, MAX(cosine) AS cosine
  FROM (SELECT * FROM b${r - 1} UNION ALL SELECT * FROM s$r)
  GROUP BY 1, 2)"""
    s"""${hpCte(64, 8, 24)},
kp AS (
  SELECT LEAST(24, GREATEST(4,
    CAST(ceil(ln(CAST(COUNT(*) AS DOUBLE) / 16.0) / ln(2.0)) AS INT))) AS k
  FROM embeddings),
cb AS (
  SELECT e.vec_id, h.tbl,
    CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(e.embedding, h.w),
        p -> CAST(p[1] AS DOUBLE) * p[2])) >= 0
      THEN CAST(POWER(2, h.plane) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bkt
  FROM embeddings e CROSS JOIN hp h
  WHERE e.embedding IS NOT NULL AND h.plane < (SELECT k FROM kp)
  GROUP BY 1, 2),
bsz AS (SELECT tbl, bkt, COUNT(*) AS n FROM cb GROUP BY 1, 2),
pr AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM cb x
  JOIN cb y ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id
  JOIN bsz ON bsz.tbl = x.tbl AND bsz.bkt = x.bkt
  WHERE bsz.n <= 1024),
sc AS (
  SELECT pr.id_a, pr.id_b,
    round(${cosD("ea.embedding", "eb.embedding")}, 4) AS cosine
  FROM pr JOIN embeddings ea ON pr.id_a = ea.vec_id
  JOIN embeddings eb ON pr.id_b = eb.vec_id),
dirn AS (
  SELECT id_a AS src, id_b AS dst, cosine FROM sc
  UNION ALL
  SELECT id_b AS src, id_a AS dst, cosine FROM sc),
topm AS (
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
      ORDER BY cosine DESC, dst ASC) AS rk FROM dirn)
  WHERE rk IN (${graft.operators.GraphAnn.graphEdgeRanks(RegM).mkString(", ")})),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM topm UNION ALL SELECT dst AS src, src AS dst FROM topm)),
${queryCte("fq")},
sd AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // $RegEntry) FROM embeddings) = 0),
b0 AS (
  SELECT fq.query_id, sd.vec_id,
    round(${cosD("fq.eq", "c.embedding")}, 4) AS cosine
  FROM sd CROSS JOIN fq JOIN embeddings c ON sd.vec_id = c.vec_id
  WHERE sd.vec_id <> fq.query_id),
${(1 to RegRounds).map(round).mkString(",\n")},
${apCte(s"b$RegRounds")}"""
  }

  private[graft] def ss13TopkSql: String =
    s"""WITH $ss13Ctes
SELECT query_id, vec_id, cosine, rank FROM ap ORDER BY query_id, rank"""

  private[graft] def ss13RecallSql: String =
    s"""WITH $ss13Ctes,
$recallTail"""

  // ----------------------------------------------------- qz4 / ss8 (PQ)

  /** Squared L2 distance between two float-list SQL exprs — bit-for-bit
    * Pq.nearestSub's accumulation: per element, both floats to double,
    * subtract, square, left-to-right sum.
    */
  private def l2D(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""

  /** Pq.trainPq + Pq.pqEncode replayed over `rel` (vec_id, embedding):
    * slice into `m` subspaces of `dsub` dims, seed each subspace codebook
    * from the `ksub` lowest-id training vectors (vec_id % trainMod = 0 —
    * the literal modulus is exact at the verify SFs, where n is far under
    * Similarity.MaxTrainVectors so the ceiling never raises it), run the
    * registered TWO L2 Lloyd rounds with the decimal-exact means of the
    * ss3 replay (empty cells keep their centroid), then encode every base
    * row. Emits `${p}c2` (s, cell, cent) — the final codebooks — and
    * `${p}codes` (vec_id, s, cell). Ties replay nearestSub's strict-<
    * first-wins as (distance ASC, cell ASC).
    */
  private def pqTrainCtes(p: String, rel: String, m: Int, dsub: Int,
      ksub: Int, trainMod: Int): String = {
    def assign(src: String, cbRel: String, out: String): String =
      s"""$out AS (
  SELECT vec_id, s, cell FROM (
    SELECT t.vec_id, t.s, c.cell,
      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
        ORDER BY ${l2D("t.sub", "c.cent")} ASC, c.cell ASC) AS rn
    FROM $src t JOIN $cbRel c USING (s)) WHERE rn = 1)"""
    def round(r: Int): String =
      s"""${assign(s"${p}trs", s"${p}c${r - 1}", s"${p}a$r")},
${p}m$r AS (
  SELECT a.s, a.cell, u.k - 1 AS i,
    CAST(CAST(SUM(CAST(CAST(t.sub[u.k] AS DOUBLE) AS DECIMAL(38, 10)))
      AS DOUBLE) / COUNT(*) AS FLOAT) AS mv
  FROM ${p}a$r a JOIN ${p}trs t USING (vec_id, s),
    LATERAL UNNEST(generate_series(1, len(t.sub))) AS u(k)
  GROUP BY 1, 2, 3),
${p}c$r AS (
  SELECT q.s, q.cell, COALESCE(n.cent, q.cent) AS cent
  FROM ${p}c${r - 1} q LEFT JOIN
    (SELECT s, cell, list(mv ORDER BY i) AS cent FROM ${p}m$r GROUP BY 1, 2) n
    USING (s, cell))"""
    s"""${p}base AS (
  SELECT vec_id, embedding FROM $rel
  WHERE embedding IS NOT NULL AND len(embedding) % $m = 0),
${p}tr AS (SELECT vec_id, embedding FROM ${p}base WHERE vec_id % $trainMod = 0),
${p}trs AS (
  SELECT vec_id, u.s, list_slice(embedding, u.s * $dsub + 1, (u.s + 1) * $dsub) AS sub
  FROM ${p}tr, LATERAL UNNEST(generate_series(0, ${m - 1})) AS u(s)),
${p}c0 AS (
  SELECT t.s, sd.cell, t.sub AS cent
  FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
        FROM ${p}tr ORDER BY vec_id LIMIT $ksub) sd
  JOIN ${p}trs t USING (vec_id)),
${round(1)},
${round(2)},
${p}alls AS (
  SELECT vec_id, u.s, list_slice(embedding, u.s * $dsub + 1, (u.s + 1) * $dsub) AS sub
  FROM ${p}base, LATERAL UNNEST(generate_series(0, ${m - 1})) AS u(s)),
${assign(s"${p}alls", s"${p}c2", s"${p}codes")}"""
  }

  /** Exact 4dp rerank of shortlist rel `$short` (query_id, vec_id)
    * against the `fq` queries -> `rr`, and its top-5 `ap`.
    */
  private def rerankCtes(short: String): String =
    s"""rr AS (
  SELECT $short.query_id, $short.vec_id,
    round(${cosD("fq.eq", "c.embedding")}, 4) AS cosine
  FROM $short JOIN embeddings c ON $short.vec_id = c.vec_id
  JOIN fq ON $short.query_id = fq.query_id),
${apCte("rr")}"""

  /** The ADC scans' query tables over `fq`: `qsub` = each query cut into
    * the 8 subspaces of 8 dims, `qn` = its double L2 norm.
    */
  private val qsubCte: String =
    """qsub AS (
  SELECT query_id, u.s, list_slice(eq, u.s * 8 + 1, (u.s + 1) * 8) AS sub
  FROM fq, LATERAL UNNEST(generate_series(0, 7)) AS u(s))"""

  private val qnCte: String =
    """qn AS (
  SELECT query_id,
    sqrt(list_sum(list_transform(eq, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qnorm
  FROM fq)"""

  /** qz4: Pq.pqTopK replayed at the registered operating point (m=8,
    * ksub=16, iterations=2, trainMod=1, shortlist=150, k=5, queries
    * vec_id<5). Per-query subspace dot tables (`qd`) and the
    * query-independent codebook norm table (`pnt`) are the replayed
    * driver-side broadcast; the ADC score is dot/(|q|·√cn) with the
    * UDF's exact accumulation order — both per-(query,vec) sums run s
    * ascending via an order-pinned list aggregate — then shortlist 150
    * by (adc DESC, vec_id ASC) and the exact 4dp float rerank -> `ap`.
    */
  private def qz4Ctes: String =
    s"""${pqTrainCtes("p", "embeddings", 8, 8, 16, 1)},
${queryCte("fq")},
$qsubCte,
qd AS (
  SELECT q.query_id, c.s, c.cell,
    list_sum(list_transform(list_zip(q.sub, c.cent),
      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS d
  FROM qsub q JOIN pc2 c USING (s)),
pnt AS (
  SELECT s, cell,
    list_sum(list_transform(cent, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nn
  FROM pc2),
$qnCte,
adcrow AS (
  SELECT f.query_id, k.vec_id, k.s, qd.d, pnt.nn
  FROM pcodes k CROSS JOIN (SELECT query_id FROM fq) f
  JOIN qd ON qd.query_id = f.query_id AND qd.s = k.s AND qd.cell = k.cell
  JOIN pnt ON pnt.s = k.s AND pnt.cell = k.cell
  WHERE k.vec_id <> f.query_id),
adcv AS (
  SELECT query_id, vec_id,
    list_sum(list(d ORDER BY s)) AS dotv,
    list_sum(list(nn ORDER BY s)) AS cn
  FROM adcrow GROUP BY 1, 2),
sl AS (
  SELECT query_id, vec_id FROM (
    SELECT a.query_id, a.vec_id,
      ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
        (CASE WHEN q.qnorm * sqrt(a.cn) = 0 THEN 0.0
              ELSE a.dotv / (q.qnorm * sqrt(a.cn)) END) DESC,
        a.vec_id ASC) AS rk
    FROM adcv a JOIN qn q USING (query_id)) WHERE rk <= 150),
${rerankCtes("sl")}"""

  private[graft] def qz4TopkSql: String =
    s"""WITH $qz4Ctes
SELECT query_id, vec_id, cosine, rank FROM ap ORDER BY query_id, rank"""

  private[graft] def qz4RecallSql: String =
    s"""WITH $qz4Ctes,
$recallTail"""

  /** ss8: Pq.ivfPqTopK replayed (nCells=16, nProbe=8, m=8, ksub=64,
    * iterations=2, trainMod=4, shortlist=250, k=5): the ss3 coarse
    * k-means replay routes every row to a cell, residuals are the
    * float-exact (double-subtract-then-round — identical to Float
    * arithmetic, Figueroa's 2p+2 theorem) per-dim differences, the
    * residual codebooks replay through the shared PQ trainer, and the
    * IVFADC score (cdot_cell + Σ_s d_s)/(|q|·norm_c) accumulates in the
    * UDF's exact order — the centroid dot FIRST (list_prepend), then the
    * subspace dots s ascending. Probed cells = flat cosine top-8 with
    * the lowest-cell tie (CentroidIndex.search at k≤64 is the flat
    * scan). Shortlist 250, exact 4dp rerank -> `ap`.
    */
  private def ss8Ctes: String =
    s"""${kmeansCtes(16, 4)},
rsd AS (
  SELECT cl.vec_id, cl.cell,
    sqrt(list_sum(list_transform(cl.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm_c,
    list_transform(list_zip(cl.embedding, c.c),
      z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS FLOAT)) AS residual
  FROM cells cl JOIN c2 c USING (cell)),
${pqTrainCtes("rp", "(SELECT vec_id, residual AS embedding FROM rsd)", 8, 8, 64, 4)},
${queryCte("fq")},
pq8 AS (
  SELECT query_id, cell FROM (
    SELECT fq.query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY fq.query_id
        ORDER BY ${cosD("fq.eq", "c.c")} DESC, c.cell ASC) AS rn
    FROM fq CROSS JOIN c2 c) WHERE rn <= 8),
cd AS (
  SELECT p.query_id, p.cell,
    list_sum(list_transform(list_zip(fq.eq, c.c),
      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS cdot
  FROM pq8 p JOIN fq USING (query_id) JOIN c2 c USING (cell)),
$qsubCte,
qd AS (
  SELECT q.query_id, c.s, c.cell,
    list_sum(list_transform(list_zip(q.sub, c.cent),
      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS d
  FROM qsub q JOIN rpc2 c USING (s)),
$qnCte,
adcrow AS (
  SELECT p.query_id, k.vec_id, k.s, qd.d
  FROM rpcodes k
  JOIN rsd ON rsd.vec_id = k.vec_id
  JOIN pq8 p ON p.cell = rsd.cell
  JOIN qd ON qd.query_id = p.query_id AND qd.s = k.s AND qd.cell = k.cell
  WHERE k.vec_id <> p.query_id),
adcg AS (
  SELECT query_id, vec_id, list(d ORDER BY s) AS ds FROM adcrow GROUP BY 1, 2),
adcv AS (
  SELECT g.query_id, g.vec_id,
    list_sum(list_prepend(cd.cdot, g.ds)) AS dotv, r.norm_c
  FROM adcg g JOIN rsd r ON r.vec_id = g.vec_id
  JOIN cd ON cd.query_id = g.query_id AND cd.cell = r.cell),
sl AS (
  SELECT query_id, vec_id FROM (
    SELECT a.query_id, a.vec_id,
      ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
        (CASE WHEN q.qnorm * a.norm_c = 0 THEN 0.0
              ELSE a.dotv / (q.qnorm * a.norm_c) END) DESC,
        a.vec_id ASC) AS rk
    FROM adcv a JOIN qn q USING (query_id)) WHERE rk <= 250),
${rerankCtes("sl")}"""

  private[graft] def ss8TopkSql: String =
    s"""WITH $ss8Ctes
SELECT query_id, vec_id, cosine, rank FROM ap ORDER BY query_id, rank"""

  private[graft] def ss8RecallSql: String =
    s"""WITH $ss8Ctes,
$recallTail"""

  // ------------------------------------- cls1 (trained linear classifier)

  /** LinearModel.trainCgRidgeArrays replayed whole: the planted quality
    * corpus, hashed binary presence features (md5 60-bit buckets),
    * b = Xᵀy/n, and `iters` UNROLLED conjugate-gradient steps on
    * (XᵀX/n + λI)w = b. Every distributed sum is the decimal(38,10)
    * fixed-point grid (order-free, exact — the exactSum contract), the CG
    * scalars replay the driver's dotDec through the same grid, and α/β
    * guard their zero denominators with the trainer's exact CASE. No
    * transcendentals anywhere, so the TRAINING itself — not just the
    * served scores — is hash-checkable. Emits `w$iters` (j, v): 64 bucket
    * weights + bias at j=64, plus `fx` (features over ALL docs) and `pl`
    * for the downstream scoring/eval queries.
    */
  private def clsCtes(k: Int = 64, iters: Int = 8,
      lambda: Double = 0.01): String = {
    def decSum(x: String): String =
      s"CAST(SUM(CAST($x AS DECIMAL(38, 10))) AS DOUBLE)"
    def round(i: Int): String =
      s"""q$i AS (
  SELECT t.doc_id, COALESCE(fq.s, 0.0) + (SELECT v FROM p${i - 1} WHERE j = $k) AS q
  FROM trn t LEFT JOIN (
    SELECT f.doc_id, ${decSum("p.v")} AS s
    FROM ft f JOIN p${i - 1} p ON p.j = f.bucket GROUP BY 1) fq USING (doc_id)),
s$i AS (
  SELECT jd.j, COALESCE(x.v, 0.0) + $lambda * p.v AS v
  FROM jd LEFT JOIN (
    SELECT f.bucket AS j, ${decSum("q.q")} / (SELECT n FROM nn) AS v
    FROM ft f JOIN q$i q USING (doc_id) GROUP BY 1
    UNION ALL
    SELECT $k AS j, ${decSum("q")} / (SELECT n FROM nn) AS v FROM q$i) x USING (j)
  JOIN p${i - 1} p USING (j)),
ps$i AS (
  SELECT ${decSum("p.v * s.v")} AS v FROM p${i - 1} p JOIN s$i s USING (j)),
al$i AS (
  SELECT CASE WHEN v = 0 THEN 0.0 ELSE (SELECT v FROM rr${i - 1}) / v END AS v
  FROM ps$i),
w$i AS (
  SELECT w.j, w.v + (SELECT v FROM al$i) * p.v AS v
  FROM w${i - 1} w JOIN p${i - 1} p USING (j)),
r$i AS (
  SELECT r.j, r.v - (SELECT v FROM al$i) * s.v AS v
  FROM r${i - 1} r JOIN s$i s USING (j)),
rr$i AS (SELECT ${decSum("v * v")} AS v FROM r$i),
bt$i AS (
  SELECT CASE WHEN (SELECT v FROM rr${i - 1}) = 0 THEN 0.0
    ELSE v / (SELECT v FROM rr${i - 1}) END AS v FROM rr$i),
p$i AS (
  SELECT r.j, r.v + (SELECT v FROM bt$i) * p.v AS v
  FROM r$i r JOIN p${i - 1} p USING (j))"""
    s"""pl AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 3 = 0
      THEN ' click buy free winner cash prize now deal'
      ELSE ' study method result analysis careful review note' END AS text,
    CASE WHEN doc_id % 3 = 0 THEN -1.0 ELSE 1.0 END AS y
  FROM documents),
fx AS (
  SELECT DISTINCT doc_id,
    CAST(('0x' || substr(md5('b:' || tok), 1, 15)) AS BIGINT) % $k AS bucket
  FROM (SELECT doc_id,
      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM pl)),
trn AS (SELECT doc_id, y FROM pl WHERE doc_id % 2 = 0),
ft AS (SELECT f.doc_id, f.bucket, t.y FROM fx f JOIN trn t USING (doc_id)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM trn),
jd AS (SELECT j FROM range(0, ${k + 1}) t(j)),
b0 AS (
  SELECT bucket AS j, ${decSum("y")} / (SELECT n FROM nn) AS v
  FROM ft GROUP BY 1
  UNION ALL
  SELECT $k AS j, ${decSum("y")} / (SELECT n FROM nn) AS v FROM trn),
w0 AS (SELECT j, 0.0 AS v FROM jd),
r0 AS (SELECT jd.j, COALESCE(b0.v, 0.0) AS v FROM jd LEFT JOIN b0 USING (j)),
p0 AS (SELECT j, v FROM r0),
rr0 AS (SELECT ${decSum("v * v")} AS v FROM r0),
${(1 to iters).map(round).mkString(",\n")}"""
  }

  /** Scoring on the trained weights: score = Σ_{j∈doc} w_j + bias
    * (the same decimal sum + add-after), pred from the UNROUNDED score.
    * `pred` filters the scored population (held-out by default; TRUE for
    * the streamed serve-everything form).
    */
  private def clsScoreCtes(k: Int = 64, iters: Int = 8,
      pred: String = "doc_id % 2 = 1"): String =
    s"""${clsCtes(k, iters)},
tst AS (SELECT doc_id, y FROM pl WHERE $pred),
sc AS (
  SELECT t.doc_id,
    COALESCE(fs.s, 0.0) + (SELECT v FROM w$iters WHERE j = $k) AS score,
    t.y
  FROM tst t LEFT JOIN (
    SELECT f.doc_id, CAST(SUM(CAST(w.v AS DECIMAL(38, 10))) AS DOUBLE) AS s
    FROM fx f JOIN w$iters w ON w.j = f.bucket GROUP BY 1) fs USING (doc_id))"""

  private[graft] def cls1WeightsSql(k: Int = 64, iters: Int = 8): String =
    materialize(s"""WITH ${clsCtes(k, iters)}
SELECT j AS feature, round(v, 6) AS weight FROM w$iters ORDER BY feature""")

  private[graft] def cls1ScoresSql(k: Int = 64, iters: Int = 8): String =
    materialize(s"""WITH ${clsScoreCtes(k, iters)}
SELECT doc_id, round(score, 6) AS score,
  CAST(score >= 0.0 AS INT) AS pred, CAST(y AS INT) AS label
FROM sc ORDER BY doc_id""")

  /** The streamed serve-everything form: every doc scored by the frozen
    * trained weights — stream_classify_lr's sink rows are held to this
    * VERBATIM (the stream_classify invisibility contract).
    */
  private[graft] def cls1ScoresStreamSql(k: Int = 64, iters: Int = 8): String =
    materialize(s"""WITH ${clsScoreCtes(k, iters, "TRUE")}
SELECT doc_id, round(score, 6) AS score,
  CAST(score >= 0.0 AS INT) AS pred, CAST(y AS INT) AS label
FROM sc ORDER BY doc_id""")

  /** pipe_curation_trained: the trained gate composed — score everything
    * with the replayed weights, keep score ≥ 0, exact-dedup keepers
    * (min-doc_id per md5(text), the dd8 replay), per-source report.
    */
  private[graft] def pipeCurationTrainedSql(k: Int = 64, iters: Int = 8): String =
    materialize(s"""WITH ${clsScoreCtes(k, iters, "TRUE")},
kp AS (
  SELECT p.doc_id, p.text FROM sc JOIN pl p USING (doc_id)
  WHERE sc.score >= 0.0),
ddp AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kp) WHERE rn = 1)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(length(ddp.text)) AS BIGINT) AS n_chars
FROM ddp JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY source""")

  private[graft] def cls1EvalSql(k: Int = 64, iters: Int = 8): String =
    materialize(s"""WITH ${clsScoreCtes(k, iters)}
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
  CAST(SUM(CASE WHEN (score >= 0.0) = (y > 0) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  round(SUM(CASE WHEN (score >= 0.0) = (y > 0) THEN 1 ELSE 0 END) * 1.0
    / COUNT(*), 4) AS accuracy,
  round(GREATEST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END),
    SUM(CASE WHEN y < 0 THEN 1 ELSE 0 END)) * 1.0 / COUNT(*), 4)
    AS majority_acc
FROM sc""")

  // ------------------------------------------------------ cl1 (clustering)

  /** cl1: Clustering.clusterSizes(embeddings, 8, 2) replayed — the ss3
    * coarse-quantizer replay at (nCells=8, trainMod=1), then the one-line
    * cardinality profile over the full-corpus assignment.
    */
  private[graft] def cl1SizesSql: String =
    s"""WITH ${kmeansCtes(8, 1)}
SELECT CAST(cell AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM cells GROUP BY 1 ORDER BY cluster"""

  // ============================================ shared oracle fragments
  // SparkEntry.oracleSql's mirrored decisions, one SQL text each: every
  // oracle that replays the decision interpolates the fragment, so a
  // change to the decision is one edit here.

  /** The 4dp split cosine of two float-list SQL exprs, without the
    * zero-norm guard of [[cosD]] — the raw fixture vectors never have a
    * zero norm.
    */
  private[graft] def cos4(a: String, b: String): String =
    s"""round(
  list_sum(list_transform(list_zip($a, $b),
    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  4)"""

  /** ss1's exact scoring over `src` (vec_id, embedding): `q` = its
    * [[queryCte]] queries, `$scored` (query_id, vec_id, cosine) = the
    * [[cos4]] of every query against every other row.
    */
  private[graft] def exactCosineCtes(src: String = "embeddings",
      scored: String = "scored"): String =
    s"""${queryCte("q", src)},
$scored AS (
  SELECT q.query_id, c.vec_id,
    ${cos4("q.eq", "c.embedding")} AS cosine
  FROM $src c, q WHERE c.vec_id <> q.query_id)"""

  /** Integer HALF-UP mean on the 4dp grid: sign-aware (2|s| + d) // (2d),
    * all BIGINT, then one exact double division by 10^4.
    */
  private[graft] val lmAvgExpr: String =
    "(CASE WHEN s >= 0 THEN (2*s + d) // (2*d) " +
      "ELSE -((-2*s + d) // (2*d)) END) / 10000.0"

  /** `lm2` (doc_id, n_bigrams, avg_logprob): [[bigramLmCtes]]' 4dp mean. */
  private[graft] val lmMeanCte: String =
    s"""lm2 AS (
  SELECT doc_id, n_bigrams, $lmAvgExpr AS avg_logprob FROM lm)"""

  /** ta16's interpolated bigram LM trained and scored over `src`
    * (doc_id, text): `tok`/`uni`/`tot` = the metric-token unigram counts,
    * `arr`/`big`/`c12`/`c1` = the adjacent-pair counts (DuckDB lists are
    * 1-based, toks[i] and toks[i+1] for i in 1..len-1, where Spark's
    * sequence is 0-based — the same pairs), `lp` = each bigram's
    * ln(0.75 * c12/c1 + 0.25 * cu/total) on the 6dp grid, written
    * operation for operation as the Spark side so the IEEE results agree
    * bit for bit before the grid, and `lm` (doc_id, n_bigrams, s, d) =
    * each doc's EXACT micro-unit sum of its lp values. The 4dp mean then
    * comes from [[lmAvgExpr]]'s integer HALF-UP division — round(double)
    * is NOT cross-engine stable when the true mean lands on a 4dp half
    * (Spark rounds the exact binary value; DuckDB's float multiply can
    * land exactly on the half — observed at sf0.001 doc 180, mean exactly
    * -3.36275).
    */
  private[graft] def bigramLmCtes(src: String): String =
    raw"""tok AS (
  SELECT doc_id,
    UNNEST(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
  FROM $src),
uni AS (SELECT tok, COUNT(*) AS cu FROM tok GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
arr AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS toks
  FROM $src),
big AS (
  SELECT doc_id, toks[CAST(g.i AS INT)] AS w1,
    toks[CAST(g.i AS INT) + 1] AS w2
  FROM arr, LATERAL UNNEST(generate_series(1, len(toks) - 1)) AS g(i)),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
lp AS (
  SELECT big.doc_id,
    round(ln(0.75 * (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      + 0.25 * (CAST(uni.cu AS DOUBLE) / tot.total)), 6) AS lp
  FROM big
  JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
  JOIN c1 ON big.w1 = c1.w1
  JOIN uni ON big.w2 = uni.tok, tot),
lm AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
    SUM(CAST(round(lp * 1000000) AS BIGINT)) AS s,
    CAST(COUNT(*) AS BIGINT) * 100 AS d
  FROM lp GROUP BY 1)"""

  /** dd4's word-shingle head over `src` (doc_id, text): `toks` = the
    * lowercased whitespace tokens, `sh` = each doc's DISTINCT `n`-token
    * shingles as column `$col` (a doc under `n` tokens is one shingle).
    */
  private[graft] def wordShingleCtes(n: Int, col: String,
      src: String = "documents"): String =
    raw"""toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM $src),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[k:k+${n - 1}], ' ') AS $col
  FROM toks, LATERAL UNNEST(generate_series(1, greatest(len(t)-${n - 1}, 1))) AS u(k))"""

  /** dd4's exact 3-shingle Jaccard counts over `src` (doc_id, text):
    * [[wordShingleCtes]], `sizes` = shingles per doc, `inter` = shingles
    * shared per doc pair (doc_a < doc_b).
    */
  private[graft] def jaccardCountCtes(src: String = "documents"): String =
    s"""${wordShingleCtes(3, "shingle", src)},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)"""

  /** FROM-clause body over [[jaccardCountCtes]]: the near-dup pairs
    * (doc_a, doc_b, jaccard) with jaccard = |A∩B| / (|A| + |B| - |A∩B|)
    * on the 4dp grid, at least 0.5.
    */
  private[graft] val jaccardNearDupSql: String =
    """(
  SELECT doc_a, doc_b,
    round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
WHERE jaccard >= 0.5"""

  /** dd7's near-dup components over `src` (needs WITH RECURSIVE): the
    * [[jaccardNearDupSql]] pairs `jp` as undirected `edges`, `reach` =
    * their transitive closure, `comp` (doc_id, component) = the least
    * reachable id — min-label propagation's fixed point exactly. The
    * curation oracles run it over their exact-dedup survivors.
    */
  private[graft] def jaccardComponentCtes(src: String = "documents"): String =
    s"""${jaccardCountCtes(src)},
jp AS (SELECT doc_a, doc_b FROM $jaccardNearDupSql),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION SELECT doc_b, doc_a FROM jp),
reach AS (
  SELECT DISTINCT a AS src, a AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src)"""

  /** dc1's benchmark-decontamination head over `src` (doc_id, text):
    * 5-token [[wordShingleCtes]] as column `g`, `bench` = the shingles
    * of the benchmark slice (doc_id % 10 = 0).
    */
  private[graft] def benchShingleCtes(src: String = "documents"): String =
    s"""${wordShingleCtes(5, "g", src)},
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0)"""

  /** `flagged` = the corpus docs (doc_id % 10 <> 0) sharing a shingle
    * with [[benchShingleCtes]]'s `bench`.
    */
  private[graft] val flaggedCte: String =
    """flagged AS (
  SELECT DISTINCT doc_id FROM sh JOIN bench USING (g)
  WHERE doc_id % 10 <> 0)"""

  /** dc4's positional 5-token spans over documents: `toks` = the q7
    * wsTokens split (on \s+ with empty fields dropped — DuckDB's trim
    * strips SPACES only and string_split_regex keeps leading/trailing
    * empty fields, so without the filter a tabs/newlines-only doc would
    * tokenize differently from the JVM's split), `g` (doc_id, k, g) =
    * the lowercased gram at 0-based token k (none for a 0-token doc).
    */
  private[graft] val spanGramCtes: String =
    raw"""toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
      x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, k - 1 AS k,
    lower(array_to_string(t[k:k+4], ' ')) AS g
  FROM toks, LATERAL UNNEST(generate_series(1, greatest(len(t)-4, 1))) u(k)
  WHERE len(t) >= 1)"""

  /** dc4's rewrite after a `hits` (doc_id, k) CTE over [[spanGramCtes]]:
    * every token a hit span covers (`cov`, capped at the doc length) is
    * dropped, the rest rejoined with single spaces in token order; one
    * row per doc the `docFilter` WHERE clause keeps ("" keeps all).
    */
  private[graft] def spanRewriteSql(docFilter: String): String =
    s"""cov AS (
  SELECT DISTINCT h.doc_id, u.i
  FROM hits h JOIN toks t ON h.doc_id = t.doc_id,
    LATERAL UNNEST(generate_series(h.k, least(h.k + 4, len(t.t) - 1))) u(i)),
idx AS (
  SELECT doc_id, t, u.i AS i
  FROM toks, LATERAL UNNEST(generate_series(0, len(t) - 1)) u(i)
  $docFilter),
kept AS (
  SELECT x.doc_id, x.i, x.t[CAST(x.i AS INT) + 1] AS tok
  FROM idx x LEFT JOIN cov c ON x.doc_id = c.doc_id AND x.i = c.i
  WHERE c.i IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
    CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY 1),
tot AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
  $docFilter)
SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
  t.n_tokens, t.n_tokens - COALESCE(a.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id"""

  /** dd11's content-defined chunking over documents: `d` = lowercased
    * whitespace tokens ([] for a blank doc), `c` = cut after token i iff
    * the md5 of the gram (i, i+1) hits the 1-in-16 grid, `s` = each
    * chunk's start/end token, `x` (doc_id, chunk_idx, chunk) = the
    * chunk texts.
    */
  private[graft] val cdcChunkCtes: String =
    raw"""d AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN []
      ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
  FROM documents),
c AS (
  SELECT doc_id, t, len(t) AS n,
    CASE WHEN len(t) >= 2 THEN list_filter(range(1, len(t)), i ->
      CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15))
        AS BIGINT) % 16 = 0)
    ELSE [] END AS cuts
  FROM d),
s AS (
  SELECT doc_id, t,
    list_concat([1], list_transform(cuts, b -> b + 1)) AS starts,
    list_concat(cuts, [n]) AS ends
  FROM c),
x AS (
  SELECT doc_id, k - 1 AS chunk_idx,
    array_to_string(t[starts[k]:ends[k]], ' ') AS chunk
  FROM s, LATERAL UNNEST(generate_series(1, len(starts))) AS u(k))"""

  /** dd10's planted boilerplate `planted` (doc_id, t): one newsletter
    * line before every third doc and after every fifth.
    */
  private[graft] val plantedBoilerCte: String =
    """planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
      THEN 'subscribe to our newsletter for updates' || chr(10)
      ELSE '' END
    || text ||
    CASE WHEN doc_id % 5 = 0
      THEN chr(10) || 'subscribe to our newsletter for updates'
      ELSE '' END AS t
  FROM documents)"""

  /** dd10's hot-paragraph removal ahead of the composed corpus pipelines:
    * `pp` = the planted docs' newline paragraphs, `hot` = the md5 of any
    * paragraph seen at least 10 times, `cleaned` (doc_id, text) = each
    * doc without its hot paragraphs.
    */
  private[graft] def boilerCleanCtes: String =
    s"""$plantedBoilerCte,
pp AS (
  SELECT doc_id, ps[k] AS para, k AS pos
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM planted),
    LATERAL UNNEST(generate_series(1, len(ps))) AS u(k)),
hot AS (
  SELECT md5(para) AS ph FROM pp GROUP BY 1 HAVING COUNT(*) >= 10),
cleaned AS (
  SELECT doc_id,
    COALESCE(string_agg(para, chr(10) ORDER BY pos)
      FILTER (WHERE md5(para) NOT IN (SELECT ph FROM hot)), '') AS text
  FROM pp GROUP BY doc_id)"""

  /** The mixing family's derived domain of a doc: 11/16 web, 3/16 books,
    * 1/16 code, 1/16 wiki by doc_id.
    */
  private[graft] val domainSql: String =
    """CASE WHEN doc_id % 16 < 11 THEN 'web'
     WHEN doc_id % 16 < 14 THEN 'books'
     WHEN doc_id % 16 < 15 THEN 'code'
     ELSE 'wiki' END"""

  /** The keyed-hash unit draw of the sampling family: the first 60 md5
    * bits of "<seed>:<id>" over 2^60 (the ta4/o4 md5-prefix-long idiom).
    */
  private[graft] def md5UnitSql(seed: String, id: String = "doc_id"): String =
    s"""CAST(('0x' || substr(md5('$seed:' || CAST($id AS VARCHAR)), 1, 15))
    AS BIGINT) / 1152921504606846976.0"""

  /** sp1's 75/12.5/12.5 train/val/test split of the unit draw `u`. */
  private[graft] val splitCaseSql: String =
    """CASE WHEN u < 0.75 THEN 'train' WHEN u < 0.875 THEN 'val'
     ELSE 'test' END"""

  /** ss5's BM25 over documents (k1 = 1.2, b = 0.75, the idf
    * ln((N - df + 0.5) / (df + 0.5) + 1) on the 6dp grid): metric tokens
    * `t`, `tf`, doc `lens`, `d` = df, corpus `stats`, `qt` = the doc_id < 5
    * queries' distinct tokens, `$scored` (query_id, doc_id, score) = the
    * decimal-exact per-pair sum on the 4dp grid. Literals are emitted
    * from the Scala doubles (shortest round-trip repr), so both engines
    * compute on identical bit patterns, and the parenthesization mirrors
    * the Column expression exactly.
    */
  private[graft] def bm25Ctes(scored: String = "scored"): String =
    raw"""t AS (
  SELECT doc_id,
    UNNEST(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS tok
  FROM documents),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM t GROUP BY 1, 2),
lens AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS len
         FROM t GROUP BY 1),
d AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total_toks,
            CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM t),
qt AS (
  SELECT DISTINCT doc_id AS query_id, tok FROM t WHERE doc_id < 5),
$scored AS (
  SELECT query_id, tf.doc_id,
    round(CAST(SUM(CAST(round(
      round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
        * (tf * ${1.2 + 1}) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * len /
          (total_toks / n_docs))), 6)
      AS DECIMAL(38,10))) AS DOUBLE), 4) AS score
  FROM qt JOIN tf USING (tok) JOIN d USING (tok)
       JOIN lens ON tf.doc_id = lens.doc_id, stats
  WHERE df <= 1.0 * n_docs
  GROUP BY 1, 2)"""

  /** The storage oracles' key fingerprint — DuckDB's side of
    * Sinks.contentFingerprint: bit_xor of the first 60 md5 bits of `key`,
    * 0 over no rows.
    */
  private[graft] def md5XorSql(key: String): String =
    s"""CAST(COALESCE(bit_xor(CAST(('0x' || substr(md5(
    $key), 1, 15)) AS BIGINT)), 0) AS BIGINT)"""

  /** lineitem's 4-column row key. */
  private[graft] val LineitemKeySql: String =
    """CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
    || ':' || CAST(l_partkey AS VARCHAR) || ':'
    || CAST(l_suppkey AS VARCHAR)"""

  /** The documents snapshot row key (doc_id, lang, n_chars). */
  private[graft] val DocRowKeySql: String =
    """CAST(doc_id AS VARCHAR) || ':' || lang || ':' ||
    CAST(n_chars AS VARCHAR)"""

  private[graft] val DocIdKeySql: String = "CAST(doc_id AS VARCHAR)"

  /** A one-row storage check of `rel`: `n_rows`, the [[md5XorSql]] of
    * `key` as `$xorCol`, then the gate literal columns `gates`.
    */
  private[graft] def countXorSql(rel: String, key: String, xorCol: String,
      gates: String): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  ${md5XorSql(key)}
    AS $xorCol,
  $gates
FROM $rel"""

  /** lineitem's key ranges `rg` (alo/ahi = l_orderkey, blo/bhi =
    * l_partkey) — the layout keys' scaling domain.
    */
  private[graft] val keyRangeCte: String =
    """rg AS (
  SELECT MIN(l_orderkey) AS alo, MAX(l_orderkey) AS ahi,
    MIN(l_partkey) AS blo, MAX(l_partkey) AS bhi
  FROM lineitem)"""

  /** ZOrder's affine 16-bit scaling of `key` over its `rg` range: long
    * floor division, clamped to [lo, hi], as column `out`.
    */
  private[graft] def zScaleSql(key: String, lo: String, hi: String,
      out: String): String =
    s"((GREATEST((SELECT $lo FROM rg), LEAST((SELECT $hi FROM rg), " +
      s"$key)) - (SELECT $lo FROM rg)) * 65535) " +
      s"// ((SELECT $hi FROM rg) - (SELECT $lo FROM rg)) AS $out"

  /** ZOrder's Morton interleave of the scaled 16-bit keys `cols` as a
    * flat shift/mask sum: bit i of the j-th of n keys lands at bit
    * n*i + (n-1-j) of the key (a->2i+1, b->2i for two keys).
    */
  private[graft] def mortonSql(cols: Seq[String]): String = {
    val n = cols.size
    (0 until 16).flatMap(i => cols.zipWithIndex.map { case (c, j) =>
      s"(($c >> $i) & 1) * ${1L << (n * i + n - 1 - j)}"
    }).mkString(" + ")
  }

  /** The skipping gates' lineitem probe: [[keyRangeCte]], `bounds` = the
    * second quarter of each key range (pure long floor arithmetic), `hit`
    * = the rows inside that box.
    */
  private[graft] def quarterBoxCtes: String =
    s"""$keyRangeCte,
bounds AS (
  SELECT alo + (ahi - alo) // 4 AS a1, alo + (ahi - alo) // 2 AS a2,
    blo + (bhi - blo) // 4 AS b1, blo + (bhi - blo) // 2 AS b2
  FROM rg),
hit AS (
  SELECT l.* FROM lineitem l, bounds
  WHERE l.l_orderkey BETWEEN a1 AND a2 AND l.l_partkey BETWEEN b1 AND b2)"""
}
