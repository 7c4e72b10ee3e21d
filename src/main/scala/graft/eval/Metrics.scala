package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{cosineSimilarityF, exactAvg, exactStddevPop, r4}
import graft.functions.udfs
import graft.llm.{ContextualEmbedder, Embedder, HashingTfEmbedder}

/** Evaluation layer (SURVEY.md §2.9, §3.2).
  *
  * The reference's semantic-eval entry point is literally one relational
  * query: scan gen + ref dirs -> inner join on filename -> per-pair metric
  * columns -> mean/std/min/max aggregate -> JSON sink
  * (evaluate/evaluate_summaries_semantic.py:521-696). That is exactly the
  * shape here; metrics are columns, aggregates are built-ins.
  */
object Metrics {

  /** M1+M3+M5: per-pair metric rows. Input: (doc_id, gen, ref). */
  def pairMetrics(pairs: DataFrame, embedder: Embedder = HashingTfEmbedder(64)): DataFrame = {
    val embedUdf = udf((t: String) => if (t == null) Array.empty[Float] else embedder.embed(t))
    val rouge = udfs.rougeStruct(col("gen"), col("ref"))
    pairs
      .withColumn("rouge", rouge)
      .select(
        col("doc_id"),
        cosineSimilarityF(embedUdf(col("gen")), embedUdf(col("ref")))
          .as("semantic_similarity"),
        col("rouge.rouge1_f").as("rouge1_f"),
        col("rouge.rouge2_f").as("rouge2_f"),
        col("rouge.rougeL_f").as("rougeL_f"))
  }

  /** M2: BERTScore-shaped greedy-match P/R/F1 columns. Token embeddings
    * come from the pluggable embedder applied per token (deterministic
    * hashing-TF by default; a transformer-backed Embedder upgrades the
    * score without plan changes). Input: (doc_id, gen, ref).
    */
  def bertScore(pairs: DataFrame, embedder: Embedder = HashingTfEmbedder(64)): DataFrame = {
    val scoreUdf = udf { (gen: String, ref: String) =>
      def tokVecs(s: String): Array[Array[Float]] =
        if (s == null) Array.empty
        else graft.core.Text.metricTokens(s).map(embedder.embed)
      graft.core.BertScore.greedyMatch(tokVecs(gen), tokVecs(ref))
    }
    pairs.withColumn("bs", scoreUdf(col("gen"), col("ref")))
      .select(col("doc_id"),
        r4(col("bs._1")).as("bert_p"),
        r4(col("bs._2")).as("bert_r"),
        r4(col("bs._3")).as("bert_f"))
  }

  /** M2, contextual form — BERTScore as published: greedy matching over
    * CONTEXTUAL per-token vectors from a transformer encoder (the
    * reference's in-process model path,
    * evaluate/evaluate_summaries_semantic.py:150-166), not per-token
    * bag embeddings. One encoder forward pass per side per pair; pure
    * map, no shuffle. Input: (doc_id, gen, ref).
    */
  def bertScoreContextual(pairs: DataFrame, encoder: ContextualEmbedder)
      : DataFrame = {
    val scoreUdf = udf { (gen: String, ref: String) =>
      graft.core.BertScore.greedyMatch(encoder.encode(gen), encoder.encode(ref))
    }
    pairs.withColumn("bs", scoreUdf(col("gen"), col("ref")))
      .select(col("doc_id"),
        r4(col("bs._1")).as("bert_p"),
        r4(col("bs._2")).as("bert_r"),
        r4(col("bs._3")).as("bert_f"))
  }

  /** M6: sentence BLEU per pair — add-one-smoothed clipped n-gram
    * precisions + brevity penalty over the metric-token convention (see
    * [[graft.core.Bleu]]). `log_bleu_qmicro` is the exact integer
    * log-score (maxN-quarter micro-nats) an oracle replays verbatim;
    * `bleu` is its 4dp exp. Empty either side => (0.0, null), the
    * BertScore degenerate convention. Input: (doc_id, gen, ref).
    */
  def bleuScores(pairs: DataFrame, maxN: Int = 4): DataFrame = {
    val u = udf { (gen: String, ref: String) =>
      val c = graft.core.Text.metricTokens(if (gen == null) "" else gen)
      val r = graft.core.Text.metricTokens(if (ref == null) "" else ref)
      if (c.isEmpty || r.isEmpty) (0.0, None: Option[Long])
      else {
        val (b, q) = graft.core.Bleu.sentenceBleu(c, r, maxN)
        (b, Some(q))
      }
    }
    pairs.withColumn("b", u(col("gen"), col("ref")))
      .select(col("doc_id"), col("b._1").as("bleu"),
        col("b._2").as("log_bleu_qmicro"))
  }

  /** M7: chrF2 per pair (Popović 2015 at the sacrebleu-default β=2) —
    * character-level n-gram F, the tokenization-robust member of the
    * metric suite (see core.ChrF for the exactness discipline that gives
    * it a full SQL oracle). Input: (doc_id, gen, ref).
    */
  def chrfScores(pairs: DataFrame): DataFrame =
    pairs.withColumn("c", udfs.chrfStruct(col("gen"), col("ref")))
      .select(col("doc_id"), col("c.chrf").as("chrf"),
        col("c.chrf_p").as("chrf_p"), col("c.chrf_r").as("chrf_r"))

  /** G6: mean/std/min/max per metric (population std — the reference uses
    * numpy's default, evaluate/evaluate_summaries_semantic.py:600-617).
    * Output long-format: (metric, mean, std, min, max).
    */
  def summaryStats(metrics: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        r4(exactAvg(col(c))).as(s"${c}__mean"),
        r4(exactStddevPop(col(c))).as(s"${c}__std"),
        r4(min(col(c))).as(s"${c}__min"),
        r4(max(col(c))).as(s"${c}__max"))
    }
    val wide = metrics.agg(aggs.head, aggs.tail: _*)
    // unpivot to long format (one stack expression — single pass)
    val stackExpr = cols.map { c =>
      s"'$c', `${c}__mean`, `${c}__std`, `${c}__min`, `${c}__max`"
    }.mkString(s"stack(${cols.size}, ", ", ", ") as (metric, mean, std, min, max)")
    wide.selectExpr(stackExpr)
  }

  /** M4: per-pair judge verdicts (the G-Eval shape: an LLM-rubric judge in
    * the reference, the deterministic [[graft.llm.CoverageJudge]] by
    * default) with per-case failure isolation — a judge that throws yields
    * a null verdict instead of failing the query (reference isolates G-Eval
    * failures per case, evaluate/evaluate_summaries_semantic.py:318-376).
    * Input: (doc_id, gen, ref). Output: (doc_id, verdict, passed).
    */
  def judgeMetrics(pairs: DataFrame,
      judge: graft.llm.Judge = graft.llm.CoverageJudge()): DataFrame = {
    val judgeUdf = udf { (gen: String, ref: String) =>
      try {
        val (verdict, corr, coh) = judge.assess(gen, ref)
        Option((verdict, verdict.contains(graft.llm.Judge.NoIssues), corr, coh))
      } catch { case _: Exception => None }
    }
    pairs.withColumn("j", judgeUdf(col("gen"), col("ref")))
      .select(col("doc_id"), col("j._1").as("verdict"), col("j._2").as("passed"),
        r4(col("j._3")).as("correctness"), r4(col("j._4")).as("coherence"))
  }

  /** M4 aggregate: pass rate + isolated-failure count + the G-Eval-shaped
    * mean/std/min/max blocks over both rubric scores (reference stats:
    * evaluate/evaluate_summaries_semantic.py:403-415).
    */
  def judgeStats(judged: DataFrame): DataFrame =
    judged.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("passed"), 1L).otherwise(0L)).as("n_passed"),
      sum(when(col("verdict").isNull, 1L).otherwise(0L)).as("n_failures"),
      r4(exactAvg(when(col("passed"), 1.0).otherwise(0.0))).as("pass_rate"),
      r4(exactAvg(col("correctness"))).as("corr_mean"),
      r4(exactStddevPop(col("correctness"))).as("corr_std"),
      r4(min(col("correctness"))).as("corr_min"),
      r4(max(col("correctness"))).as("corr_max"),
      r4(exactAvg(col("coherence"))).as("coh_mean"),
      r4(exactStddevPop(col("coherence"))).as("coh_std"),
      r4(min(col("coherence"))).as("coh_min"),
      r4(max(col("coherence"))).as("coh_max"))

  /** G7: similarity-bucket histogram with percentages (reference:
    * evaluate/evaluate_summaries_semantic.py:661-671 — [0.7,inf) high,
    * [0.4,0.7) moderate, (-inf,0.4) low).
    */
  def similarityHistogram(metrics: DataFrame, simCol: String = "semantic_similarity")
      : DataFrame = {
    val bucket = when(col(simCol) >= 0.7, "high")
      .when(col(simCol) >= 0.4, "moderate")
      .otherwise("low")
    val counts = metrics
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    // Broadcast scalar total instead of an unpartitioned window, which
    // would move the whole frame to a single partition.
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .withColumn("pct", r4(col("n") * 100.0 / col("total")))
      .drop("total")
  }

  /** G8: best-model argmax per metric with deterministic tie-break on model
    * name (reference: run_full_evaluation_pipeline.py:909-921).
    */
  def bestModelPerMetric(stats: DataFrame, metricCol: String = "metric",
      modelCol: String = "model", valueCol: String = "mean"): DataFrame =
    stats.groupBy(col(metricCol))
      .agg(max_by(col(modelCol), struct(col(valueCol), col(modelCol)))
        .as("best_model"),
        max(col(valueCol)).as("best_value"))
}
