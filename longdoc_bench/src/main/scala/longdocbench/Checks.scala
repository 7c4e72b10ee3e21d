package longdocbench

import graft.core.{BinPack, PipelineConfig, Splitter, Text}
import graft.llm.{Prompts, Summarizer}

/** Output checks. Every failure is collected; any failure fails the run. */
final class Checks {
  private var failed = 0

  def fail(msg: String): Unit = { failed += 1; System.err.println(s"[longdoc-bench] CHECK FAILED: $msg") }
  def require(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def ok: Boolean = failed == 0

  /** Each expected doc has exactly one non-empty summary of at most
    * `budget` tokens. Returns the number of docs missing or empty.
    */
  def summaries(what: String, rows: Seq[(Long, String)], expected: Set[Long], budget: Int): Int = {
    val byDoc = rows.groupBy(_._1)
    byDoc.foreach { case (id, rs) =>
      require(rs.size == 1, s"$what: doc $id has ${rs.size} summaries")
      require(expected(id), s"$what: unexpected doc $id")
    }
    var bad = 0
    expected.foreach { id =>
      byDoc.get(id).flatMap(_.headOption).map(_._2) match {
        case Some(s) if s != null && s.trim.nonEmpty =>
          val t = Text.tokenCount(s)
          require(t <= budget, s"$what: doc $id summary has $t tokens > budget $budget")
        case _ => bad += 1
      }
    }
    require(bad == 0, s"$what: $bad of ${expected.size} docs have no or an empty summary")
    bad
  }

  def in(what: String, v: Double, lo: Double, hi: Double): Unit =
    require(!v.isNaN && v >= lo - 1e-9 && v <= hi + 1e-9, s"$what = $v outside [$lo, $hi]")
}

object Checks {
  /** Order-independent content digest of a (doc_id, text) table. */
  def digest(rows: Seq[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.sortBy(_._1).foreach { case (id, s) =>
      md.update(s"$id\t${Option(s).getOrElse("")}\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digest of JSON reports that ignores the order of array elements
    * (aggregate rows come out in no fixed order).
    */
  def jsonDigest(paths: Seq[java.nio.file.Path]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def canon(n: com.fasterxml.jackson.databind.JsonNode): String =
      if (n.isArray) {
        val xs = Vector.newBuilder[String]
        n.elements().forEachRemaining(e => xs += canon(e))
        xs.result().sorted.mkString("[", ",", "]")
      } else if (n.isObject) {
        val xs = Vector.newBuilder[String]
        n.fields().forEachRemaining(e => xs += s"${e.getKey}:${canon(e.getValue)}")
        xs.result().sorted.mkString("{", ",", "}")
      } else n.toString
    digest(paths.zipWithIndex.map { case (p, i) => (i.toLong, canon(mapper.readTree(p.toFile))) })
  }

  /** The scalar the fixture backend implements, called directly: what an
    * `HttpSummarizer` bound to it returns for a call that succeeds.
    */
  object EchoSummarizer extends Summarizer {
    override def summarize(text: String, maxTokens: Int): String =
      Text.cleanThinking(Backend.echo(
        Backend.body(Prompts.map.fill("content" -> text, "docs" -> text)), maxTokens))
  }

  /** Plain-Scala replays of the strategies for one document, built from
    * `core.Splitter`, `core.BinPack` and the scalar alone.
    */
  final class Replay(s: Summarizer, cfg: PipelineConfig = PipelineConfig()) {
    private def chunks(text: String): Vector[String] =
      Splitter.recursiveSplit(text, cfg.chunkSize, cfg.chunkOverlap,
        Splitter.DefaultSeparators, Text.tokenCount)

    def truncated(text: String): String = {
      val contextBudget = math.max(cfg.tokenMax - cfg.maxSummaryTokens, cfg.maxSummaryTokens)
      s.summarize(Text.wsTokens(Text.cleanThinking(text)).take(contextBudget).mkString(" "),
        cfg.maxSummaryTokens)
    }

    /** (summary, collapse rounds this doc needed). */
    def mapReduce(text: String): (String, Int) = {
      var cur = chunks(text).zipWithIndex.map { case (c, i) =>
        val out = s.summarize(c, cfg.maxSummaryTokens)
        (i, out, Text.tokenCount(out).toLong)
      }
      var rounds = 0
      while (rounds < cfg.maxCollapseRounds && cur.map(_._3).sum > cfg.tokenMax) {
        val packed = BinPack.pack[(Int, String, Long)](cur.sortBy(c => (c._1, c._3)), _._3, cfg.tokenMax)
        cur = packed.groupBy(_._2).toVector.sortBy(_._1).map { case (bin, items) =>
          val out = s.summarize(items.map(_._1._2).mkString("\n\n"), cfg.maxSummaryTokens)
          (bin, out, Text.tokenCount(out).toLong)
        }
        rounds += 1
      }
      (s.summarize(cur.sortBy(_._1).map(_._2).mkString("\n\n"), cfg.maxSummaryTokens), rounds)
    }

    def iterative(text: String): String =
      chunks(text).foldLeft("") { (acc, c) =>
        if (acc.isEmpty) s.summarize(c, cfg.maxSummaryTokens)
        else s.summarize(acc + "\n\n" + c, cfg.maxSummaryTokens)
      }
  }

  /** The largest budget the critique loop can widen a summary to. */
  def critiqueBudget(cfg: PipelineConfig = PipelineConfig()): Int =
    (1 to cfg.maxCritiqueIterations).foldLeft(cfg.maxSummaryTokens)((b, _) => b + math.max(b / 2, 1))

  /** Population mean/std/min/max as the report rounds them (4 places). */
  def stats(xs: Seq[Double]): (Double, Double, Double, Double) = {
    val n = xs.size.toDouble
    val mean = xs.sum / n
    val std = math.sqrt(math.max(xs.map(x => x * x).sum / n - mean * mean, 0.0))
    (mean, std, xs.min, xs.max)
  }
}
