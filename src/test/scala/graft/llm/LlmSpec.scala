package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Text

class LlmSpec extends AnyFunSuite {

  private val doc =
    "Spark executes queries lazily. Catalyst optimizes the logical plan. " +
      "Tungsten generates compact code. Shuffles move data between stages. " +
      "Broadcast joins avoid shuffles for small tables."

  test("extractive summarizer is deterministic and within token budget") {
    val a = ExtractiveSummarizer.summarize(doc, 10)
    val b = ExtractiveSummarizer.summarize(doc, 10)
    assert(a == b)
    assert(a.nonEmpty)
    assert(Text.tokenCount(a) <= 10)
  }

  test("extractive summarizer emits selected sentences in original order") {
    val s = ExtractiveSummarizer.summarize(doc, 1000)
    // with an unlimited budget every sentence is picked, in order
    assert(Text.metricTokens(s).toSeq == Text.metricTokens(doc).toSeq)
  }

  test("extractive summarizer: empty input") {
    assert(ExtractiveSummarizer.summarize("", 10) == "")
  }

  test("lead summarizer takes the head tokens of cleaned text") {
    assert(LeadSummarizer.summarize("a   b\nc d e", 3) == "a b c")
  }

  test("identity summarizer truncates only") {
    assert(IdentitySummarizer.summarize("a b c d", 2) == "a b")
  }

  test("coverage judge passes identical text, flags disjoint text") {
    assert(CoverageJudge().critique(doc, doc).contains(Judge.NoIssues))
    assert(!CoverageJudge().critique("zzz yyy", doc).contains(Judge.NoIssues))
    assert(!CoverageJudge().critique("", doc).contains(Judge.NoIssues))
  }

  test("coverage judge: one assess equals critique and scores, values unchanged") {
    // the judge as it was with critique and scores each tokenizing
    def legacy(summary: String, source: String, min: Double): (String, Double, Double) = {
      val srcToks = Text.metricTokens(source).toSet
      val sumToks = Text.metricTokens(summary)
      val hits = srcToks.count(sumToks.toSet.contains)
      val verdict =
        if (summary.trim.isEmpty) "empty summary"
        else if (srcToks.nonEmpty && hits.toDouble / srcToks.size >= min) Judge.NoIssues
        else s"low source coverage: $hits/${srcToks.size} < $min"
      val corr =
        if (srcToks.isEmpty || summary.trim.isEmpty) 0.0 else hits.toDouble / srcToks.size
      val coh = if (sumToks.isEmpty) 0.0 else sumToks.distinct.length.toDouble / sumToks.length
      (verdict, corr, coh)
    }
    val texts = Seq(doc, "", "   ", "zzz yyy", "Spark spark SPARK shuffles", "Catalyst optimizes.",
      "Tiếng Việt được dùng", "Tiếng Việt", "!!! ...")
    for (min <- Seq(0.25, 0.0, 1.0); summary <- texts; source <- texts) {
      val j = CoverageJudge(min)
      val want = legacy(summary, source, min)
      assert(j.assess(summary, source) == want, s"($summary, $source, $min)")
      assert(j.critique(summary, source) == want._1)
      assert(j.scores(summary, source) == ((want._2, want._3)))
      assert(j.preparedCritique(source)(summary) == want._1)
    }
    assert(CoverageJudge().assess("zzz yyy", doc) == (("low source coverage: 0/24 < 0.25", 0.0, 1.0)))
    assert(CoverageJudge().assess("Spark spark shuffles", doc) ==
      (("low source coverage: 2/24 < 0.25", 2.0 / 24, 2.0 / 3)))
    // a null side still throws, which judgeMetrics isolates as a failure
    assertThrows[NullPointerException](CoverageJudge().assess(null, doc))
    assertThrows[NullPointerException](CoverageJudge().assess(doc, null))
  }

  test("hashing TF embedder: deterministic, unit L2 norm, fixed dim") {
    val e = HashingTfEmbedder(32)
    val v1 = e.embed(doc)
    val v2 = e.embed(doc)
    assert(v1.toSeq == v2.toSeq)
    assert(v1.length == 32)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.embed("").forall(_ == 0f))
  }

  test("md5 TF embedder: single token embeds to exactly one +/-1 entry") {
    val e = Md5TfEmbedder(64)
    for (tok <- Seq("hello", "xin", "chào", "data")) {
      val v = e.embed(tok)
      assert(v.count(_ != 0f) == 1) // exactly +/-e_bucket
      assert(v.find(_ != 0f).exists(x => x == 1f || x == -1f))
    }
    // prepared critique / oracle parity anchor: bucket = first-60-md5-bits % 64
    val v = e.embed("hello")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8")).take(8)
      .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) >>> 4
    assert(v((hex % 64).toInt) != 0f)
  }

  test("embedder separates different texts") {
    val e = HashingTfEmbedder(64)
    val a = e.embed("spark sql catalyst optimizer")
    val b = e.embed("completely unrelated gardening words")
    val cos = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos < 0.9)
  }
}
