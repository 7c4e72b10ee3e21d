package graft.core

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants for the pure core (no Spark): the splitter,
  * greedy bin-packer, ROUGE and token utilities are the engine's most-used
  * scalar logic — randomized inputs catch edge cases fixtures miss.
  *
  * Uses ScalaCheck generators with a fixed seed chain (the
  * scalatest-scalacheck bridge artifact is not in the offline dep set, and
  * a deterministic sample stream reproduces failures exactly anyway).
  */
class CoreProps extends AnyFunSuite {

  private val params = Gen.Parameters.default
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(p => f(p._1, p._2))
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])
      (f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(p => f(p._1, p._2, p._3))

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 120)
    ws <- Gen.listOfN(n, word)
    sep <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", " ", "\n", "\n\n", ". "))
  } yield ws.zipAll(sep, "", "").map { case (w, s) => w + s }.mkString

  test("greedyBins: ids start at 0, are consecutive and non-decreasing") {
    forAll(Gen.listOf(Gen.chooseNum(0L, 50L)), Gen.chooseNum(1L, 60L)) {
      (ws: List[Long], budget: Long) =>
        val bins = BinPack.greedyBins(ws, budget)
        assert(bins.length == ws.length)
        if (bins.nonEmpty) {
          assert(bins.head == 0)
          bins.sliding(2).foreach {
            case Seq(a, b) => assert(b == a || b == a + 1)
            case _ =>
          }
        }
    }
  }

  test("greedyBins: every bin fits the budget unless it is a single item") {
    forAll(Gen.listOf(Gen.chooseNum(0L, 50L)), Gen.chooseNum(1L, 60L)) {
      (ws: List[Long], budget: Long) =>
        val byBin = ws.zip(BinPack.greedyBins(ws, budget)).groupBy(_._2)
        byBin.values.foreach { items =>
          assert(items.map(_._1).sum <= budget || items.length == 1)
        }
    }
  }

  test("greedyBins is maximal: a bin never closes while the next item fits") {
    forAll(Gen.listOf(Gen.chooseNum(1L, 30L)), Gen.chooseNum(1L, 60L)) {
      (ws: List[Long], budget: Long) =>
        val bins = BinPack.greedyBins(ws, budget)
        val totals = ws.zip(bins).groupBy(_._2).view.mapValues(_.map(_._1).sum)
        bins.zip(ws).zipWithIndex.drop(1).foreach { case ((bin, w), i) =>
          val prevBin = bins(i - 1)
          if (bin != prevBin) // item opened a new bin -> it must not have fit
            assert(totals(prevBin) + w > budget)
        }
    }
  }

  test("recursiveSplit: chunks respect the size bound (or are atomic)") {
    forAll(text, Gen.chooseNum(4, 40)) { (t: String, size: Int) =>
      val chunks = Splitter.recursiveSplit(t, size, overlap = 2,
        Splitter.DefaultSeparators, Splitter.CharLen)
      chunks.foreach { c =>
        // a chunk may exceed the bound only if it is a single unsplittable
        // token longer than the bound at every separator level
        assert(c.length <= size || !c.exists(_.isWhitespace))
      }
    }
  }

  test("recursiveSplit: letter content is preserved exactly, in order") {
    forAll(text, Gen.chooseNum(6, 40)) { (t: String, size: Int) =>
      val chunks = Splitter.recursiveSplit(t, size, overlap = 0,
        Splitter.DefaultSeparators, Splitter.CharLen)
      // with zero overlap the concatenated chunks carry every letter of the
      // source in order — splitting may cut inside words (last-resort ""
      // separator) and normalize separators, but never drops content
      val srcLetters = t.filter(_.isLetter)
      val outLetters = chunks.mkString.filter(_.isLetter)
      assert(outLetters == srcLetters)
    }
  }

  test("ROUGE F1s are in [0,1]; identical texts score 1 on rouge1/rougeL") {
    forAll(text, text) { (a: String, b: String) =>
      val (r1, r2, rl) = Rouge.all(a, b)
      Seq(r1, r2, rl).foreach(v => assert(v >= 0.0 && v <= 1.0))
    }
    forAll(text.suchThat(t => Text.metricTokens(t).nonEmpty)) { (t: String) =>
      assert(Rouge.rouge1(t, t).f == 1.0)
      assert(Rouge.rougeL(t, t).f == 1.0)
    }
  }

  test("ROUGE is symmetric in F1 (precision/recall swap)") {
    forAll(text, text) { (a: String, b: String) =>
      assert(math.abs(Rouge.rouge1(a, b).f - Rouge.rouge1(b, a).f) < 1e-12)
      assert(math.abs(Rouge.rougeL(a, b).f - Rouge.rougeL(b, a).f) < 1e-12)
    }
  }

  test("truncateTokens: result has at most k tokens and is a prefix stream") {
    forAll(text, Gen.chooseNum(0, 30)) { (t: String, k: Int) =>
      val out = Text.truncateTokens(t, k)
      assert(Text.tokenCount(out) <= math.max(k, 0))
      assert(Text.wsTokens(out).sameElements(Text.wsTokens(t).take(math.max(k, 0))))
    }
  }

  test("cleanThinking removes every think-tag block") {
    forAll(text, text, text) { (pre: String, inner: String, post: String) =>
      val dirty = s"$pre <think>$inner</think> $post"
      val cleaned = Text.cleanThinking(dirty)
      assert(!cleaned.toLowerCase.contains("<think>"))
    }
  }

  // ---- the scanning tokenizers equal their regex forms exactly

  private val wsRe = java.util.regex.Pattern.compile("\\s+")
  private val metricRe = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")
  private def regexWsTokens(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array.empty else wsRe.split(t)
  }
  private def regexTruncate(s: String, k: Int): String = {
    val toks = regexWsTokens(s)
    if (toks.length <= k) s.trim else toks.take(k).mkString(" ")
  }
  private def regexMetricTokens(s: String): Array[String] =
    metricRe.split(s.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  private val vietnamese = Seq("Tiếng", "Việt", "được", "nghiêng", "Đà", "Nẵng", "quyết định", "Hà Nội")
  /** Controls <= U+0020 (the ones `\s` splits on and the ones it does
    * not), NBSP, U+2028, U+3000, NEL, surrogate pairs and unpaired
    * surrogates, 'İ' (lower-cases to two chars), I + combining dot, the
    * Kelvin sign, number letters, and NFC and NFD Vietnamese (NFD's tone
    * marks are combining, so they split metric tokens).
    */
  private val hostilePiece: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000b", "\u0000", "\u0001", "\u001c", "\u001f"),
    2 -> Gen.oneOf("\u00a0", "\u2028", "\u3000", "\u0085"),
    2 -> Gen.oneOf("𝐀", "𝟎", "😀", "\uD835", "\uDC00",
      "İ", "I\u0307", "\u212A", "Ⅷ", "½", "٣", "\u0301"),
    3 -> Gen.oneOf(vietnamese),
    2 -> Gen.oneOf(vietnamese).map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFD)),
    3 -> word.map(_.capitalize),
    2 -> Gen.oneOf(".", ",", "-", "'", "42"))
  private val hostile: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, hostilePiece)).map(_.mkString)

  test("tokenCount and truncateTokens equal the trim-and-split forms on hostile text") {
    forAll(Gen.zip(hostile, Gen.chooseNum(-1, 12)), 2000) { case (t, k) =>
      assert(Text.tokenCount(t) == regexWsTokens(t).length, t)
      assert(Text.wsTokens(t).sameElements(regexWsTokens(t)), t)
      assert(Text.truncateTokens(t, k) == regexTruncate(t, k), s"k=$k: $t")
    }
  }

  test("metricTokens equals the regex split on hostile text") {
    forAll(hostile, 2000) { (t: String) =>
      assert(Text.metricTokens(t).sameElements(regexMetricTokens(t)), t)
    }
  }

  test("Rouge.all equals the separate F1s and the Seq-keyed n-gram count") {
    def seqKeyed(c: Array[String], r: Array[String], n: Int): Double = {
      def counts(t: Array[String]) =
        if (t.length < n) Map.empty[Seq[String], Int]
        else t.sliding(n).map(_.toSeq).toSeq.groupBy(identity).map { case (g, v) => g -> v.size }
      val (cc, rc) = (counts(c), counts(r))
      val overlap = cc.iterator.map { case (g, k) => math.min(k, rc.getOrElse(g, 0)) }.sum
      val (cn, rn) = (math.max(0, c.length - n + 1), math.max(0, r.length - n + 1))
      if (cn == 0 || rn == 0 || overlap == 0) 0.0
      else { val p = overlap.toDouble / cn; val q = overlap.toDouble / rn; 2 * p * q / (p + q) }
    }
    forAll(Gen.oneOf(text, hostile), Gen.oneOf(text, hostile)) { (a: String, b: String) =>
      val (r1, r2, rl) = Rouge.all(a, b)
      assert((r1, r2, rl) == ((Rouge.rouge1(a, b).f, Rouge.rouge2(a, b).f, Rouge.rougeL(a, b).f)))
      assert(Rouge.f12(a, b) == ((Rouge.rouge1(a, b).f, Rouge.rouge2(a, b).f)))
      val (c, r) = (regexMetricTokens(a), regexMetricTokens(b))
      assert(r1 == seqKeyed(c, r, 1) && r2 == seqKeyed(c, r, 2))
    }
  }

  test("recursive token split is unchanged on bench-shaped Vietnamese docs") {
    // ds1-shaped docs: toned syllables, 8-20-word sentences, 3-8-sentence
    // paragraphs joined by "\n\n", 27k-81.5k tokens
    val rng = new java.util.SplittableRandom(31L)
    val onsets = Vector("", "b", "c", "d", "đ", "g", "h", "kh", "l", "m", "n", "ng", "nh", "ph", "qu", "s", "t", "th", "tr", "v", "x")
    val nuclei = Vector("a", "á", "à", "ả", "ã", "ạ", "ă", "ắ", "â", "ấ", "e", "é", "ê", "ế", "ề", "i", "í", "o", "ó", "ô", "ố", "ơ", "ớ", "u", "ú", "ư", "ứ", "y", "ý")
    val codas = Vector("", "", "c", "ch", "m", "n", "ng", "nh", "p", "t")
    val vocab = Vector.fill(600)(onsets(rng.nextInt(onsets.size)) + nuclei(rng.nextInt(nuclei.size)) +
      codas(rng.nextInt(codas.size)))
    def doc(tokens: Int): String = {
      val paras = Vector.newBuilder[String]
      var n = 0
      while (n < tokens) {
        paras += Vector.fill(3 + rng.nextInt(6)) {
          val len = 8 + rng.nextInt(13)
          n += len
          // squared uniform: a Zipf-like skew toward the vocabulary's head
          Vector.fill(len) { val u = rng.nextDouble(); vocab((u * u * vocab.size).toInt) }
            .mkString(" ").capitalize + "."
        }.mkString(" ")
      }
      paras.result().mkString("\n\n")
    }
    val cfg = PipelineConfig()
    val chunks = Seq(27000, 54250, 81500).map(doc).map(d =>
      Splitter.recursiveSplit(d, cfg.chunkSize, cfg.chunkOverlap, Splitter.DefaultSeparators, Splitter.TokenLen))
    assert(chunks.map(_.size) == Seq(3, 5, 7))
    val md = java.security.MessageDigest.getInstance("MD5")
    chunks.flatten.foreach(c => md.update((c + "\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(md.digest().map("%02x".format(_)).mkString == "a0442c6a10477f1674e33dd80f2a2107")
  }
}
