package longdocbench

import java.text.Normalizer
import java.util.SplittableRandom

/** Vietnamese-shaped text, a pure function of (seed, key).
  *
  * Syllables are assembled from code points: an onset, a nucleus whose
  * letters carry their vowel modifiers (breve, circumflex, horn) and one of
  * the five tone marks or none, and an optional coda; the result is NFC
  * normalized. The vocabulary is a seeded draw of `vocabSize` distinct
  * syllables, and tokens follow a Zipf law over it, so a corpus has the
  * few-thousand-syllable working set of real Vietnamese. Text is made of
  * sentences ending in `.`, `?` or `!` and `\n\n`-separated paragraphs, so
  * the recursive splitter and the sentence segmenter meet real boundaries.
  */
final class VietText(val seed: Long, vocabSize: Int = 6000, zipfS: Double = 1.0) {

  val vocab: Array[String] = {
    val all = VietText.allSyllables
    require(all.length >= vocabSize, s"only ${all.length} syllables for $vocabSize")
    val a = all.clone()
    val r = new SplittableRandom(VietText.mix(seed, -1L))
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.take(vocabSize)
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def rng(key: Long): SplittableRandom = new SplittableRandom(VietText.mix(seed, key))

  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
  }

  /** Appends one capitalized sentence of `n` tokens. */
  private def sentence(r: SplittableRandom, sb: java.lang.StringBuilder, n: Int): Unit = {
    var i = 0
    while (i < n) {
      val w = word(r)
      if (i == 0) sb.append(w.substring(0, 1).toUpperCase(java.util.Locale.ROOT)).append(w, 1, w.length)
      else sb.append(' ').append(w)
      if (i < n - 1 && r.nextInt(100) < 7) sb.append(',')
      i += 1
    }
    val p = r.nextInt(100)
    sb.append(if (p < 88) '.' else if (p < 94) '?' else '!')
  }

  /** A document of at least `targetTokens` whitespace tokens: paragraphs of
    * 2-8 sentences of 6-28 tokens, stopping at the first sentence end past
    * the target.
    */
  def document(key: Long, targetTokens: Int): String = {
    val r = rng(key)
    val sb = new java.lang.StringBuilder(targetTokens * 6)
    var tokens = 0
    while (tokens < targetTokens) {
      if (sb.length > 0) sb.append("\n\n")
      val sentences = 2 + r.nextInt(7)
      var s = 0
      while (s < sentences && tokens < targetTokens) {
        if (s > 0) sb.append(' ')
        val n = 6 + r.nextInt(23)
        sentence(r, sb, n)
        tokens += n
        s += 1
      }
    }
    sb.toString
  }

  /** The leading whole sentences of `text` up to at least `tokens` tokens
    * (a lead reference summary).
    */
  def lead(text: String, tokens: Int): String = {
    val sents = graft.core.Text.sentences(text).iterator
    val out = Vector.newBuilder[String]
    var n = 0
    while (n < tokens && sents.hasNext) {
      val s = sents.next(); out += s; n += graft.core.Text.tokenCount(s)
    }
    out.result().mkString(" ")
  }
}

object VietText {
  private val Breve = "\u0306"
  private val Circ = "\u0302"
  private val Horn = "\u031B"
  /** none, sắc, huyền, hỏi, ngã, nặng */
  private val Tones = Vector("", "\u0301", "\u0300", "\u0309", "\u0303", "\u0323")
  private val StopTones = Vector("\u0301", "\u0323")

  private val Onsets = Vector("", "b", "c", "ch", "d", "\u0111", "g", "gh", "gi", "h",
    "k", "kh", "l", "m", "n", "ng", "ngh", "nh", "p", "ph", "qu", "r", "s", "t",
    "th", "tr", "v", "x")
  private val Codas = Vector("", "c", "ch", "m", "n", "ng", "nh", "p", "t")
  private val StopCodas = Set("c", "ch", "p", "t")

  /** (letters with modifiers, index of the letter that takes the tone,
    * whether a coda may follow).
    */
  private val Nuclei: Vector[(Vector[String], Int, Boolean)] = Vector(
    (Vector("a"), 0, true), (Vector("a" + Breve), 0, true), (Vector("a" + Circ), 0, true),
    (Vector("e"), 0, true), (Vector("e" + Circ), 0, true), (Vector("i"), 0, true),
    (Vector("o"), 0, true), (Vector("o" + Circ), 0, true), (Vector("o" + Horn), 0, true),
    (Vector("u"), 0, true), (Vector("u" + Horn), 0, true), (Vector("y"), 0, false),
    (Vector("a", "i"), 0, false), (Vector("a", "o"), 0, false), (Vector("a", "u"), 0, false),
    (Vector("a", "y"), 0, false), (Vector("a" + Circ, "u"), 0, false),
    (Vector("a" + Circ, "y"), 0, false), (Vector("e", "o"), 0, false),
    (Vector("e" + Circ, "u"), 0, false), (Vector("i", "u"), 0, false),
    (Vector("o", "i"), 0, false), (Vector("o" + Circ, "i"), 0, false),
    (Vector("o" + Horn, "i"), 0, false), (Vector("u", "i"), 0, false),
    (Vector("u" + Horn, "i"), 0, false), (Vector("u" + Horn, "u"), 0, false),
    (Vector("i", "a"), 0, false), (Vector("u", "a"), 0, false), (Vector("u" + Horn, "a"), 0, false),
    (Vector("i", "e" + Circ), 1, true), (Vector("u", "o" + Circ), 1, true),
    (Vector("u" + Horn, "o" + Horn), 1, true), (Vector("o", "a"), 1, true),
    (Vector("o", "e"), 1, true), (Vector("u", "y"), 1, true),
    (Vector("u", "a" + Circ), 1, true), (Vector("u", "e" + Circ), 1, true),
    (Vector("y", "e" + Circ), 1, true))

  /** Every well-formed syllable, NFC, distinct, in enumeration order. */
  lazy val allSyllables: Array[String] = {
    val out = new java.util.LinkedHashSet[String]()
    for {
      onset <- Onsets
      (letters, toneAt, open) <- Nuclei
      front = Set('i', 'e', 'y')(letters.head.head)
      if !(Set("k", "gh", "ngh")(onset) && !front)
      if !(Set("c", "g", "ng")(onset) && front)
      if !(onset == "qu" && letters.head.head == 'u')
      if !(onset == "gi" && letters.head.head == 'i')
      coda <- if (open) Codas else Vector("")
      tone <- if (StopCodas(coda)) StopTones else Tones
    } {
      val nucleus = letters.zipWithIndex.map { case (l, i) => if (i == toneAt) l + tone else l }
      out.add(Normalizer.normalize(onset + nucleus.mkString + coda, Normalizer.Form.NFC))
    }
    out.toArray(new Array[String](0))
  }

  /** SplitMix64 finalizer over (seed, key): independent streams per key. */
  def mix(seed: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
