package perfbench

/** Seeded, order-independent randomness: every generated value is a pure
  * function of (seed, salt, keys), so a row's content never depends on
  * how many rows were generated before it.
  */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, keys: Long*): Long = keys.foldLeft(mix(seed))((h, k) => mix(h ^ k))

  /** Uniform in [0, n). */
  def below(n: Int, seed: Long, keys: Long*): Int =
    java.lang.Long.remainderUnsigned(hash(seed, keys: _*), n.toLong).toInt

  /** Uniform in [0, 1). */
  def unit(seed: Long, keys: Long*): Double =
    (hash(seed, keys: _*) >>> 11).toDouble / (1L << 53).toDouble

  /** Standard normal (Box-Muller over two derived uniforms). */
  def gauss(seed: Long, keys: Long*): Double = {
    val u1 = math.max(unit(seed, (keys :+ 1L): _*), 1e-12)
    val u2 = unit(seed, (keys :+ 2L): _*)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  /** A pronounceable lowercase word of 2..4 syllables for index `i`. */
  def word(seed: Long, i: Long): String = {
    val n = 2 + below(3, seed, i, 7L)
    val sb = new StringBuilder
    (0 until n).foreach { s =>
      sb += consonants(below(consonants.length, seed, i, s.toLong, 1L))
      sb += vowels(below(vowels.length, seed, i, s.toLong, 2L))
    }
    sb.toString
  }

  /** A capitalised pronounceable name for index `i`. */
  def name(seed: Long, i: Long): String = word(seed, (1L << 40) + i).capitalize
}

/** Seeded document corpus: base docs over a synthetic vocabulary with
  * the quality-gate stopwords mixed in, plus replicas — exact duplicates,
  * near-duplicates and shared boilerplate lines. Every perturbation is at
  * word grain, so the engine's text normalization (lower-case, collapse
  * whitespace) cannot fold a near-duplicate back into an exact twin.
  */
final case class Doc(doc_id: Long, text: String, lang: String)

object Corpus {
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "is")
  val Langs: Array[String] = Array("en", "de", "fr", "es", "zh")
  private val Boilerplate: Array[String] = Array(
    "cookie settings privacy notice", "subscribe to our newsletter",
    "all rights are reserved", "share this page now", "read more related stories")
    .map(_.split(' ').take(4).padTo(4, "here").mkString(" "))

  /** Words of base doc `i`: 40..70 tokens (short docs fail the gate), no
    * word repeated back to back.
    */
  def words(seed: Long, i: Long, vocab: Int): Array[String] = {
    val n = if (Gen.below(100, seed, 61L, i) < 3) 8 + Gen.below(6, seed, 62L, i)
            else 40 + Gen.below(31, seed, 63L, i)
    val out = new Array[String](n)
    var j = 0
    var salt = 0L
    while (j < n) {
      val w =
        if (Gen.below(4, seed, 64L, i, j.toLong, salt) == 0)
          Stopwords(Gen.below(Stopwords.length, seed, 65L, i, j.toLong, salt))
        else Gen.word(seed, Gen.below(vocab, seed, 66L, i, j.toLong, salt).toLong)
      if (j > 0 && out(j - 1) == w) salt += 1
      else { out(j) = w; j += 1; salt = 0 }
    }
    out
  }

  /** Near-duplicate of `ws`: after every 8th word that word appears
    * twice, starting at `phase`. About 70% of the 3-gram shingles are
    * shared (well above the 0.5 Jaccard threshold), while every 10-word
    * window holds a doubled pair the base never has, so span dedup finds
    * no shared 10-gram and leaves the pair to the near-dup stage.
    */
  def nearDup(ws: Array[String], phase: Int): Array[String] =
    ws.zipWithIndex.flatMap { case (w, j) =>
      if (j >= phase && (j - phase) % 8 == 7) Array(w, w) else Array(w)
    }

  /** `nBase` base docs (ids 1..nBase) followed by the replicas. */
  def generate(seed: Long, nBase: Int, vocab: Int = 3000): Seq[Doc] = {
    val base = (1L to nBase.toLong).map(i => i -> words(seed, i, vocab))
    def lang(i: Long) = Langs(Gen.below(Langs.length, seed, 67L, i))
    def withBoiler(i: Long, ws: Array[String]): Array[String] =
      if (Gen.below(100, seed, 68L, i) < 8)
        Boilerplate(Gen.below(Boilerplate.length, seed, 69L, i)).split(' ') ++ ws
      else ws
    val docs = base.map { case (i, ws) => Doc(i, withBoiler(i, ws).mkString(" "), lang(i)) }
    var next = nBase.toLong
    val replicas = base.flatMap { case (i, ws) =>
      val r = Gen.below(100, seed, 70L, i)
      if (r < 4) { next += 1; Seq(Doc(next, docs(i.toInt - 1).text, lang(i))) }
      else if (r < 14) {
        next += 1
        Seq(Doc(next, withBoiler(next, nearDup(ws, Gen.below(8, seed, 71L, i))).mkString(" "), lang(i)))
      } else Nil
    }
    docs ++ replicas
  }
}
