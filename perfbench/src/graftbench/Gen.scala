package graftbench

import graft.api.Embedder

/** SplitMix64: a tiny, fully specified PRNG, so a seed means the same
  * stream on every JVM and every Scala version.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = (nextDouble() * n).toInt
  def between(lo: Int, hiIncl: Int): Int = lo + nextInt(hiIncl - lo + 1)
}

object Rng {
  /** An independent stream per (seed, purpose, index): a document's content
    * never depends on which partition or in which order it is generated.
    */
  def of(seed: Long, purpose: Long, index: Long): Rng = {
    val r = new Rng(seed * 0x632BE59BD9B4E019L + purpose)
    new Rng(r.nextLong() ^ (index * 0x9E3779B97F4A7C15L))
  }
}

/** Zipf(s) over ranks 0 until n: rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double = 1.0) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def draw(r: Rng): Int = rankAt(r.nextDouble())

  /** Inverse CDF: the rank whose cumulative share first reaches u in [0, 1). */
  def rankAt(u: Double): Int = {
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One generated document; `userBytes` counts id + content + metadata. */
final case class GenDoc(id: String, content: String, metadata: Map[String, String]) {
  def userBytes: Long =
    id.length.toLong + content.length + metadata.iterator.map(kv => kv._1.length + kv._2.length).sum
}

/** The seeded corpus vocabulary and document generators shared by every
  * workload. Words are lowercase ASCII letters only, so the engine's
  * tokenizer (lowercase, split on non-letter/digit runs) sees each word as
  * exactly one token; marker tokens mix in digits, so they never collide
  * with a vocabulary word.
  */
final class Corpus(val seed: Long, vocabSize: Int) extends Serializable {
  import Corpus._

  /** rank -> word; which word is popular depends on the seed. */
  val vocab: Array[String] = {
    val words = Array.tabulate(vocabSize)(i => word(i + Syllables.length))
    val r = Rng.of(seed, 1, 0)
    var i = words.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = words(i); words(i) = words(j); words(j) = t
      i -= 1
    }
    words
  }
  val zipf = new Zipf(vocabSize)

  def term(r: Rng): String = vocab(zipf.draw(r))

  /** A Zipf draw restricted to one of `bands` equal-probability bands of
    * the distribution: stratified query terms keep each run's mix of
    * popular and rare terms the same while the words change with the seed. */
  def termIn(r: Rng, band: Int, bands: Int): String =
    vocab(zipf.rankAt((band + r.nextDouble()) / bands))

  def words(r: Rng, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) { if (i > 0) sb += ' '; sb ++= term(r); i += 1 }
    sb.toString
  }

  /** Short `search` document: 10-70 Zipf tokens and {lang, source, n, opt?}. */
  def searchDoc(i: Int): GenDoc = {
    val r = Rng.of(seed, 2, i)
    val content = words(r, r.between(10, 70))
    val base = Map(
      "lang" -> Langs(r.nextInt(Langs.length)),
      "source" -> Sources(r.nextInt(Sources.length)),
      "n" -> r.nextInt(1000).toString)
    val meta = if (r.nextDouble() < 0.3) base + ("opt" -> s"x${r.nextInt(10)}") else base
    GenDoc(f"d$i%07d", content, meta)
  }

  /** Multi-KB `churn` document: Zipf text with one unique marker token and
    * an incompressible `blob` metadata payload (an opaque attachment such
    * as a serialized page), which keeps the docs store above the engine's
    * direct-merge size limit with a modest token count.
    */
  def churnDoc(id: String, marker: String, version: Long, tokens: (Int, Int),
               blobBytes: Int): GenDoc = {
    val r = Rng.of(seed, 3, version)
    val content = words(r, r.between(tokens._1, tokens._2)) + " " + marker
    val lang = Langs(r.nextInt(Langs.length))
    val source = Sources(r.nextInt(Sources.length))
    // drawn last: a caller that passes blobBytes = 0 gets the same text
    val blob = new Array[Char](blobBytes)
    var k = 0
    while (k < blobBytes) { blob(k) = BlobChars.charAt(r.nextInt(BlobChars.length)); k += 1 }
    GenDoc(id, content, Map("lang" -> lang, "source" -> source, "blob" -> new String(blob)))
  }
}

object Corpus {
  val Langs: Array[String] = Array("en", "de", "fr", "es", "it")
  val Sources: Array[String] = Array("web", "news", "wiki", "forum", "code", "books")
  private val BlobChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
  private val Syllables: Array[String] =
    for (c <- "bcdfghjklmnprstvwz".toArray; v <- "aeiou".toArray) yield s"$c$v"

  /** Injective: base-|Syllables| digits of n, at least two syllables. */
  private def word(n: Int): String = {
    val sb = new StringBuilder
    var x = n
    while (x > 0) { sb.insert(0, Syllables(x % Syllables.length)); x /= Syllables.length }
    sb.toString
  }
}

/** Deterministic 64-dim feature-hashing embedder: each token adds +-1 to
  * one coordinate picked by a fixed hash, then the vector is L2-normalized.
  * Nothing is downloaded and the same text always gives the same vector.
  */
final class HashEmbedder(dim: Int = 64) extends Embedder {
  def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map(vector)

  def vector(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    if (text != null) text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").foreach { t =>
      if (t.nonEmpty) {
        val h = scala.util.hashing.MurmurHash3.stringHash(t)
        v(java.lang.Math.floorMod(h, dim)) += (if ((h & (1 << 30)) == 0) 1f else -1f)
      }
    }
    val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)).toFloat
    if (norm > 0) { var i = 0; while (i < dim) { v(i) /= norm; i += 1 } }
    v
  }
}
