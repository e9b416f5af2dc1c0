package graftbench

/** One leaf of a generated full-text query. */
sealed trait Leaf {
  def render: String
  def matches(token: String): Boolean
}
final case class TermLeaf(t: String) extends Leaf {
  def render: String = t
  def matches(token: String): Boolean = token == t
}
final case class PrefixLeaf(p: String) extends Leaf {
  def render: String = p + "*"
  def matches(token: String): Boolean = token.startsWith(p)
}

/** A flat query as the workloads generate it: leaves joined by implicit
  * AND ("a b") or by OR ("a or b"). The benchmark keeps the structure, so
  * the oracle never parses the string the engine receives.
  */
final case class FtsQuery(leaves: Seq[Leaf], isAnd: Boolean) {
  def render: String = leaves.map(_.render).mkString(if (isAnd) " " else " or ")
}

/** Metadata filter of the `where` reads: lang == `lang` and n < `nBelow`. */
final case class Where(lang: String, nBelow: Int) {
  def engine: Map[String, Any] = Map("lang" -> lang, "n" -> Map("$lt" -> nBelow))
  def keep(meta: Map[String, String]): Boolean =
    meta.get("lang").contains(lang) && meta.get("n").exists(_.toDouble < nBelow)
}

/** A document as the oracle sees it: its tokens and (small) metadata. */
final case class ODoc(id: String, tokens: Array[String], meta: Map[String, String])

object ODoc {
  def tokenize(content: String): Array[String] =
    content.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  def of(d: GenDoc, keepMeta: Set[String] = Set("lang", "source", "n", "opt")): ODoc =
    ODoc(d.id, tokenize(d.content), d.metadata.filter(kv => keepMeta(kv._1)))
}

/** Every match of a query: `total` and (id, score) sorted by score desc,
  * id asc — the engine's documented order.
  */
final case class Expected(total: Long, ranked: IndexedSeq[(String, Double)]) {
  lazy val scoreOf: Map[String, Double] = ranked.toMap
}

/** Brute-force reference answers, computed by scanning every document —
  * independent of the engine's postings, statistics and indexes.
  *
  * BM25 as the engine documents it: idf = ln((N - df + 0.5) / (df + 0.5) + 1),
  * score = sum over matched leaves of idf * tf * (k1 + 1) /
  * (tf + k1 * (1 - b + b * dl / avgdl)), k1 = 1.2, b = 0.75; a prefix leaf
  * counts as one term whose tf sums its matching tokens and whose df is the
  * number of documents it matches. N and avgdl cover the whole collection
  * and df ignores the metadata filter.
  */
object Oracle {
  val K1 = 1.2
  val B = 0.75

  def fts(docs: Iterable[ODoc], q: FtsQuery, where: Option[Where] = None): Expected = {
    val leaves = q.leaves.distinct
    val n = docs.size
    var totalDl = 0L
    val df = new Array[Int](leaves.size)
    val hits = scala.collection.mutable.ArrayBuffer[(ODoc, Array[Int])]()
    docs.foreach { d =>
      totalDl += d.tokens.length
      val tf = new Array[Int](leaves.size)
      d.tokens.foreach { t =>
        var i = 0
        while (i < leaves.size) { if (leaves(i).matches(t)) tf(i) += 1; i += 1 }
      }
      var matched = 0
      var i = 0
      while (i < tf.length) { if (tf(i) > 0) { df(i) += 1; matched += 1 }; i += 1 }
      if (if (q.isAnd) matched == leaves.size else matched > 0) hits += ((d, tf))
    }
    val avgDl = if (n == 0) 0.0 else totalDl.toDouble / n
    val idf = df.map(f => math.log((n - f + 0.5) / (f + 0.5) + 1.0))
    val ranked = hits.iterator
      .filter { case (d, _) => where.forall(_.keep(d.meta)) }
      .map { case (d, tf) =>
        var s = 0.0
        var i = 0
        while (i < tf.length) {
          if (tf(i) > 0)
            s += idf(i) * (tf(i) * (K1 + 1.0)) / (tf(i) + K1 * (1.0 - B + B * d.tokens.length / avgDl))
          i += 1
        }
        (d.id, s)
      }.toIndexedSeq
    Expected(ranked.size, sortRanked(ranked))
  }

  /** Exact cosine against every embedded document. */
  def cosine(docs: IndexedSeq[(String, Array[Float])], q: Array[Float]): Expected = {
    val ranked = docs.map { case (id, v) => (id, cos(v, q)) }
    Expected(ranked.size, sortRanked(ranked))
  }

  def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def sortRanked(xs: IndexedSeq[(String, Double)]): IndexedSeq[(String, Double)] =
    xs.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))

  /** Checks one page of engine hits (id, rank) against the expected answer.
    * Scores are compared with a relative tolerance, because the engine sums
    * the same terms in another order: each position must hold a matching
    * document whose score equals the expected score at that position, the
    * engine's rank must equal that score, and documents the engine ranks
    * exactly equal must come in ascending id order. None = correct.
    */
  def checkPage(hits: Seq[(String, Double)], total: Option[Long], exp: Expected,
                offset: Int, k: Int): Option[String] = {
    def close(a: Double, b: Double, rel: Double) = math.abs(a - b) <= rel * math.max(1.0, math.abs(b))
    val page = exp.ranked.slice(offset, offset + k)
    if (total.exists(_ != exp.total)) return Some(s"total ${total.get} != expected ${exp.total}")
    if (hits.size != page.size) return Some(s"${hits.size} hits != expected ${page.size}")
    if (hits.map(_._1).distinct.size != hits.size) return Some("duplicate ids in page")
    hits.indices.foreach { i =>
      val (id, rank) = hits(i)
      val s = exp.scoreOf.getOrElse(id, return Some(s"hit $id at $i does not match the query"))
      if (!close(s, page(i)._2, 1e-9))
        return Some(s"hit $id at $i scores $s, expected ${page(i)._2} (${page(i)._1})")
      if (!close(rank, s, 1e-6)) return Some(s"hit $id rank $rank != expected score $s")
      if (i > 0 && hits(i - 1)._2 == rank && hits(i - 1)._1 > id)
        return Some(s"tied hits ${hits(i - 1)._1}, $id not in id order")
    }
    None
  }

  /** Recall@k of an approximate top-k against the exact top-k ids. */
  def recall(approx: Seq[String], exact: Expected, k: Int): Double = {
    val truth = exact.ranked.take(k).map(_._1).toSet
    if (truth.isEmpty) 1.0 else approx.count(truth).toDouble / truth.size
  }
}
