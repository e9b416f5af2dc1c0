package graft.exec

import graft.model.BoolQuery
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** BM25 relevance over postings + stats — the Spark-native analogue of
  * FTS5's built-in `rank` (reference src/sifts/core.py:410) / PG `ts_rank`
  * (core.py:554).
  *
  * Formula (Lucene-style non-negative idf):
  *   idf(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )
  *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * with k1 = 1.2, b = 0.75. Every query LEAF scores — exact terms as
  * themselves, and (fts5-style prefix expansion) a prefix/wildcard leaf as
  * ONE query term whose per-doc tf is the sum over its matching dictionary
  * terms and whose df is its distinct matching-doc count. The reference
  * never asserts rank values (SURVEY §2 Q4), so the formula is ours to pin
  * down and oracle-test (`q4_bm25_rank` exact, `q4b_bm25_prefix_rank`
  * expanded).
  *
  * Two arms, one formula. The DRIVER arm ([[driverScores]]) collects the
  * query's term-pruned postings slice in one bounded job and scores it in
  * the driver; the DISTRIBUTED arm ([[scoredIds]], [[scores]]) is column
  * arithmetic inside whole-stage codegen (no UDAF), for slices over the
  * driver bound. Both evaluate [[idf]] / [[tfPart]] — the driver forms of
  * [[idfCol]] / [[tfPartCol]] — in the same IEEE op order with the same
  * `StrictMath.log` Spark's `log` calls, so a per-(leaf, doc) contribution
  * is bit-identical on either arm; per-doc sums differ only in summation
  * order (the driver adds in leaf order, Spark's aggregate in arrival
  * order), which is exact for one or two leaves.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** idf of a leaf matching `df` of `nDocs` docs: [[idfCol]]'s driver form. */
  def idf(nDocs: Long, df: Long): Double =
    StrictMath.log((nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)

  /** The tf-part of one (leaf, doc) posting: [[tfPartCol]]'s driver form,
    * `(b·dl)/avgdl` left-associative like the Column expression. */
  def tfPart(tf: Long, dl: Long, avgDl: Double): Double =
    (tf.toDouble * (K1 + 1.0)) / (tf.toDouble + K1 * ((1.0 - B) + B * dl.toDouble / avgDl))

  /** idf over long columns `nDocs` and `df`; Spark's `log` is `StrictMath.log`. */
  private[graft] def idfCol(nDocs: Column, df: Column): Column =
    log((nDocs.cast("double") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** The tf-part over the `tf` and `dl` columns at `avgDl`. */
  private[graft] def tfPartCol(avgDl: Column): Column =
    (col("tf").cast("double") * lit(K1 + 1.0)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / avgDl))

  /** The DRIVER arm: (id, rank) of every doc `q` matches, unordered, from
    * ONE bounded collect of the query's postings slice ([[sliceFrame]]),
    * fetched with `limit(maxRows + 1)` so the driver never holds more.
    * None when the slice exceeds `maxRows` (logged at INFO), or at once
    * for a negative `maxRows`: the caller then takes the distributed arm.
    * df comes from the slice itself (a leaf's distinct docs),
    * `(nDocs, avgDl)` from the caller's collstats.
    * Same semantics as the distributed arm for every parser shape: a
    * flat AND needs every leaf, a flat OR one, a mixed tree is evaluated
    * per doc as [[graft.exec.FtsEval]] does, and a matched doc's rank sums
    * the contribution of every leaf it matches, in leaf order. Ids without
    * a docs row (crash residue) are returned; the caller's docs join drops
    * them, as the distributed arm's does.
    */
  def driverScores(postings: DataFrame, q: BoolQuery, nDocs: Long, avgDl: Double,
                   maxRows: Int): Option[Seq[(String, Double)]] = {
    // extended nodes carry obligations postings cannot discharge
    // (Collection lowers them first), as in FtsEval
    require(!BoolQuery.hasExtended(q), s"extended query $q must be lowered first")
    if (maxRows < 0) return None
    val leaves = BoolQuery.leaves(q).distinct
    val slice = sliceFrame(postings, leaves).limit(maxRows + 1).collect()
    if (slice.length > maxRows) {
      logger.info(s"BM25 scores stay distributed: the postings slice of '$q' holds " +
        s"more than $maxRows rows (the driver bound)")
      return None
    }
    Some(rankDocs(q, leaves, perDocTf(slice, leaves), nDocs, avgDl))
  }

  /** The postings slice of the distinct `leaves`: the rows of `postings`
    * whose term some leaf matches, as `(term, id, tf, dl)`, under the
    * pushed `term IN (…)` / literal-prefix pre-filter. */
  private[graft] def sliceFrame(postings: DataFrame, leaves: Seq[BoolQuery]): DataFrame = {
    val preds = leafPredicates(leaves)
    postings.filter(preds.pushable && preds.any)
      .select(col("term"), col("id"), col("tf"), col("dl"))
  }

  /** Per doc of a collected slice: its summed tf per leaf (-1 = the leaf
    * does not match it), then its doc length in the last slot. Leaf
    * matchers have the Column predicates' semantics: a wildcard uses
    * find(), as Spark's RLike does. */
  private[graft] def perDocTf(slice: Array[Row],
                              leaves: Seq[BoolQuery]): mutable.HashMap[String, Array[Long]] = {
    val matchers: IndexedSeq[String => Boolean] = leaves.toIndexedSeq.map {
      case BoolQuery.Term(t) => (term: String) => term == t
      case BoolQuery.Prefix(p) => (term: String) => term.startsWith(p)
      case w: BoolQuery.Wildcard =>
        val rx = java.util.regex.Pattern.compile(w.regex)
        (term: String) => rx.matcher(term).find()
      case ext => throw new IllegalStateException(s"unexpanded leaf $ext")
    }
    val n = leaves.size
    val docs = mutable.HashMap.empty[String, Array[Long]]
    slice.foreach { r =>
      val term = r.getString(0)
      var i = 0
      while (i < n) {
        if (matchers(i)(term)) {
          val a = docs.getOrElseUpdate(r.getString(1), {
            val fresh = Array.fill(n + 1)(-1L)
            fresh(n) = r.getLong(3)
            fresh
          })
          a(i) = (if (a(i) < 0L) 0L else a(i)) + r.getLong(2)
        }
        i += 1
      }
    }
    docs
  }

  /** (id, rank) of the docs in `perDoc` ([[perDocTf]]) that `q` matches. */
  private[graft] def rankDocs(q: BoolQuery, leaves: Seq[BoolQuery],
                              perDoc: mutable.HashMap[String, Array[Long]],
                              nDocs: Long, avgDl: Double): Seq[(String, Double)] = {
    val n = leaves.size
    val index = leaves.zipWithIndex.toMap
    val idfs = Array.tabulate(n)(i => idf(nDocs, perDoc.valuesIterator.count(_(i) >= 0L).toLong))
    def matches(t: BoolQuery, a: Array[Long]): Boolean = t match {
      case BoolQuery.And(l, r) => matches(l, a) && matches(r, a)
      case BoolQuery.Or(l, r) => matches(l, a) || matches(r, a)
      case leaf => a(index(leaf)) >= 0L
    }
    perDoc.iterator.collect { case (id, a) if matches(q, a) =>
      var rank = 0.0
      var i = 0
      while (i < n) {
        if (a(i) >= 0L) rank += idfs(i) * tfPart(a(i), a(n), avgDl)
        i += 1
      }
      id -> rank
    }.toSeq
  }

  /** FUSED match + rank for a FLAT query (all-AND or all-OR over leaves —
    * every parser output except the mixed `x AND y OR z` shape): ONE
    * postings scan yields `(id, rank)` for exactly the matching docs.
    * The same (leaf, doc) aggregate that sums the score also counts the
    * matched leaves, so AND = `count == #leaves` needs no second scan or
    * id join. None for non-flat queries — the caller falls back to
    * [[graft.exec.FtsEval.matchingIds]] + [[scores]].
    *
    * A matched doc's rank is strictly positive (idf > 0 for any df ≤ N), so
    * no rank-0 ambiguity is introduced by dropping the left join.
    */
  def scoredIds(postings: DataFrame, collStats: DataFrame,
                q: BoolQuery): Option[DataFrame] =
    flatShape(q).map { case (isAnd, leaves) =>
      val perLeafDoc = perLeafDocFrame(postings, leaves.distinct)
      val scored = scoreExpr(perLeafDoc, collStats)
        .groupBy(col("id"))
        .agg(sum(col("__s")).as("rank"), count(lit(1)).as("__k"))
      val matched =
        if (isAnd) scored.filter(col("__k") === lit(leaves.distinct.size))
        else scored
      matched.select(col("id"), col("rank"))
    }

  /** -> DataFrame(id, rank) for docs matching ≥1 query leaf (the caller
    * intersects with its own match-id set and left-joins, coalescing
    * unmatched to 0 — only reachable for non-flat ASTs).
    */
  def scores(postings: DataFrame, collStats: DataFrame, q: BoolQuery): DataFrame = {
    val leaves = BoolQuery.leaves(q).distinct
    // every AST shape bottoms out in ≥1 Term/Prefix/Wildcard leaf
    require(leaves.nonEmpty, s"BoolQuery with no leaves: $q")
    scoreExpr(perLeafDocFrame(postings, leaves), collStats)
      .groupBy(col("id"))
      .agg(sum(col("__s")).as("rank"))
  }

  /** Some((isAnd, distinct terms)) iff the query is flat AND every leaf is
    * an exact Term — the shape [[ImpactTopK]] can serve from the impact
    * meta (prefix/wildcard leaves have no per-term df/bound rows).
    */
  private[graft] def flatExactTerms(q: BoolQuery): Option[(Boolean, Seq[String])] =
    flatShape(q).flatMap { case (isAnd, leaves) =>
      val ts = leaves.collect { case BoolQuery.Term(t) => t }
      if (ts.size == leaves.size) Some((isAnd, ts.distinct)) else None
    }

  /** Some((isAnd, leaves)) iff the boolean tree is uniform — leaves only,
    * all-AND, or all-OR. A single leaf flattens as AND of one.
    */
  private def flatShape(q: BoolQuery): Option[(Boolean, Seq[BoolQuery])] = {
    import BoolQuery._
    def ands(t: BoolQuery): Option[Seq[BoolQuery]] = t match {
      case And(l, r) => for { a <- ands(l); b <- ands(r) } yield a ++ b
      case Or(_, _)  => None
      case leaf      => Some(Seq(leaf))
    }
    def ors(t: BoolQuery): Option[Seq[BoolQuery]] = t match {
      case Or(l, r)  => for { a <- ors(l); b <- ors(r) } yield a ++ b
      case And(_, _) => None
      case leaf      => Some(Seq(leaf))
    }
    ands(q).map((true, _)).orElse(ors(q).map((false, _)))
  }

  /** A query's leaf predicates over the postings `term` column:
    * `exactPred` = `term IN (…)` of the exact leaves; `tagged` per
    * non-exact leaf its full match predicate and synthetic leaf key ("*0",
    * "*1", … — tokens are \p{L}\p{N} runs, so no dictionary term can
    * collide); `pushable` an OR of `term IN (…)` and each leaf's literal
    * prefix, which prunes the postings scan (parquet row groups, the
    * term-clustered layout) where the tag predicates neither push down
    * nor codegen.
    */
  private final case class LeafPredicates(exactPred: Option[Column],
                                          tagged: Seq[(Column, String)],
                                          pushable: Column) {
    /** Some leaf matches the row's term. */
    def any: Column = (exactPred.toSeq ++ tagged.map(_._1)).reduce(_ || _)
  }

  private def leafPredicates(leaves: Seq[BoolQuery]): LeafPredicates = {
    // a silently-ignored leaf kind would mis-score, not crash — reject
    // extended leaves explicitly (Collection expands them to Terms first)
    leaves.foreach {
      case _: BoolQuery.Term | _: BoolQuery.Prefix | _: BoolQuery.Wildcard => ()
      case ext => throw new IllegalArgumentException(
        s"extended leaf $ext must be expanded before BM25 scoring")
    }
    val exact = leaves.collect { case BoolQuery.Term(t) => t }.distinct
    val exactPred = if (exact.isEmpty) None else Some(col("term").isin(exact: _*))
    // (tag predicate, leaf key, pushable pre-filter) per non-exact leaf
    val expanded: Seq[(Column, String, Column)] = leaves.zipWithIndex.collect {
      case (BoolQuery.Prefix(p), i) =>
        val pre = col("term").startsWith(p)
        (pre, s"*$i", pre)
      case (w @ BoolQuery.Wildcard(p), i) =>
        val pre = p.takeWhile(_ != '*')
        val rx = col("term").rlike(w.regex)
        if (pre.nonEmpty) {
          val starts = col("term").startsWith(pre)
          (starts && rx, s"*$i", starts)
        } else (rx, s"*$i", lit(true))
    }
    LeafPredicates(exactPred, expanded.map(e => (e._1, e._2)),
      (exactPred.toSeq ++ expanded.map(_._3)).reduce(_ || _))
  }

  /** One row per (leaf, matching doc): `leaf, id, tf, dl` with tf summed
    * over a wildcard leaf's expansion. Two plan shapes:
    *   - all-exact leaves (the common case): ONE term-pruned scan, leaf key
    *     = the term itself, NO extra shuffle — (term, id) is already unique,
    *     so the scan IS the per-(leaf, doc) frame.
    *   - any wildcard leaf: still ONE postings scan, pre-filtered by the
    *     pushable predicate — each row is tagged with the array of leaves
    *     it matches (exact tag + one per-leaf predicate tag), exploded,
    *     then ONE (leaf, id) shuffle sums the expansion tf. Never a scan
    *     per leaf: the term dictionary is read once no matter how many
    *     wildcards the query carries.
    */
  private def perLeafDocFrame(postings: DataFrame, leaves: Seq[BoolQuery]): DataFrame = {
    val preds = leafPredicates(leaves)
    val base = postings.select(col("term"), col("id"), col("tf"), col("dl"))
    if (preds.tagged.isEmpty)
      base.filter(preds.pushable)
        .select(col("term").as("leaf"), col("id"), col("tf"), col("dl"))
    else {
      val tags = preds.exactPred.toSeq.map(when(_, col("term"))) ++
        preds.tagged.map { case (pred, key) => when(pred, lit(key)) }
      base.filter(preds.pushable)
        .select(filter(array(tags: _*), t => t.isNotNull).as("leaves"),
          col("id"), col("tf"), col("dl"))
        .filter(size(col("leaves")) > 0)
        .select(explode(col("leaves")).as("leaf"), col("id"), col("tf"), col("dl"))
        .groupBy(col("leaf"), col("id"))
        .agg(sum(col("tf")).as("tf"), first(col("dl")).as("dl"))
    }
  }

  /** (id, __s): the per-(leaf, doc) BM25 contribution, df/stats broadcast. */
  private def scoreExpr(perLeafDoc: DataFrame, collStats: DataFrame): DataFrame = {
    // df per leaf = distinct docs it matches; tiny (≤ #query leaves rows)
    val dfPerLeaf = perLeafDoc.groupBy(col("leaf")).agg(count(lit(1)).as("df"))
    val stats = collStats.select(col("n_docs"), col("avg_dl"))
    perLeafDoc
      .join(broadcast(dfPerLeaf), "leaf")
      .crossJoin(broadcast(stats))
      .select(col("id"),
        (idfCol(col("n_docs"), col("df")) * tfPartCol(col("avg_dl"))).as("__s"))
  }
}
