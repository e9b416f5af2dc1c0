package graft.exec

import graft.model.BoolQuery
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance as pure column arithmetic over postings + stats — the
  * Spark-native analogue of FTS5's built-in `rank` (reference
  * src/sifts/core.py:410) / PG `ts_rank` (core.py:554). No UDAF: everything
  * stays inside whole-stage codegen.
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
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

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

  /** One row per (leaf, matching doc): `leaf, id, tf, dl` with tf summed
    * over a wildcard leaf's expansion. Two plan shapes:
    *   - all-exact leaves (the common case): ONE term-pruned scan, leaf key
    *     = the term itself, NO extra shuffle — (term, id) is already unique,
    *     so the scan IS the per-(leaf, doc) frame.
    *   - any wildcard leaf: still ONE postings scan — each row is tagged
    *     with the array of leaves it matches (exact tag + one per-leaf
    *     predicate tag), exploded, then ONE (leaf, id) shuffle sums the
    *     expansion tf. Never a scan per leaf: the term dictionary is read
    *     once no matter how many wildcards the query carries.
    */
  private def perLeafDocFrame(postings: DataFrame, leaves: Seq[BoolQuery]): DataFrame = {
    // a silently-ignored leaf kind would mis-score, not crash — reject
    // extended leaves explicitly (Collection expands them to Terms first)
    leaves.foreach {
      case _: BoolQuery.Term | _: BoolQuery.Prefix | _: BoolQuery.Wildcard => ()
      case ext => throw new IllegalArgumentException(
        s"extended leaf $ext must be expanded before BM25 scoring")
    }
    val exact = leaves.collect { case BoolQuery.Term(t) => t }.distinct
    // each non-exact leaf gets a synthetic leaf key ("*0", "*1", …) — tokens
    // are \p{L}\p{N} runs, so no dictionary term can collide with it
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
    val base = postings.select(col("term"), col("id"), col("tf"), col("dl"))
    if (expanded.isEmpty)
      base.filter(col("term").isin(exact: _*))
        .select(col("term").as("leaf"), col("id"), col("tf"), col("dl"))
    else {
      val exactPred = if (exact.isEmpty) Nil else Seq(col("term").isin(exact: _*))
      val tags = exactPred.map(when(_, col("term"))) ++
        expanded.map { case (pred, key, _) => when(pred, lit(key)) }
      // the tag array filter below neither pushes down nor codegens: an OR
      // of term IN (…) and each leaf's literal prefix prunes the postings
      // scan first (parquet row groups, the term-clustered layout)
      val pushable = (exactPred ++ expanded.map(_._3)).reduce(_ || _)
      base.filter(pushable)
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
    val idf: Column = log(
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfPart: Column =
      (col("tf").cast("double") * lit(K1 + 1.0)) /
        (col("tf").cast("double") +
          lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / col("avg_dl")))
    perLeafDoc
      .join(broadcast(dfPerLeaf), "leaf")
      .crossJoin(broadcast(stats))
      .select(col("id"), (idf * tfPart).as("__s"))
  }
}
