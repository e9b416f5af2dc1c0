package graft.exec

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Impact-ordered postings: build + certified-exact serving for the
  * ranked-FTS early-termination sidecar (stores
  * [[graft.index.Stores.impactSchema]] / `impactMetaSchema`).
  *
  * The reference gets top-k-by-rank pruning for free from FTS5's internals
  * (src/sifts/core.py:408-414: `ORDER BY rank LIMIT ?` inside SQLite);
  * [[Bm25.scoredIds]] instead joins and scores the FULL postings list of
  * every query leaf — at 100 TB a high-df term is billions of rows paying
  * BM25 arithmetic for a top-10 answer. This sidecar keeps, per term, only
  * the `cap` postings with the highest tf (tf is the monotone part of the
  * BM25 impact at fixed df) plus each term's EXACT df, so a top-k query
  * touches O(cap × terms) sidecar rows and certifies its own exactness:
  *
  *   - any resolved posting ABSENT from the sidecar has tf <= bound_tf(term)
  *     (build truncates by tf; every later upsert appends ALL its postings);
  *   - a doc outside the candidate set therefore scores at most
  *     B = Σ_t idf(t) · ub(bound_tf(t)), where ub is the dl→0 limit of the
  *     BM25 tf-part (its maximum over every possible doc length);
  *   - if the k-th best candidate's exact score STRICTLY beats B (or every
  *     query term is fully stored, B = 0), the candidate top-k IS the true
  *     top-k — otherwise the caller falls back to the full scoring path.
  *
  * Exactness of the served scores: candidates are re-scored with the same
  * arithmetic as [[Bm25]] (same literal structure, same IEEE op order),
  * idf from the maintained EXACT df, tf/dl from the sidecar rows (single
  * term — no postings touch at all) or from a candidates-only semi-join
  * against the term-pruned postings (multi term — the full lists are read
  * but never shuffled, scored, or sorted).
  */
object ImpactTopK {

  /** Meta-store key of the watermark row (df = the postings segment ordinal
    * the meta reflects). Tokens are \p{L}\p{N} runs, so no term collides.
    */
  val WatermarkKey = "\u0000wm"

  /** Top-(cap+1) postings per term with the per-term impact rank (`__rn`,
    * 1 = highest tf). Persist this when deriving both store frames — the
    * window work runs once.
    *
    * Skew-proof in two stages: a LOCAL top-(cap+1) per (term, input
    * partition) first — `rn <= cap+1` over a `(term, pid)` window lowers
    * to WindowGroupLimit map-side heaps, so each map task emits at most
    * cap+1 rows per term and a billion-posting hot term never lands on one
    * sort task (any global top-(cap+1) row is also locally top-(cap+1) —
    * the prune is lossless for both the cap cut and the rank-cap bound
    * row). The global per-term window then sorts ≤ (cap+1)·partitions
    * rows per term. EXACT df cannot come from this pruned frame — see
    * [[metaFromRanked]], which aggregates it from the raw postings.
    */
  def ranked(postings: DataFrame, cap: Int): DataFrame = {
    val base = postings.select(col("term"), col("id"), col("tf"), col("dl"))
    val localW = Window.partitionBy(col("term"), col("__pid"))
      .orderBy(col("tf").desc, col("id").asc)
    val pruned = base.withColumn("__pid", spark_partition_id())
      .withColumn("__lrn", row_number().over(localW))
      .filter(col("__lrn") <= cap + 1)
      .drop("__pid", "__lrn")
    val w = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("id").asc)
    pruned.withColumn("__rn", row_number().over(w))
  }

  /** The impact store rows: top-`cap` postings per term, cap riding along. */
  def rowsFromRanked(ranked: DataFrame, cap: Int): DataFrame =
    ranked.filter(col("__rn") <= cap)
      .select(col("term"), col("id"), col("tf"), col("dl"),
        lit(cap).as("cap"))

  /** The meta store rows: (id = term, EXACT df, bound_tf). bound_tf is the
    * tf at rank `cap` when the term overflows the cap (every truncated
    * posting has tf <= it), 0 when the term is fully stored. df is a plain
    * skew-free aggregate over the RAW postings (the ranked frame is
    * top-(cap+1)-pruned and must never be counted); the bound row joins in
    * from the ranked frame (rank cap exists whenever df >= cap).
    */
  def metaFromRanked(postings: DataFrame, ranked: DataFrame, cap: Int): DataFrame = {
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val btf = ranked.filter(col("__rn") === cap)
      .select(col("term"), col("tf").as("__btf"))
    dfreq.join(btf, Seq("term"), "left")
      .select(col("term").as("id"), col("df"),
        when(col("df") > cap, coalesce(col("__btf"), lit(0L)))
          .otherwise(lit(0L)).as("bound_tf"))
  }

  /** The BM25 tf-part as a column — SAME literal structure and op order as
    * [[Bm25]]'s scoreExpr, so served scores are bit-identical to the full
    * path's per-(term, doc) contributions.
    */
  private def tfPart(avgDl: Double): Column =
    (col("tf").cast("double") * lit(Bm25.K1 + 1.0)) /
      (col("tf").cast("double") +
        lit(Bm25.K1) * (lit(1.0 - Bm25.B) + lit(Bm25.B) * col("dl").cast("double") / lit(avgDl)))

  /** How many candidate ids the multi-term path will force-broadcast; a
    * candidate set grown past this (pure-insert deltas append ALL their
    * postings to the rows store between compactions, so the "prefix" is
    * only O(cap) when freshly built/compacted) returns None — the caller's
    * full path is always available and always exact, while a forced
    * multi-GB broadcast would CRASH the query. ~1M ids ≈ tens of MB.
    */
  val MaxBroadcastCands: Long = 1L << 20

  /** Certified-exact top-`n` (id, rank) for a flat all-exact-terms query:
    * Some(rows, already (rank desc, id asc) ordered, <= n of them) when the
    * sidecar can PROVE the answer equals full scoring, None when it cannot
    * (caller falls back). `postings` is only forced on the multi-term path
    * — and, with `dfStale`, on the df recount.
    *
    * `dfOverride` is the GONE-AWARE serving mode: the rows store has been
    * kept complete through update/delete deltas (every batch mirrored all
    * its postings in, every batch/delete gone-claimed its ids), but the
    * meta's df column counts docs that no longer exist. The CALLER then
    * supplies exact df for the query terms — re-counted from the
    * term-pruned resolved postings and cached under the postings
    * fingerprint ([[graft.api.Collection]]'s staleDfCache), so repeated
    * hot-term queries pay the recount once per store state. A term absent
    * from the override has no resolved postings (df 0). Everything else
    * in the proof survives staleness untouched:
    *
    *   - bound_tf stays a valid truncation bound: deltas only ADD complete
    *     posting sets to the rows store and gone-claims only REMOVE, so a
    *     resolved posting absent from the resolved rows store belongs to a
    *     doc untouched since the last build/compact, whose tf was <= the
    *     build-time bound (and is unchanged since);
    *   - a term with NO meta row was born after the build — its postings
    *     are fully mirrored, so its bound_tf is 0 (fully stored);
    *   - candidates come from the RESOLVED rows store, so tombstoned docs
    *     never appear and updated docs contribute their CURRENT (tf, dl);
    *   - nDocs/avgDl are the caller's live collstats (exact through
    *     deletes — the doclen store is gone-claimed like everything else).
    *
    * Driver-side collects are all bounded: <= terms meta rows, <= n result
    * rows (the API's own result size — the [[graft.api.Collection]]
    * collectHits contract), plus one scalar candidate-count on the
    * multi-term path (the [[MaxBroadcastCands]] gate).
    *
    * Score parity with the full path is pinned END-TO-END by ImpactSpec's
    * randomized-corpora fuzz (certified must equal full scoring at 9 dp on
    * every corpus, and fallback must too) — [[tfPart]] and [[idf]] mirror
    * [[Bm25.scoreExpr]]'s literal structure, and that test is what keeps
    * the two from drifting.
    */
  def certifiedTopK(rowsStore: DataFrame, metaStore: DataFrame,
                    postings: => DataFrame, nDocs: Long, avgDl: Double,
                    terms: Seq[String], isAnd: Boolean, n: Int,
                    dfOverride: Option[Map[String, Long]] = None)
      : Option[Seq[(String, Double)]] = {
    require(n >= 1, "n >= 1")
    require(terms.nonEmpty, "terms must be non-empty")
    // duplicates would double-count the AND arity (__m === live.size below
    // counts DISTINCT-term contribution rows) and certify a WRONG empty
    // answer — the parser's flat extraction distincts; enforce it here so
    // a future caller fails fast instead of getting certified garbage
    require(terms.distinct.size == terms.size, "terms must be distinct")
    if (nDocs == 0L) return Some(Nil)
    val meta = metaStore.filter(col("id").isin(terms: _*))
      .select(col("id"), col("df"), col("bound_tf")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // exact per-term df: the meta's column while it is exact; the caller's
    // fingerprint-cached recount in gone-aware mode. While the meta is
    // exact, EVERY term with any resolved posting has a meta row (build
    // covers all terms; insert deltas cover batch terms) — a missing term
    // matches nothing: AND can't match, OR drops the leaf. In override
    // mode the supplied inventory plays that role directly.
    val dfOf: Map[String, Long] =
      dfOverride.getOrElse(meta.map { case (t, (d, _)) => t -> d })
    // bound_tf of a term without a meta row: born after the build, fully
    // mirrored into the rows store, so nothing of it was ever truncated
    def boundTf(t: String): Long = meta.get(t).map(_._2).getOrElse(0L)
    val live = terms.filter(t => dfOf.getOrElse(t, 0L) > 0L)
    if (isAnd && live.size != terms.size) return Some(Nil)
    if (live.isEmpty) return Some(Nil)
    // same double-domain ops as Bm25's SQL log/div (< 2^53 exact longs)
    def idf(df: Long): Double =
      math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    val idfs = live.map(t => t -> idf(dfOf(t))).toMap
    // ub = the dl->0 limit of the tf-part: tf·(k1+1) / (tf + k1·(1−b))
    def ub(b: Long): Double =
      if (b <= 0L) 0.0
      else (b * (Bm25.K1 + 1.0)) / (b + Bm25.K1 * (1.0 - Bm25.B))
    val bound = live.map(t => idfs(t) * ub(boundTf(t))).sum

    // per-(term, doc) contribution rows for the CANDIDATES; `cleanup`
    // releases the multi-term path's persisted candidate distinct once the
    // top rows (collected below, in-function) no longer reference it
    val (contrib, cleanup): (DataFrame, () => Unit) =
      if (live.size == 1)
        // single term: the sidecar rows ARE the candidates with exact
        // (tf, dl) — the postings store is never touched
        (rowsStore.filter(col("term") === live.head)
          .select(col("id"), col("tf"), col("dl"),
            lit(idfs(live.head)).as("__idf")), () => ())
      else {
        // multi term: a candidate found in one term's prefix may match the
        // other terms OUTSIDE their prefixes — exact scores need its full
        // (term, tf, dl) rows, via a candidates-only semi-join against the
        // term-pruned postings (read, but never shuffled/scored in full)
        // O(cap × terms) rows when freshly built/compacted, but delta
        // appends grow it between compactions — gate the forced broadcast
        // (one skinny count over the term-pruned, range-laid-out sidecar)
        // and fall back rather than attempt an unbounded broadcast.
        // PERSISTED across the gate count and the broadcast, so the
        // rows-store distinct runs once, not twice.
        val cands = rowsStore.filter(col("term").isin(live: _*))
          .select(col("id")).distinct().persist()
        // the gate count is a Spark job — if IT fails, the persist must
        // not outlive this call (the finally below only guards the
        // post-gate pipeline)
        val tooMany =
          try cands.count() > MaxBroadcastCands
          catch { case e: Throwable => cands.unpersist(); throw e }
        if (tooMany) { cands.unpersist(); return None }
        val idfExpr = live.tail.foldLeft(
          when(col("term") === live.head, lit(idfs(live.head)))) { (acc, t) =>
          acc.when(col("term") === t, lit(idfs(t)))
        }
        (postings.filter(col("term").isin(live: _*))
          .join(broadcast(cands), Seq("id"), "left_semi")
          .select(col("id"), col("tf"), col("dl"), idfExpr.as("__idf")),
          () => { cands.unpersist(); () })
      }
    val top = try {
      val scored = contrib.select(col("id"), (col("__idf") * tfPart(avgDl)).as("__s"))
      val perDoc =
        // one rows-store row per (term, id): a single term's rows already
        // are the per-doc scores — no aggregate, no shuffle
        if (live.size == 1) scored.select(col("id"), col("__s").as("rank"))
        else {
          val summed = scored.groupBy(col("id"))
            .agg(sum(col("__s")).as("rank"), count(lit(1)).as("__m"))
          if (isAnd) summed.filter(col("__m") === lit(live.size)) else summed
        }
      perDoc.orderBy(col("rank").desc, col("id").asc)
        .select(col("id"), col("rank")).limit(n).collect()
    } finally cleanup()
    // certificate, two ways to prove exactness:
    //   COMPLETE — the candidate set provably contains EVERY match, so the
    //   ordered candidates are the answer at any k (covers the common
    //   "k exceeds the hit count" case, which a score bound alone can never
    //   certify): bound == 0 (all terms fully stored) or, for AND, ANY live
    //   term fully stored — every AND match appears in that term's complete
    //   prefix, so it is a candidate and scored exactly;
    //   BOUNDED — the n-th candidate's exact score STRICTLY beats the best
    //   possible non-candidate (a tie could reorder against the full path's
    //   id tiebreak).
    val complete = bound == 0.0 ||
      (isAnd && live.size > 1 && live.exists(t => boundTf(t) == 0L))
    val certified = complete ||
      (top.length >= n && top.last.getDouble(1) > bound)
    if (certified) Some(top.toSeq.map(r => (r.getString(0), r.getDouble(1))))
    else None
  }
}
