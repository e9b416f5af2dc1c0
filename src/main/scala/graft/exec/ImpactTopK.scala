package graft.exec

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Certified-exact impact top-k over the postings store: build of the
  * per-term meta ([[graft.index.Stores.impactMetaSchema]]) and serving.
  *
  * The reference gets top-k-by-rank pruning for free from FTS5's internals
  * (src/sifts/core.py:408-414: `ORDER BY rank LIMIT ?` inside SQLite);
  * [[Bm25.scoredIds]] instead joins and scores the FULL postings list of
  * every query leaf — at 100 TB a high-df term is billions of rows paying
  * BM25 arithmetic for a top-10 answer. The meta keeps, per term, its EXACT
  * df and a tf bound `bound_tf` (the tf at rank `cap` by tf, 0 when the
  * term has at most `cap` postings; tf is the monotone part of the BM25
  * impact at fixed df). A top-k query reads only the postings with
  * `tf > bound_tf(term)` — postings are sorted by (term, tf), so that read
  * skips the hot term's low-tf row groups — and certifies its own
  * exactness:
  *
  *   - every non-candidate posting has tf <= bound_tf(term), by the
  *     candidate filter itself — for ANY postings state, so nothing but df
  *     needs maintaining as documents come and go;
  *   - a doc outside the candidate set therefore scores at most
  *     B = Σ_t idf(t) · ub(bound_tf(t)), where ub is the dl→0 limit of the
  *     BM25 tf-part (its maximum over every possible doc length);
  *   - if the k-th best candidate's exact score STRICTLY beats B (or every
  *     query term has bound 0, B = 0), the candidate top-k IS the true
  *     top-k — otherwise the caller falls back to the full scoring path.
  *
  * This is the bound-then-verify shape of REPOSE (ICDE 2021): a stored
  * bound, no stored candidate prefix. Exactness of the served scores:
  * candidates are re-scored with [[Bm25]]'s own idf and tf-part (same
  * IEEE op order, same log), idf from exact df, tf/dl from
  * the candidate postings (single term) or from a candidates-only
  * semi-join against the term-pruned postings (multi term — the full
  * lists are read but never shuffled, scored, or sorted).
  */
object ImpactTopK {

  /** Meta-store key of the watermark row (df = the postings fingerprint
    * the meta reflects, bound_tf = the df-staleness flag). Tokens are
    * \p{L}\p{N} runs, so no term collides.
    */
  val WatermarkKey = "\u0000wm"

  /** Meta-store key of the cap row (df = the cap). */
  private[graft] val CapKey = "\u0000cap"

  /** Top-(cap+1) postings per term with the per-term impact rank (`__rn`,
    * 1 = highest tf) — the input of [[metaFromRanked]]'s bound row.
    *
    * Skew-proof in two stages: a LOCAL top-(cap+1) per (term, input
    * partition) first — `rn <= cap+1` over a `(term, pid)` window lowers
    * to WindowGroupLimit map-side heaps, so each map task emits at most
    * cap+1 rows per term and a billion-posting hot term never lands on one
    * sort task (any global top-(cap+1) row is also locally top-(cap+1) —
    * the prune is lossless for the rank-cap bound row). The global
    * per-term window then sorts ≤ (cap+1)·partitions rows per term. EXACT
    * df cannot come from this pruned frame — see [[metaFromRanked]], which
    * aggregates it from the raw postings.
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

  /** The meta store's term rows: (id = term, EXACT df, bound_tf).
    * bound_tf is the tf at rank `cap` when the term has more than `cap`
    * postings, 0 otherwise. df is a plain skew-free aggregate over the RAW
    * postings (the ranked frame is top-(cap+1)-pruned and must never be
    * counted); the bound row joins in from the ranked frame (rank cap
    * exists whenever df >= cap).
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

  /** How many candidate ids the multi-term path will force-broadcast; a
    * candidate set grown past this (documents inserted since the last
    * build/compact with tf above their terms' bounds all join it, so it
    * is only about `cap` per term when freshly built/compacted) returns
    * None — the caller's full path is always available and always exact,
    * while a forced multi-GB broadcast would CRASH the query. ~1M ids ≈
    * tens of MB.
    */
  val MaxBroadcastCands: Long = 1L << 20

  /** Certified-exact top-`n` (id, rank) for a flat all-exact-terms query:
    * Some(rows, already (rank desc, id asc) ordered, <= n of them) when the
    * meta's bounds can PROVE the answer equals full scoring over the
    * resolved `postings`, None when they cannot (caller falls back).
    *
    * `dfOverride` is the STALE-DF serving mode: updates/deletes have
    * landed since the meta was derived, so its df column counts docs that
    * no longer exist (or misses vanished ones). The CALLER then supplies
    * exact df for the query terms — re-counted from the term-pruned
    * resolved postings and cached under the postings fingerprint
    * ([[graft.api.Collection]]'s staleDfCache), so repeated hot-term
    * queries pay the recount once per store state. A term absent from the
    * override has no resolved postings (df 0). Everything else in the
    * proof survives staleness untouched: the candidates are read from the
    * RESOLVED postings, so tombstoned docs never appear and updated docs
    * contribute their CURRENT (tf, dl); every bound is a valid threshold
    * whatever its value (a term with no meta row — born after the build —
    * gets bound 0, all its postings are candidates); nDocs/avgDl are the
    * caller's live collstats.
    *
    * Driver-side collects are all bounded: <= terms meta rows, <= n result
    * rows (the API's own result size — the [[graft.api.Collection]]
    * collectHits contract), plus one scalar candidate-count on the
    * multi-term path (the [[MaxBroadcastCands]] gate).
    *
    * Score parity with the full path: idf is [[Bm25.idf]] and the tf-part
    * [[Bm25.tfPartCol]], the arithmetic both BM25 arms share (Bm25Spec
    * pins the driver forms to Spark's evaluation bit for bit); ImpactSpec's
    * randomized-corpora fuzz pins it end to end (certified must equal full
    * scoring at 9 dp on every corpus, and fallback must too).
    */
  def certifiedTopK(metaStore: DataFrame, postings: DataFrame,
                    nDocs: Long, avgDl: Double,
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
    // fingerprint-cached recount in stale-df mode. While the meta is
    // exact, EVERY term with any resolved posting has a meta row (build
    // covers all terms; insert deltas cover batch terms) — a missing term
    // matches nothing: AND can't match, OR drops the leaf. In override
    // mode the supplied inventory plays that role directly.
    val dfOf: Map[String, Long] =
      dfOverride.getOrElse(meta.map { case (t, (d, _)) => t -> d })
    def boundTf(t: String): Long = meta.get(t).map(_._2).getOrElse(0L)
    val live = terms.filter(t => dfOf.getOrElse(t, 0L) > 0L)
    if (isAnd && live.size != terms.size) return Some(Nil)
    if (live.isEmpty) return Some(Nil)
    // Bm25's driver arithmetic: the full path's op order and log
    val idfs = live.map(t => t -> Bm25.idf(nDocs, dfOf(t))).toMap
    // ub = the tf-part at dl = 0, its maximum over every doc length
    def ub(b: Long): Double = if (b <= 0L) 0.0 else Bm25.tfPart(b, 0L, avgDl)
    val bound = live.map(t => idfs(t) * ub(boundTf(t))).sum
    // the candidate postings of term t: its postings above the bound
    def above(t: String): Column =
      col("term") === t && col("tf") > lit(boundTf(t))

    // per-(term, doc) contribution rows for the CANDIDATES; `cleanup`
    // releases the multi-term path's persisted candidate distinct once the
    // top rows (collected below, in-function) no longer reference it
    val (contrib, cleanup): (DataFrame, () => Unit) =
      if (live.size == 1)
        // single term: the candidate postings carry exact (tf, dl)
        (postings.filter(above(live.head))
          .select(col("id"), col("tf"), col("dl"),
            lit(idfs(live.head)).as("__idf")), () => ())
      else {
        // multi term: a candidate found above one term's bound may match
        // the other terms BELOW their bounds — exact scores need its full
        // (term, tf, dl) rows, via a candidates-only semi-join against the
        // term-pruned postings (read, but never shuffled/scored in full).
        // The candidate count is gated before the forced broadcast (see
        // MaxBroadcastCands); PERSISTED across the gate count and the
        // broadcast, so the candidate distinct runs once, not twice.
        val cands = postings.filter(live.map(above).reduce(_ || _))
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
      val scored = contrib.select(col("id"),
        (col("__idf") * Bm25.tfPartCol(lit(avgDl))).as("__s"))
      val perDoc =
        // one postings row per (term, id): a single term's rows already
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
    //   certify): bound == 0 (every posting of every term is a candidate)
    //   or, for AND, ANY live term with bound 0 — every AND match has a
    //   posting of that term, so it is a candidate and scored exactly;
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
