package graft.ext

import graft.functions.{HashFunctions, SortedJaccard, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Deduplication operators for large-scale training-data pipelines
  * (new-scope per BASELINE.json; the reference has no dedup surface — its
  * tokenizer, src/sifts/core.py:461, is the shared substrate).
  *
  * Every operator is candidate-generation-then-verify: candidates come from
  * an equality join on a bucket key (exact hash / LSH band / prefix shingle /
  * SimHash chunk), NEVER from an all-pairs comparison. Three further
  * properties keep the near-dup operators alive on real crawl corpora, whose
  * duplicate clusters are large enough that even bucket-local O(m²) work
  * explodes (a 200-copy cluster is 19 900 pairs per shared bucket):
  *
  *  1. '''Exact-duplicate collapse.''' Identical contents are collapsed to a
  *     min-id representative BEFORE candidate generation and the verified
  *     representative pairs are expanded back afterwards — byte-identical
  *     copies (the dominant duplicate mode in crawls) never multiply the
  *     candidate join. The expansion reproduces the exact pair set, so
  *     collapse is invisible to correctness.
  *  2. '''Skinny candidate generation, bounded payload re-join.''' The
  *     bucket shuffle carries only (bucket key, id) — never the
  *     verification payload — and candidate pairs are `distinct`ed BEFORE
  *     the payload joins, so each unordered pair is verified exactly once
  *     (not once per shared bucket) and the payload crosses the wire twice
  *     per corpus, not once per (doc, band). At 1M docs × 32 bands × ~1 KB
  *     shingle sets that is ~2 GB of skinny shuffle + ~2 GB of payload join
  *     where the payload-riding design shuffled ~30 GB (measured: the 1M
  *     ProbeScale MinHash stage dropped 604 s → see BENCH_scale). This
  *     re-join is safe ONLY because bucket caps (below) bound the candidate
  *     count at O(docs × bands) — an uncapped mega-bucket join emits
  *     O(m²) pairs and the pre-cap re-join architecture spilled >250 GB
  *     and died. SimHash keeps the payload-riding shape: its payload is the
  *     8-byte hash itself, cheaper than a re-join.
  *  3. '''Bucket caps.''' A bucket with more than `maxBucket` members
  *     degrades to star edges against its min-id member — O(m) instead of
  *     O(m²). Star pairs still verify against the real payloads, and they
  *     preserve bucket connectivity, so [[dupClusters]] reconstructs the
  *     mega-cluster; what is lost is exhaustive pair ENUMERATION inside
  *     oversized buckets (inherently quadratic output). Use
  *     [[lshBucketStats]] / [[ngramBucketStats]] to measure the skipped
  *     mass, and raise `maxBucket` if exhaustive pairs are required.
  */
object Dedup {

  // -------------------------------------------------------------------------
  // Exact duplicates
  // -------------------------------------------------------------------------

  /** Exact-duplicate pairs: (keep_id, dup_id) where keep_id is the smallest
    * id of each identical-content group. groupBy on a 256-bit content hash —
    * one shuffle keyed on the hash, map-side combined; collision-free for any
    * realistic corpus.
    */
  def exactDupPairs(docs: DataFrame, idCol: String = "id",
                    contentCol: String = "content"): DataFrame = {
    val grouped = docs
      .select(col(idCol).as("id"), sha2(col(contentCol), 256).as("__h"))
      .groupBy(col("__h"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    grouped
      .select(element_at(col("ids"), 1).as("keep_id"),
        explode(slice(col("ids"), 2, Int.MaxValue)).as("dup_id"))
  }

  /** The deduplicated corpus: one representative (smallest id) per
    * identical-content group, all other columns preserved.
    */
  def dropExactDups(docs: DataFrame, idCol: String = "id",
                    contentCol: String = "content"): DataFrame = {
    val dups = exactDupPairs(docs, idCol, contentCol).select(col("dup_id").as(idCol))
    docs.join(dups, Seq(idCol), "left_anti")
  }

  /** Drops the HIGHER-id side of every near-duplicate pair (the standard
    * cheap policy; a doc that is id_b in any pair goes). Pass any pair frame
    * from the near-dup detectors. Not transitively minimal — for strict
    * cluster-level dedup run connected components over the pair graph.
    */
  def dropNearDups(docs: DataFrame, pairs: DataFrame,
                   idCol: String = "id"): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** The END-TO-END dedup pipeline a training-data run wants as one call:
    * exact-duplicate pairs ∪ MinHash near-duplicate pairs → connected
    * components → keep exactly one doc (the cluster's min id) per duplicate
    * cluster; docs in no cluster pass through. Cluster-level (transitively
    * minimal), unlike the pairwise-greedy [[dropNearDups]]: a chain
    * a≈b≈c with a̸≈c still keeps only `a`.
    *
    * The exact-pair union matters for degenerate docs: byte-identical docs
    * shorter than the shingle width have EMPTY shingle sets (Jaccard
    * undefined, no MinHash pair) but must still collapse.
    */
  def dedupCorpus(docs: DataFrame, idCol: String = "id",
                  contentCol: String = "content", n: Int = 3,
                  bands: Int = 32, rowsPerBand: Int = 4,
                  threshold: Double = 0.8,
                  maxBucket: Int = 256): DataFrame = {
    val clusters = corpusDupClusters(docs, idCol, contentCol, n, bands,
      rowsPerBand, threshold, maxBucket)
    docs.join(
      clusters.filter(col("id") =!= col("cluster")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with a QUALITY policy: per duplicate cluster, keep
    * the doc MAXIMIZING `scoreCol` (ties → smallest id) instead of the
    * arbitrary min-id root — what a real pipeline wants when copies
    * differ (keep the longest crawl of a page, the highest quality()
    * score, the lowest unigram ppl). With all scores equal this
    * degenerates to [[dedupCorpus]] exactly.
    *
    * Scale: the winner window partitions by cluster over the CLUSTERED
    * docs only (docs in no duplicate cluster never enter it); everything
    * upstream is dedupCorpus's capped machinery.
    */
  def dedupCorpusBy(docs: DataFrame, scoreCol: String, idCol: String = "id",
                    contentCol: String = "content", n: Int = 3,
                    bands: Int = 32, rowsPerBand: Int = 4,
                    threshold: Double = 0.8,
                    maxBucket: Int = 256): DataFrame = {
    val clusters = corpusDupClusters(docs, idCol, contentCol, n, bands,
      rowsPerBand, threshold, maxBucket)
    val losers = clusters
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("__s").desc, col("id").asc)))
      .filter(col("__rn") > 1)
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** The shared cluster computation of the one-call dedup pipelines:
    * exact ∪ MinHash pairs → connected components → (id, cluster) for
    * every doc in a duplicate cluster.
    */
  /** Public face of the corpus dup-cluster map: (id, cluster) for every doc
    * in an exact-or-near duplicate cluster (cluster = min reachable id;
    * singletons absent). The frame [[dedupCorpus]] keys its survivors on,
    * exposed for cluster-aware consumers ([[Pipeline.splitByCluster]]'s
    * leakage-safe splits). Same capped candidate machinery throughout.
    */
  def corpusClusters(docs: DataFrame, idCol: String = "id",
                     contentCol: String = "content", n: Int = 3,
                     bands: Int = 32, rowsPerBand: Int = 4,
                     threshold: Double = 0.8,
                     maxBucket: Int = 256): DataFrame =
    corpusDupClusters(docs, idCol, contentCol, n, bands, rowsPerBand,
      threshold, maxBucket)

  private def corpusDupClusters(docs0: DataFrame, idCol: String,
                                contentCol: String, n: Int, bands: Int,
                                rowsPerBand: Int, threshold: Double,
                                maxBucket: Int): DataFrame = {
    requireThreshold(threshold)
    // respread a narrow input (store reads, pipeline stage boundaries):
    // the shingle+MinHash pass below is the suite's heaviest per-row
    // kernel and runs scan-local — identity at real scale
    val docs = WorkingColumns.respread(docs0)
    // ONE exact-collapse pass feeds both arms: the exact pairs fall out of
    // the same (rep, id) membership the MinHash path collapses with — the
    // shared subtree (same exprIds) lets exchange reuse skip a second
    // corpus-wide sha2 + shuffle
    val members = exactMembers(docs, idCol, contentCol)
    val prep = minHashPrep(repDocs(docs, members, idCol, contentCol), n, bands * rowsPerBand)
    starClusters(members, minHashBanded(prep, bands, rowsPerBand),
      prep.select(col("id"), col("shh")), threshold, maxBucket)._1
  }

  /** The near-dup detectors' threshold contract: a Jaccard bound in (0, 1]. */
  private def requireThreshold(threshold: Double): Unit =
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0, 1], got $threshold")

  private def freshCol(df: DataFrame, base: String): String =
    WorkingColumns.fresh(df, base)

  // -------------------------------------------------------------------------
  // Exact-duplicate collapse (shared by the near-dup detectors)
  // -------------------------------------------------------------------------

  /** (rep, id) membership mapping: rep = min id among docs with identical
    * content. One skinny shuffle — only (id, content hash) crosses the wire.
    */
  private def exactMembers(docs: DataFrame, idCol: String,
                           contentCol: String): DataFrame =
    docs.select(col(idCol).as("id"), sha2(col(contentCol), 256).as("__h"))
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("__h"))))
      .select(col("rep"), col("id"))

  /** The representative docs frame (id, content): one doc per distinct
    * content, the min-id member of its group.
    */
  private def repDocs(docs: DataFrame, members: DataFrame, idCol: String,
                      contentCol: String): DataFrame =
    docs.select(col(idCol).as("id"), col(contentCol).as("content"))
      .join(members.filter(col("id") === col("rep")).select("id"), Seq("id"), "left_semi")

  /** Expands verified representative-level pairs back over the exact-dup
    * groups: every (member of rep_a, member of rep_b) inherits the pair's
    * score (contents are identical so the score is identical), and every
    * intra-group pair qualifies with `selfScores`' value for its rep (the
    * score of a doc against its own copy) when that passes the caller's
    * filter. Output pair count equals the true pair count — quadratic only
    * where the real answer is quadratic.
    */
  private def expandExact(repPairs: DataFrame, members: DataFrame,
                          selfQualifying: DataFrame, scoreCol: String): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("__ma")), "id_a")
      .join(members.select(col("rep").as("id_b"), col("id").as("__mb")), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(scoreCol))
    val intra = members.as("a")
      .join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
      .select(col("a.rep").as("rep"), col("a.id").as("id_a"), col("b.id").as("id_b"))
      .join(selfQualifying, "rep")
      .select(col("id_a"), col("id_b"), col(scoreCol))
    cross.unionByName(intra)
  }

  // -------------------------------------------------------------------------
  // Corpus-level line dedup
  // -------------------------------------------------------------------------

  /** INTRA-document repeated-line removal: within each doc, keep only the
    * FIRST occurrence of every line (trimmed-form equality), preserving
    * order — the within-page cleaning pass (nav menus repeated mid-page,
    * chat logs quoting themselves) that complements [[dedupLinesCorpus]]'s
    * corpus-wide boilerplate drop. Adds `content_dedup` and
    * `n_lines_dropped`; null content stays null with 0 dropped.
    *
    * Scale: computed ENTIRELY inside the row (split → native single-pass
    * hash-set first-occurrence filter → rejoin) — a ZERO-shuffle scan,
    * O(bytes) per doc. The former HOF formulation (`!exists(slice(...))`
    * per line) was O(lines²) in-row: fine for web docs, but a pathological
    * 50k-line document paid ~10⁹ interpreted comparisons in one task.
    */
  def dedupLinesDoc(docs: DataFrame,
                    contentCol: String = "content"): DataFrame = {
    val lines = split(col(contentCol), "\n")
    // keep line i iff no earlier line has the same trimmed form
    val kept = graft.functions.TextFunctions.keepFirstByTrim(lines)
    val dedup = when(col(contentCol).isNull, lit(null).cast("string"))
      .otherwise(concat_ws("\n", kept))
    docs.withColumn("content_dedup", dedup)
      .withColumn("n_lines_dropped",
        when(col(contentCol).isNull, lit(0L))
          .otherwise((size(lines) - size(kept)).cast("long")))
  }

  /** CORPUS-LEVEL duplicate-line removal (the C4 / RefinedWeb hygiene pass:
    * a line whose trimmed form occurs `minDf`-or-more times ANYWHERE in the
    * corpus — other documents or the same one — is boilerplate and every
    * occurrence is dropped). Complements [[graft.ext.TextStats.stripBoilerplate]],
    * which judges each line in isolation; this operator needs the global
    * line-frequency table and is therefore the one with a shuffle story.
    *
    * Whitespace-only lines are never dropped (they are document structure,
    * not repeatable content) and never counted. Surviving lines keep their
    * original (untrimmed) text and order.
    *
    * Scale shape, in order: (1) line-frequency aggregation — one map-side-
    * combined shuffle keyed on the trimmed line, emitting only keys at
    * df ≥ minDf (the boilerplate set, far smaller than the corpus);
    * (2) a LEFT ANTI join of the exploded lines against that set — AQE
    * broadcasts it when it fits, else sort-merge with skew-split (hot
    * boilerplate keys match ONE build row each, so there is no output
    * amplification); (3) one groupBy(id) reassembly. Line text crosses the
    * wire at most twice; no stage is quadratic in anything.
    *
    * Output: (id, content, content_dedup, n_lines_kept, n_lines_total);
    * null content stays null with 0/0 counts, a fully-boilerplate doc
    * becomes the empty string.
    */
  def dedupLinesCorpus(docs: DataFrame, idCol: String = "id",
                       contentCol: String = "content",
                       minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // respread a narrow input: the line explode + trim below is scan-local
    val base = WorkingColumns.respread(
      docs.select(col(idCol).as("id"), col(contentCol).as("content")))
    val lines = base.filter(col("content").isNotNull)
      .select(col("id"), posexplode(split(col("content"), "\n")).as(Seq("pos", "line")))
      .withColumn("k", trim(col("line")))
    val dupKeys = lines.filter(length(col("k")) > 0)
      .groupBy(col("k")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("k"))
    val rebuilt = lines.join(dupKeys, Seq("k"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("content_dedup"),
        count(lit(1)).as("n_lines_kept"))
    base.join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("content"),
        when(col("content").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("content_dedup"), lit(""))).as("content_dedup"),
        when(col("content").isNull, lit(0L))
          .otherwise(coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_kept"),
        when(col("content").isNull, lit(0L))
          .otherwise(size(split(col("content"), "\n")).cast("long")).as("n_lines_total"))
  }

  // -------------------------------------------------------------------------
  // Corpus-level duplicated-substring spans
  // -------------------------------------------------------------------------

  /** Duplicated-substring spans (the exact-substring dedup signal of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    * per doc, the maximal token ranges `[span_start, span_end]` (0-based,
    * inclusive, over the normalized token stream) covered by any word
    * `k`-gram that occurs ≥ `minCount` times corpus-wide — other documents
    * or the same one. Overlapping and adjacent covered windows merge into
    * one span, so each emitted range is a maximal duplicated region.
    *
    * The reference algorithm builds a corpus suffix array; the Spark-native
    * equivalent fingerprints every k-token window and lets one aggregation
    * find the repeated ones. Windows are identified by a 128-bit hash pair
    * (two independent xxhash64 seeds) rather than the gram text, so shuffle
    * rows stay skinny at any scale; at 10^13 windows the 128-bit birthday
    * term is ~10^-12 — false merges are effectively impossible where a
    * single 64-bit hash would already see collisions.
    *
    * Scale shape: (1) window fingerprinting — a pure scan + explode;
    * (2) the frequency agg — one map-side-combined shuffle on the hash pair,
    * emitting only keys at count ≥ minCount; (3) a LEFT SEMI join of window
    * occurrences against that (small) set — AQE broadcasts it when it fits;
    * (4) per-doc island merging — one skinny (id, pos) shuffle and a
    * streaming lag/running-sum window. Fixed window length makes interval
    * ends monotone in starts, so a single `lag` detects island breaks — no
    * running-max needed. Nothing is quadratic; content never shuffles.
    */
  def duplicateSpans(docs: DataFrame, idCol: String = "id",
                     contentCol: String = "content", k: Int = 8,
                     minCount: Long = 2): DataFrame = {
    require(k >= 1, "k >= 1")
    require(minCount >= 2, "minCount >= 2")
    val toks = TextFunctions.tokens(col(contentCol))
    val grams = docs
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.shinglesAll(toks, k)).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"),
        xxhash64(col("gram")).as("h1"),
        xxhash64(col("gram"), lit(1)).as("h2"))
    val dup = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("h1"), col("h2"))
    val hits = grams.join(dup, Seq("h1", "h2"), "left_semi")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    hits
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      // window at pos covers [pos, pos+k-1]; merge when the next start is
      // inside or adjacent to the previous covered range
      .withColumn("__new",
        when(col("__prev").isNull || col("pos") > col("__prev") + k, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(run))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** Applies [[duplicateSpans]]: rebuilds each doc's content with every
    * covered token removed (`content_dedup` — surviving normalized tokens
    * re-joined with spaces) plus `n_tokens_removed`/`n_tokens_total`. This
    * is the conservative boilerplate-removal variant — ALL occurrences of a
    * duplicated region are dropped, including the "first"; keeping one
    * canonical occurrence is the doc-level dedup pipeline's job
    * ([[dedupCorpus]]). Docs with no duplicated span pass through intact
    * (null content stays null). One broadcast-friendly join of the
    * (sparse) span lists back onto the corpus; the token filter runs where
    * the doc lives.
    */
  def stripDuplicateSpans(docs: DataFrame, idCol: String = "id",
                          contentCol: String = "content", k: Int = 8,
                          minCount: Long = 2): DataFrame = {
    val spans = duplicateSpans(docs, idCol, contentCol, k, minCount)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = TextFunctions.tokens(col(contentCol))
    // scratch rides on the caller's frame — collision-free names
    val cSp = freshCol(docs, "__spans")
    val cTk = freshCol(docs, "__toks")
    val cKp = freshCol(docs, "__kept")
    docs.join(
      spans.select(col("id").as(idCol), col("spans").as(cSp)), Seq(idCol), "left")
      .withColumn(cTk, toks)
      .withColumn(cKp,
        filter(col(cTk), (t, i) => !exists(col(cSp),
          s => i.cast("long").between(s.getField("span_start"), s.getField("span_end")))))
      .withColumn("content_dedup",
        when(col(contentCol).isNull, lit(null).cast("string"))
          .when(col(cSp).isNull, array_join(col(cTk), " "))
          .otherwise(array_join(col(cKp), " ")))
      .withColumn("n_tokens_total",
        when(col(cTk).isNull, lit(0L)).otherwise(size(col(cTk)).cast("long")))
      .withColumn("n_tokens_removed",
        when(col(cSp).isNull || col(cTk).isNull, lit(0L))
          .otherwise(col("n_tokens_total") - size(col(cKp))))
      .drop(cSp, cTk, cKp)
  }

  // -------------------------------------------------------------------------
  // Cross-corpus dedup (dedup-against)
  // -------------------------------------------------------------------------

  /** Near-duplicate matches of `docs` AGAINST a separate reference corpus
    * (id, ref_id, jaccard) — the cross-corpus form every incremental
    * training-data pipeline needs: "drop from this crawl whatever the
    * existing training set (or an eval set) already contains, fuzzily".
    * Same MinHash-LSH band shape and exact-Jaccard verification as
    * [[minHashDupPairs]]; candidates are (band, bh) equality matches
    * BETWEEN the corpora, never within one, so the output is matches
    * against the reference only.
    *
    * Scale shape: both sides exact-collapse to min-id representatives
    * first (byte-identical crawl copies never multiply the candidate
    * join); banding rows are skinny (band, bh, id); after the candidate
    * `distinct`, each corpus rep keeps only its first `maxCandidates`
    * reference candidates (ref-id order — deterministic but ARBITRARY
    * with respect to similarity) — removal needs ONE verified witness,
    * not all of them, so per-doc verification work is bounded even when a
    * boilerplate band hash matches thousands of reference docs. A true
    * match is lost only when `maxCandidates` other candidates sort before
    * it AND all fail verification; use [[crossDupStats]] to see how many
    * docs hit the cap, and raise it if that mass matters. Verification
    * payloads join once per capped candidate side.
    */
  def crossDupPairs(docs: DataFrame, reference: DataFrame,
                    idCol: String = "id", contentCol: String = "content",
                    refIdCol: String = "id", refContentCol: String = "content",
                    n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                    threshold: Double = 0.8,
                    maxCandidates: Int = 64): DataFrame = {
    require(maxCandidates >= 1, "maxCandidates >= 1")
    val cross = crossCandidates(docs, reference, idCol, contentCol,
      refIdCol, refContentCol, n, bands, rowsPerBand)
    import cross.{candidates, cMembers, rMembers, cPrep, rPrep}
    val capped = candidates
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("ref_id"))))
      .filter(col("__rn") <= maxCandidates)
      .drop("__rn")
    val verified = capped
      .join(cPrep.select(col("id"), col("shh").as("__shh_a")), "id")
      .join(rPrep.select(col("id").as("ref_id"), col("shh").as("__shh_b")), "ref_id")
      .withColumn("jaccard", HashFunctions.sortedJaccard(col("__shh_a"), col("__shh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("ref_id"), col("jaccard"))
    // expand both exact-dup groups back: identical contents share the score
    verified
      .join(cMembers.select(col("rep").as("id"), col("id").as("__m")), "id")
      .join(rMembers.select(col("rep").as("ref_id"), col("id").as("__rm")), "ref_id")
      .select(col("__m").as("id"), col("__rm").as("ref_id"), col("jaccard"))
  }

  /** The shared cross-corpus candidate pipeline: exact-collapse both
    * sides, MinHash-prep the representatives, and equality-join the
    * skinny banding rows BETWEEN the corpora. One definition feeds both
    * [[crossDupPairs]] and [[crossDupStats]] so the diagnostics always
    * describe the pipeline the pairs actually ran.
    */
  private case class CrossCandidates(candidates: DataFrame,
                                     cMembers: DataFrame, rMembers: DataFrame,
                                     cPrep: DataFrame, rPrep: DataFrame)

  private def crossCandidates(docs: DataFrame, reference: DataFrame,
                              idCol: String, contentCol: String,
                              refIdCol: String, refContentCol: String,
                              n: Int, bands: Int,
                              rowsPerBand: Int): CrossCandidates = {
    val numHashes = bands * rowsPerBand
    val corpus = docs.select(col(idCol).as("id"), col(contentCol).as("content"))
    val ref = reference.select(col(refIdCol).as("id"), col(refContentCol).as("content"))
    val cMembers = exactMembers(corpus, "id", "content")
    val rMembers = exactMembers(ref, "id", "content")
    val cPrep = minHashPrep(repDocs(corpus, cMembers, "id", "content"), n, numHashes)
    val rPrep = minHashPrep(repDocs(ref, rMembers, "id", "content"), n, numHashes)
    val candidates = minHashBanded(cPrep, bands, rowsPerBand)
      .join(minHashBanded(rPrep, bands, rowsPerBand)
          .withColumnRenamed("id", "ref_id"),
        Seq("band", "bh"))
      .select(col("id"), col("ref_id")).distinct()
    CrossCandidates(candidates, cMembers, rMembers, cPrep, rPrep)
  }

  /** One-row cap diagnostics for [[crossDupPairs]] — report this next to
    * any capped cross-dedup run (a silent cap reads as full coverage):
    * corpus docs with ≥ 1 reference candidate, docs whose candidate list
    * was cut at `maxCandidates`, and the total/kept candidate counts
    * (all counts over exact-collapsed REPRESENTATIVES — the frame the cap
    * applies to). A high capped-docs count means boilerplate band
    * collisions are eating the witness budget — raise the cap or tighten
    * the band shape.
    */
  def crossDupStats(docs: DataFrame, reference: DataFrame,
                    idCol: String = "id", contentCol: String = "content",
                    refIdCol: String = "id", refContentCol: String = "content",
                    n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                    maxCandidates: Int = 64): DataFrame =
    crossCandidates(docs, reference, idCol, contentCol, refIdCol,
      refContentCol, n, bands, rowsPerBand).candidates
      .groupBy(col("id")).agg(count(lit(1)).as("cands"))
      .agg(count(lit(1)).as("docs_with_candidates"),
        // every sum coalesces: a candidate-free corpus aggregates the
        // EMPTY frame, where sum is NULL, not 0
        coalesce(sum(when(col("cands") > maxCandidates, 1L).otherwise(0L)),
          lit(0L)).as("docs_capped"),
        coalesce(sum(col("cands")), lit(0L)).as("candidates_total"),
        coalesce(sum(least(col("cands"), lit(maxCandidates.toLong))), lit(0L))
          .as("candidates_kept"))

  /** Drops from `docs` everything the reference corpus already contains:
    * byte-identical contents always (256-bit content-hash anti-join — the
    * reference hash set is one skinny column, AQE broadcasts it when it
    * fits), plus MinHash near-duplicates at `threshold` when `near` is on
    * (see [[crossDupPairs]] — covers docs ≥ shingle width; shorter docs
    * have empty shingle sets and are caught by the exact arm alone, the
    * same split [[dedupCorpus]] relies on). Null-content docs never match
    * a null-content reference row (hash of null is null) — nothing to
    * contain means nothing to drop.
    *
    * With `near = false` this also accepts a STREAMING `docs` frame: the
    * exact arm is a stream-static anti join, so a continuous crawl can be
    * filtered against a static training set per micro-batch (pinned by
    * ExtSpec). The near arm aggregates and is batch-only.
    */
  def dedupAgainst(docs: DataFrame, reference: DataFrame,
                   idCol: String = "id", contentCol: String = "content",
                   refIdCol: String = "id", refContentCol: String = "content",
                   near: Boolean = true, n: Int = 3, bands: Int = 32,
                   rowsPerBand: Int = 4, threshold: Double = 0.8,
                   maxCandidates: Int = 64): DataFrame = {
    // the working hash column rides on the CALLER's frame (unlike the other
    // operators' internal projections), so a fixed "__h" would clobber a
    // caller column of that name and then drop it — pick a name the frame
    // doesn't have
    val h = freshCol(docs, "__h")
    val refHashes = reference
      .select(sha2(col(refContentCol), 256).as(h)).distinct()
    val exactGone = docs
      .withColumn(h, sha2(col(contentCol), 256))
      .join(refHashes, Seq(h), "left_anti")
      .drop(h)
    // the near arm runs over the exact-arm SURVIVORS: exact groups are
    // removed or kept whole (identical content hashes alike), so the pair
    // set restricted to survivors is unchanged — and byte-matched docs
    // (the dominant mass in a recrawl) never pay shingle/signature work
    if (!near) exactGone
    else exactGone.join(
      crossDupPairs(exactGone, reference, idCol, contentCol, refIdCol,
        refContentCol, n, bands, rowsPerBand, threshold, maxCandidates)
        .select(col("id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Exact cross-corpus dedup with a broadcast Bloom-filter prefilter — the
    * 100 TB form of [[dedupAgainst]]'s exact arm. A Bloom sketch over the
    * reference's 64-bit content hashes is built driver-side (size set by
    * `expectedItems`/`fpp`, NOT by the corpus) and probed as a codegen'd
    * scan predicate ([[graft.functions.BloomMightContainLong]]): bloom-
    * negative rows — the overwhelming mass when contamination is rare — are
    * definitively clean and NEVER shuffle; only the (true matches +
    * fpp·corpus) positive sliver pays the verifying anti-join. The verify
    * join matches on sha2-256 like the exact arm (the 64-bit xxhash only
    * routes the bloom), so the result EQUALS `dedupAgainst(near = false)`:
    * no false drops from bloom or 64-bit collisions.
    *
    * Cost shape: two corpus scans (flag + route) instead of one corpus-wide
    * shuffle — columnar re-reads are the cheap currency at 100 TB, shuffle
    * the expensive one. Returns `docs` rows whose content is not in
    * `reference`.
    */
  def bloomDedupAgainst(docs: DataFrame, reference: DataFrame,
                        idCol: String = "id", contentCol: String = "content",
                        refContentCol: String = "content",
                        expectedItems: Long = 1000000L,
                        fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val h64 = freshCol(docs, "__h64")
    val h = freshCol(docs.withColumn(h64, lit(0L)), "__h")
    // driver-side sketch: bounded by expectedItems by contract (the
    // reference set is the benchmark/holdout being screened against), the
    // same boundedness contract as Ivf's centroid train
    val bloom = reference.select(xxhash64(col(refContentCol)).as(h64))
      .stat.bloomFilter(h64, expectedItems, fpp)
    val might = graft.functions.BloomFunctions.mightContainLong(col(h64), bloom)
    val hashed = docs.withColumn(h64, xxhash64(col(contentCol)))
    val refHashes = reference.select(sha2(col(refContentCol), 256).as(h)).distinct()
    val survivors = hashed.filter(might)
      .withColumn(h, sha2(col(contentCol), 256))
      .join(refHashes, Seq(h), "left_anti")
      .drop(h, h64)
    hashed.filter(!might).drop(h64).unionByName(survivors)
  }

  /** Continuous-ingestion screening: filter a micro-batched STREAM of docs
    * against a static reference corpus, forwarding only novel survivors to
    * `sink` — the streaming arm of [[dedupAgainst]] (continuous
    * recrawl/holdout screening at the ingest edge). Each micro-batch runs
    * the full batch operator (exact sha2 arm + optional MinHash near arm)
    * against the SAME reference, so batch boundaries cannot change the
    * result: survivors(b1) ∪ survivors(b2) ≡ survivors(b1 ∪ b2) — each
    * doc's verdict depends only on (doc, reference). Compose with
    * [[graft.streaming.EventStreams.dedupStream]] upstream for
    * within-stream (first-arrival) dedup; this operator deliberately keeps
    * no cross-batch state of its own.
    *
    * Scale: per batch, the reference side is the big one and it pays the
    * same capped-bucket LSH probe as the batch operator; a small batch
    * joins broadcast-style against the reference's hash/signature frames.
    * `start()` on the returned writer.
    */
  def streamDedupAgainst(stream: DataFrame, reference: DataFrame,
                         idCol: String = "id", contentCol: String = "content",
                         refIdCol: String = "id", refContentCol: String = "content",
                         near: Boolean = true, n: Int = 3, bands: Int = 32,
                         rowsPerBand: Int = 4, threshold: Double = 0.8,
                         maxCandidates: Int = 64)(sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(stream.isStreaming, "streamDedupAgainst expects a streaming DataFrame")
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(dedupAgainst(batch, reference, idCol, contentCol, refIdCol,
          refContentCol, near, n, bands, rowsPerBand, threshold, maxCandidates))
    }
  }

  // -------------------------------------------------------------------------
  // Capped in-bucket pair join (shared by the near-dup detectors)
  // -------------------------------------------------------------------------

  /** Intra-bucket pair frame with verification payloads: for a frame of
    * (keys…, id, payloads…) rows, returns (id_a, id_b, payload_a…,
    * payload_b…) for every unordered in-bucket pair — except that buckets
    * with more than `maxBucket` members contribute only their star edges
    * (min-id member × everyone else), bounding per-bucket work at O(m).
    * One shuffle on the bucket keys; the window's count/min and both join
    * sides reuse that partitioning.
    */
  private def bucketJoin(bucketed: DataFrame, keys: Seq[String],
                         payloads: Seq[String], maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, "maxBucket >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
    val sized = bucketed
      .withColumn("__sz", count(lit(1)).over(w))
      .withColumn("__mn", min(col("id")).over(w))
    val keyEq = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    def sides(df: DataFrame, other: DataFrame, cond: org.apache.spark.sql.Column) =
      df.as("a").join(other.as("b"), cond)
        .select((Seq("id") ++ payloads).map(c => col(s"a.$c").as(s"${c}_a")) ++
          (Seq("id") ++ payloads).map(c => col(s"b.$c").as(s"${c}_b")): _*)
    val small = sized.filter(col("__sz") <= maxBucket)
    val smallPairs = sides(small, small, keyEq && col("a.id") < col("b.id"))
    val big = sized.filter(col("__sz") > maxBucket)
    val bigPairs = sides(big.filter(col("id") === col("__mn")),
      big.filter(col("id") =!= col("__mn")), keyEq)
    smallPairs.unionByName(bigPairs)
  }

  /** The staged frames of [[verifiedJaccardSetPairs]], exposed so probes can
    * materialize them one by one and attribute wall time per stage.
    */
  private[graft] case class SetVerifyStages(sets: DataFrame, packed: DataFrame,
                                            pairs: DataFrame)

  /** Capped in-bucket Jaccard verification via BUCKET-CONTENT COLLECTION:
    * buckets collect their sorted member-id lists (one skinny shuffle);
    * identical member sets — e.g. a tight near-dup cluster colliding in all
    * 32 LSH bands — deduplicate BEFORE any pair work, collapsing the
    * per-band candidate redundancy that previously shuffled O(bands ×
    * cluster²) pair rows into the distinct; payloads then join once per
    * (set, member) and ride to the set row (bounded: ≤ maxBucket members ×
    * payload size); a native generator ([[graft.functions.BucketJaccardPairs]])
    * verifies all pairs INSIDE the set row with an early-exit merge and
    * emits only survivors. Candidate pairs never exist as rows, and no
    * payload crosses the wire more than once per set membership.
    *
    * Buckets over `maxBucket` degrade to star edges (min-id × member),
    * verified through the skinny pair path — same capped contract as
    * before. Output (id_a, id_b, jaccard), a < b, distinct.
    */
  private def verifiedJaccardSetPairs(bucketed: DataFrame, keys: Seq[String],
                                      payload: DataFrame, threshold: Double,
                                      maxBucket: Int): DataFrame =
    jaccardSetStages(bucketed, keys, payload, threshold, maxBucket).pairs

  private def jaccardSetStages(bucketed: DataFrame, keys: Seq[String],
                               payload: DataFrame, threshold: Double,
                               maxBucket: Int): SetVerifyStages = {
    require(maxBucket >= 1, "maxBucket >= 1")
    // Size every bucket FIRST (window count over the bucket keys — one
    // shuffle, spill-capable buffering): collect_list only ever runs on
    // buckets already known to be within the cap, so a degenerate
    // mega-bucket (millions of members under one key) is routed to the
    // star path without ever materializing as a single row. The groupBy
    // below reuses the window's partitioning — no second shuffle.
    val w = Window.partitionBy(keys.map(col): _*)
    val sized = bucketed
      .withColumn("__sz", count(lit(1)).over(w))
      .withColumn("__mn", min(col("id")).over(w))
    val buckets = sized.filter(col("__sz") > 1 && col("__sz") <= maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("id"))).as("ms"))
    // The member list is only the GROUPING IDENTITY from here on (the
    // generator consumes the payload-packed docs array, never ms), so an
    // 8-byte hash replaces the full array on every exploded row and as the
    // re-group shuffle key — without it an m-member bucket ships m copies of
    // an m-element id array, O(m²) bytes per cluster bucket. A hash
    // collision merely merges two generator inputs: verification is exact,
    // so a merge can only add verified-correct pairs, never lose one.
    val packed = buckets
      .select(col("ms")).distinct()
      .select(xxhash64(concat_ws("\u0000", col("ms"))).as("__sid"),
        explode(col("ms")).as("id"))
      .join(payload, "id")
      .groupBy(col("__sid"))
      .agg(sort_array(collect_list(struct(col("id"), col("shh")))).as("docs"))
    val verified = packed.select(
      HashFunctions.bucketJaccardPairs(col("docs"), threshold)
        .as(Seq("id_a", "id_b", "jaccard")))
    val starPairs = sized.filter(col("__sz") > maxBucket && col("id") =!= col("__mn"))
      .select(col("__mn").as("id_a"), col("id").as("id_b"))
      .distinct()
    val starVerified = joinPayloads(starPairs, payload, "shh")
      .withColumn("jaccard", HashFunctions.sortedJaccard(col("shh_a"), col("shh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    SetVerifyStages(buckets, packed,
      verified.unionByName(starVerified).dropDuplicates("id_a", "id_b"))
  }

  /** Joins one payload column onto both sides of a (id_a, id_b) pair frame:
    * output (id_a, id_b, <payload>_a, <payload>_b).
    */
  private def joinPayloads(pairs: DataFrame, payload: DataFrame,
                           payloadCol: String): DataFrame =
    pairs
      .join(payload.select(col("id").as("id_a"), col(payloadCol).as(s"${payloadCol}_a")), "id_a")
      .join(payload.select(col("id").as("id_b"), col(payloadCol).as(s"${payloadCol}_b")), "id_b")

  /** One-row diagnostics for a capped bucket join: total buckets, buckets
    * over the cap, member rows inside them, and the all-pairs candidates the
    * cap avoided (pairs beyond the star edges). Report this next to any
    * capped dedup run — a silent cap reads as full coverage.
    */
  private def bucketStatsOf(bucketed: DataFrame, keys: Seq[String],
                            maxBucket: Int): DataFrame =
    bucketed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("buckets"),
        sum(when(col("sz") > maxBucket, 1L).otherwise(0L)).as("oversized_buckets"),
        sum(when(col("sz") > maxBucket, col("sz")).otherwise(0L)).as("oversized_members"),
        sum(when(col("sz") > maxBucket,
          (col("sz") * (col("sz") - 1) / 2 - (col("sz") - 1)).cast("long")).otherwise(0L))
          .as("pairs_skipped"))

  // -------------------------------------------------------------------------
  // MinHash + LSH near-duplicates
  // -------------------------------------------------------------------------

  /** (id, shh, sig): hashed+sorted shingle set (verification payload) and
    * `bands*rowsPerBand`-perm MinHash signature per doc. Pure scan, zero
    * shuffle; the element hashes are computed once and feed both columns.
    */
  private def minHashPrep(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    docs.select(col("id"),
        HashFunctions.hashedSet(
          TextFunctions.shingles(TextFunctions.tokens(col("content")), n)).as("shh"))
      .withColumn("sig", HashFunctions.minHashSignatureHashed(col("shh"), numHashes))

  /** (id, band, bh): one skinny row per (doc, band) with the band hash —
    * no payload; verification payloads re-join after candidate distinct.
    */
  private def minHashBanded(prep: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = transform(
      sequence(lit(0), lit(bands - 1)),
      j => xxhash64(concat_ws(",", slice(col("sig"), j * rowsPerBand + 1, lit(rowsPerBand))), j))
    prep.select(col("id"), posexplode(bandHashes).as(Seq("band", "bh")))
  }

  /** (id, band, bh) banded MinHash-LSH rows for `docs` — the persisted
    * dedup-index row shape ([[graft.api.Collection!.createDedupIndex]]).
    * Same prep/banding pieces as [[minHashDupPairs]], so index probes and
    * the batch operator agree bit-for-bit on bucket assignment.
    */
  private[graft] def bandedSignatureRows(docs: DataFrame, idCol: String,
                                         contentCol: String, n: Int,
                                         bands: Int, rowsPerBand: Int): DataFrame =
    minHashBanded(minHashPrep(
      docs.select(col(idCol).as("id"), col(contentCol).as("content")),
      n, bands * rowsPerBand), bands, rowsPerBand)

  /** Hashed shingle set of a content column at shingle size `n` — the
    * verification payload matching [[bandedSignatureRows]]' signatures.
    */
  private[graft] def shingleSet(content: Column, n: Int): Column =
    HashFunctions.hashedSet(
      TextFunctions.shingles(TextFunctions.tokens(content), n))

  /** Near-duplicate pairs by word-shingle Jaccard ≥ `threshold`, found with
    * MinHash LSH and VERIFIED with the exact Jaccard over the hashed shingle
    * sets (no false positives; candidate recall governed by the band shape:
    * P[miss] = (1 − t^r)^b — < 1e-7 for the default 32×4 at t=0.8). Exact
    * duplicates are collapsed before LSH and expanded after verification;
    * buckets over `maxBucket` degrade to star edges (see the object doc).
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minHashDupPairs(docs: DataFrame, idCol: String = "id",
                      contentCol: String = "content", n: Int = 3,
                      bands: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.8,
                      maxBucket: Int = 256): DataFrame = {
    requireThreshold(threshold)
    minHashDiag(docs, idCol, contentCol, n, bands, rowsPerBand,
      threshold, maxBucket).pairs
  }

  /** The staged frames of [[minHashDupPairs]] — identical plan pieces, for
    * probe instrumentation: materializing each in order (every stage
    * recomputes its predecessors, so stage cost = consecutive-time diff)
    * attributes wall time to banding / bucket-collect / payload-pack /
    * verify+expand.
    */
  private[graft] case class MinHashDiag(banded: DataFrame, sets: DataFrame,
                                        packed: DataFrame, pairs: DataFrame)

  private[graft] def minHashDiag(docs: DataFrame, idCol: String = "id",
                                 contentCol: String = "content", n: Int = 3,
                                 bands: Int = 32, rowsPerBand: Int = 4,
                                 threshold: Double = 0.8,
                                 maxBucket: Int = 256): MinHashDiag = {
    val members = exactMembers(docs, idCol, contentCol)
    val prep = minHashPrep(repDocs(docs, members, idCol, contentCol), n, bands * rowsPerBand)
    val banded = minHashBanded(prep, bands, rowsPerBand)
    // skinny banding rows → bucket-content collection + in-set generator
    // verification; the shh branch prunes the (expensive) sig column, so
    // signatures are computed once, for banding only
    val stages = jaccardSetStages(banded, Seq("band", "bh"),
      prep.select(col("id"), col("shh")), threshold, maxBucket)
    val selfQ = prep
      .select(col("id").as("rep"), HashFunctions.sortedJaccard(col("shh"), col("shh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    MinHashDiag(banded, stages.sets, stages.packed,
      expandExact(stages.pairs, members, selfQ, "jaccard"))
  }

  /** Bucket diagnostics for [[minHashDupPairs]]' LSH banding at the given
    * parameters (over the collapsed representative docs, like the operator).
    */
  def lshBucketStats(docs: DataFrame, idCol: String = "id",
                     contentCol: String = "content", n: Int = 3,
                     bands: Int = 32, rowsPerBand: Int = 4,
                     maxBucket: Int = 256): DataFrame = {
    val members = exactMembers(docs, idCol, contentCol)
    val prep = minHashPrep(repDocs(docs, members, idCol, contentCol), n, bands * rowsPerBand)
    bucketStatsOf(minHashBanded(prep, bands, rowsPerBand), Seq("band", "bh"), maxBucket)
  }

  // -------------------------------------------------------------------------
  // Exact n-gram Jaccard (no LSH — prefix-filter candidates)
  // -------------------------------------------------------------------------

  /** EXACT near-duplicate pairs by word-shingle Jaccard ≥ `threshold`,
    * via PREFIX FILTERING (the PPJoin-family set-similarity join):
    *
    * Order every doc's hashed shingles ascending (a global total order); a
    * pair with Jaccard ≥ t MUST share an element inside each doc's first
    * ⌊(1−t)·|A|⌋+1 elements of that ordering (if the prefixes were disjoint,
    * the overlap is bounded below t·|A∪B|). Candidates therefore come only
    * from a ~(1−t) fraction of each doc's shingles, and are verified with the
    * exact Jaccard over the full hashed sets, in-bucket. Recall is 1 by the
    * prefix-filter theorem — EXCEPT inside buckets over `maxBucket`, which
    * degrade to star edges (see the object doc; this operator's prefix
    * buckets are the ones that explode on crawl corpora, where near-copies'
    * smallest-hash shingles coincide). `dfOrdered = true` orders by global
    * document frequency instead (rarest-first, the PPJoin choice): fewest
    * candidates, at the cost of a document-frequency join + per-doc window.
    */
  /** Prefix-filter probe rows (id, g): the first ⌊(1−t)·|S|⌋+1 elements of
    * each doc's hashed set under a GLOBAL total order — hash order (the
    * set is already hash-sorted: zero shuffles) or rarest-first document
    * frequency (fewest candidates; one df aggregate + per-doc window).
    * The 1e-9 epsilon guards the integral-(1−t)·|S| floor: (1.0 − t) is
    * not exact in binary and floor can land one BELOW the true value
    * exactly when (1−t)·|S| is integral — a one-short prefix silently
    * drops qualifying pairs (observed: 255 vs 256 pairs at t=0.8). ONE
    * definition shared by the Jaccard join, the containment join, and the
    * bucket diagnostics, so the epsilon/length subtlety cannot drift.
    * `dfreqOpt` lets a caller that already aggregated (g, __df) thread it
    * in, so the shared subtree is STRUCTURALLY one aggregate (exchange
    * reuse then fires on canonical-identical plans) instead of two
    * independently-built ones hoping ReuseExchange unifies them.
    */
  private def prefixRows(withH: DataFrame, threshold: Double,
                         dfOrdered: Boolean,
                         dfreqOpt: Option[DataFrame] = None): DataFrame = {
    val prefLen =
      (floor((lit(1.0) - threshold) * size(col("shh")) + lit(1e-9)) + 1).cast("int")
    if (dfOrdered) {
      val inv = withH.select(col("id"), explode(col("shh")).as("g"))
      val dfreq = dfreqOpt.getOrElse(
        inv.groupBy(col("g")).agg(count(lit(1)).as("__df")))
      inv.join(dfreq, "g")
        .withColumn("__pos", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("__df"), col("g"))))
        .join(withH.select(col("id"), prefLen.as("__p")), "id")
        .filter(col("__pos") <= col("__p"))
        .select(col("id"), col("g"))
    } else
      withH.select(col("id"), explode(slice(col("shh"), lit(1), prefLen)).as("g"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String = "id",
                        contentCol: String = "content", n: Int = 3,
                        threshold: Double = 0.8,
                        dfOrdered: Boolean = false,
                        maxBucket: Int = 256): DataFrame = {
    val members = exactMembers(docs, idCol, contentCol)
    val sh = repDocs(docs, members, idCol, contentCol).select(
      col("id"),
      TextFunctions.shingles(TextFunctions.tokens(col("content")), n).as("sh"))
    val withH = sh.select(col("id"), col("sh"), HashFunctions.hashedSet(col("sh")).as("shh"))
    val prefix = prefixRows(withH, threshold, dfOrdered)
    val repPairs = verifiedJaccardSetPairs(prefix.select("g", "id"), Seq("g"),
      withH.select(col("id"), col("shh")), threshold, maxBucket)
    val selfQ = withH
      .select(col("id").as("rep"), HashFunctions.sortedJaccard(col("shh"), col("shh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    expandExact(repPairs, members, selfQ, "jaccard")
  }

  /** Bucket diagnostics for [[ngramJaccardPairs]]' hash-ordered prefix join
    * at the given parameters (over the collapsed representative docs).
    */
  def ngramBucketStats(docs: DataFrame, idCol: String = "id",
                       contentCol: String = "content", n: Int = 3,
                       threshold: Double = 0.8,
                       maxBucket: Int = 256): DataFrame = {
    val members = exactMembers(docs, idCol, contentCol)
    val shh = repDocs(docs, members, idCol, contentCol).select(
      col("id"),
      HashFunctions.hashedSet(
        TextFunctions.shingles(TextFunctions.tokens(col("content")), n)).as("shh"))
    bucketStatsOf(prefixRows(shh, threshold, dfOrdered = false), Seq("g"), maxBucket)
  }

  // -------------------------------------------------------------------------
  // Exact n-gram CONTAINMENT (asymmetric set-similarity join)
  // -------------------------------------------------------------------------

  /** X125: EXACT asymmetric near-SUBSET pairs — ordered (id, in_id) rows
    * where containment C(A→B) = |S(A)∩S(B)| / |S(A)| ≥ `threshold` over
    * distinct word n-gram shingles (Broder's containment). This is the
    * duplication mode symmetric Jaccard structurally MISSES: a document
    * wrapped in boilerplate, a quoted article inside a longer page, a
    * snippet re-posted under navigation chrome — |A∩B|/|A∪B| collapses as
    * |B|/|A| grows even when A is copied verbatim, so [[ngramJaccardPairs]]
    * never fires, while C(A→B) stays 1. Output (id, in_id, containment,
    * jaccard), id ≠ in_id, both sides' shingle sets non-empty; both
    * directions of a pair are evaluated (and reported) independently.
    *
    * Candidates by the containment prefix filter: order each doc's hashed
    * shingles by a GLOBAL total order; if C(A→B) ≥ t, at most ⌊(1−t)·|A|⌋
    * of A's shingles miss B, so A's first ⌊(1−t)·|A|⌋+1 shingles of that
    * order must hit B — probe rows are A-prefixes, but the INDEX side must
    * carry every shingle of every doc (asymmetry has no B-prefix theorem).
    * Verification is exact: `array_intersect` over the two hashed sets
    * (both distinct-sorted longs), containment and Jaccard derived from
    * the same integer intersection. `sz_a`/`sz_b` (the shingle-set sizes)
    * ride along so consumers like [[dropContained]] can order pairs by
    * coverage without re-shingling.
    *
    * `dfOrdered` defaults TRUE here (the opposite of [[ngramJaccardPairs]])
    * because the index side is the full inverted shingle list — the
    * candidate count is Σ_g df_probe(g)·df_index(g) and a rarest-first
    * prefix divides it where a smallest-hash prefix lands on corpus-hot
    * shingles. Shingles with index df > `maxBucket` are DROPPED from the
    * index (the capped-bucket analogue for an asymmetric join, where star
    * edges have no meaning): a qualifying pair is lost only when EVERY
    * prefix shingle of its probe side that is SHARED WITH that index doc
    * is corpus-hot (an unshared rare shingle in the prefix does not save
    * the pair — and rarest-first ordering preferentially fills the prefix
    * with exactly the probe's unshared junk, e.g. a typo shingle, so size
    * the cap from the SHARED-shingle df profile, not the per-doc-rarest
    * one). The trade is the X83 `blockCols` kind: documented,
    * parameter-visible, and off at `maxBucket = Int.MaxValue`.
    *
    * Scale: probe rows ≈ (1−t)·Σ|S| + #docs, index rows = Σ|S| (the same
    * object as a postings store — linear, skinny (g, id) longs); ONE df
    * aggregate frame is threaded into both the ordering and the cap, so
    * the shared subtree is structurally identical and exchange reuse
    * fires; candidates deduplicate BEFORE verification, and each surviving
    * pair ships the two hashed sets exactly once. Nothing is quadratic in
    * the corpus; content never shuffles.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "id",
                       contentCol: String = "content", n: Int = 3,
                       threshold: Double = 0.8,
                       dfOrdered: Boolean = true,
                       maxBucket: Int = 4096): DataFrame =
    containmentVerified(docs, idCol, contentCol, n, threshold, dfOrdered,
      maxBucket, orientedOnly = false)

  /** Cap-sizing diagnostic for [[containmentPairs]] / [[dropContained]] —
    * the SHARED-shingle df profile the X125 contract says to size
    * `maxBucket` from (the per-doc-rarest profile is the wrong signal:
    * rarest-first ordering fills prefixes with each probe's unshared junk,
    * so what matters is how hot the shingles that actually land in probe
    * prefixes are on the INDEX side). One row:
    *
    *   - `probe_shingles` / `capped_shingles`: distinct shingles appearing
    *     in any probe prefix, and how many of those the cap drops from the
    *     index (df > `maxBucket`);
    *   - `probe_rows`: total prefix rows (≈ (1−t)·Σ|S| + #docs);
    *   - `candidates_kept` / `candidates_skipped`: Σ over probe rows of
    *     the row's index df, split by the cap — the exact pre-distinct
    *     candidate volume the join will (and won't) generate, self-hits
    *     included. `candidates_skipped / (kept + skipped)` is the recall
    *     exposure to read BEFORE committing a cap to a 100 TB run.
    *
    * Same prep and the same threaded df aggregate as the operators, so the
    * profile measures exactly the join that would run.
    */
  def containmentBucketStats(docs: DataFrame, idCol: String = "id",
                             contentCol: String = "content", n: Int = 3,
                             threshold: Double = 0.8,
                             dfOrdered: Boolean = true,
                             maxBucket: Int = 4096): DataFrame = {
    val withH = docs.select(
        col(idCol).as("id"),
        HashFunctions.hashedSet(TextFunctions.shingles(
          TextFunctions.tokens(col(contentCol)), n)).as("shh"))
      .filter(size(col("shh")) > 0)
    val inv = withH.select(col("id"), explode(col("shh")).as("g"))
    val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val probe = prefixRows(withH, threshold, dfOrdered,
      dfreqOpt = if (dfOrdered) Some(dfreq) else None)
    // coalesce: over an all-trivial corpus (no shingles anywhere) the
    // global agg sees zero rows and sum() is NULL — the contract (and the
    // x125c oracle, which COALESCEs) says 0
    probe.join(dfreq, "g")
      .agg(count_distinct(col("g")).as("probe_shingles"),
        count_distinct(when(col("__df") > maxBucket, col("g"))).as("capped_shingles"),
        count(lit(1)).as("probe_rows"),
        coalesce(sum(when(col("__df") <= maxBucket, col("__df")).otherwise(0L)),
          lit(0L)).as("candidates_kept"),
        coalesce(sum(when(col("__df") > maxBucket, col("__df")).otherwise(0L)),
          lit(0L)).as("candidates_skipped"))
  }

  /** Shared candidate→verify pipeline of [[containmentPairs]] /
    * [[dropContained]]. With `orientedOnly`, candidates are filtered to
    * the drop rule's orientation (strictly-larger target, or equal-size
    * smaller-id) BEFORE verification, using only the cheap (id, |S|)
    * projections — the sets themselves ship only for pairs that can
    * actually produce a drop, halving the expensive stage for the
    * curation path.
    */
  private def containmentVerified(docs: DataFrame, idCol: String,
                                  contentCol: String, n: Int,
                                  threshold: Double, dfOrdered: Boolean,
                                  maxBucket: Int,
                                  orientedOnly: Boolean): DataFrame = {
    requireThreshold(threshold)
    require(maxBucket >= 1, "maxBucket >= 1")
    val withH = docs.select(
        col(idCol).as("id"),
        HashFunctions.hashedSet(TextFunctions.shingles(
          TextFunctions.tokens(col(contentCol)), n)).as("shh"))
      .filter(size(col("shh")) > 0)
    val inv = withH.select(col("id"), explode(col("shh")).as("g"))
    val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val probe = prefixRows(withH, threshold, dfOrdered,
      dfreqOpt = if (dfOrdered) Some(dfreq) else None)
    // maxBucket == Int.MaxValue means OFF exactly: skip the cap join
    // entirely (df is a Long count, so a `__df <= Int.MaxValue` filter
    // would still silently drop a shingle hotter than 2^31 at the 100 TB
    // design point — and the uncapped path shouldn't pay the join anyway)
    val index =
      if (maxBucket == Int.MaxValue) inv.select(col("g"), col("id").as("in_id"))
      else inv.join(dfreq.filter(col("__df") <= maxBucket), "g")
        .select(col("g"), col("id").as("in_id"))
    val cand0 = probe.join(index, Seq("g"))
      .filter(col("id") =!= col("in_id"))
      .select(col("id"), col("in_id"))
      .distinct()
    val sizes = withH.select(col("id"), size(col("shh")).as("__sz"))
    val cand =
      if (!orientedOnly) cand0
      else cand0
        .join(sizes.select(col("id"), col("__sz").as("__za")), Seq("id"))
        .join(sizes.select(col("id").as("in_id"), col("__sz").as("__zb")), Seq("in_id"))
        .filter(col("__zb") > col("__za") ||
          (col("__zb") === col("__za") && col("in_id") < col("id")))
        .select(col("id"), col("in_id"))
    cand
      .join(withH.select(col("id"), col("shh").as("__sa")), Seq("id"))
      .join(withH.select(col("id").as("in_id"), col("shh").as("__sb")), Seq("in_id"))
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("double"))
      .withColumn("containment", col("__i") / size(col("__sa")))
      .filter(col("containment") >= threshold)
      .select(col("id"), col("in_id"), col("containment"),
        (col("__i") / (size(col("__sa")) + size(col("__sb")) - col("__i")))
          .as("jaccard"),
        size(col("__sa")).as("sz_a"), size(col("__sb")).as("sz_b"))
  }

  /** X125b: one-call containment CURATION — drop every document whose
    * shingle set is ≥ `threshold` contained in some STRICTLY-LARGER
    * document's set (larger by |S|; equal sizes tie-break on smaller id,
    * so byte-identical twins keep exactly one). Returns the surviving doc
    * rows, schema passthrough.
    *
    * The rule is deliberately PAIRWISE, not survivor-recursive: A drops
    * when evidence exists that a bigger B covers it, even if B itself
    * drops into some C — containment is NOT transitive, so a
    * survivor-recursive rule would need iteration to a fixpoint with no
    * better guarantee (C(A→C) can be arbitrarily low while C(A→B) and
    * C(B→C) are both 1 − ε). The pairwise rule is deterministic, one
    * pass, and exactly the "strip snippets/quotes/boilerplate-wrapped
    * copies" curation step; run [[dedupCorpus]] first if byte-level and
    * symmetric near-dup mass should collapse before coverage reasoning.
    *
    * Scale: [[containmentPairs]]' pipeline with the orientation applied to
    * CANDIDATES (cheap (id, |S|) joins) before verification — only pairs
    * that can produce a drop ship their sets — plus one DISTINCT over
    * dropped ids and one left-anti join against the docs. Nothing new
    * shuffles content. The dedup-first precondition is LOAD-BEARING, not
    * just semantic hygiene: on a k-fold-duplicated corpus every doc's
    * prefix shingles hit its k−1 siblings, so the candidate distinct is
    * O(docs × k) — measured at 2M docs with k=400, ~5.6B pre-distinct
    * rows overflowed ~75 GB of shuffle-spill disk. After near-dedup, k≈1
    * and candidates are driven by genuine cross-doc overlap only.
    *
    * That precondition is ENFORCED, not just documented: a pre-probe
    * measures the largest byte-identical content group (one sha2 scan +
    * a skinny map-side-combined count — the [[exactDuplicates]] key) and
    * fails fast with guidance when it exceeds `maxDupGroup`, BEFORE the
    * O(docs × k) join is launched. The probe sees only exact duplication
    * (the measured failure mode); heavy NEAR-duplication without a single
    * identical byte-group can still inflate candidates — the probe is a
    * guard rail, not a cost model. `maxDupGroup = Int.MaxValue` disables
    * it for callers who know their corpus.
    */
  def dropContained(docs: DataFrame, idCol: String = "id",
                    contentCol: String = "content", n: Int = 3,
                    threshold: Double = 0.8,
                    dfOrdered: Boolean = true,
                    maxBucket: Int = 4096,
                    maxDupGroup: Int = 16): DataFrame = {
    require(maxDupGroup >= 1, "maxDupGroup >= 1")
    if (maxDupGroup != Int.MaxValue) {
      // only SHINGLED docs can explode candidates — a doc with < n tokens
      // has an empty shingle set and is filtered before the join, so
      // duplicated trivial/empty/NULL contents are no hazard and must not
      // trip the guard (they'd be a false-positive crash on a working input)
      val worst = docs
        .filter(size(TextFunctions.tokens(col(contentCol))) >= n)
        .groupBy(sha2(col(contentCol), 256)).agg(count(lit(1)).as("__k"))
        .agg(max(col("__k"))).head()
      val k = if (worst.isNullAt(0)) 0L else worst.getLong(0)
      require(k <= maxDupGroup,
        s"dropContained: the corpus has a byte-identical duplicate group of " +
          s"$k docs (> maxDupGroup = $maxDupGroup). Candidate generation is " +
          s"O(docs × group) on duplicated corpora — run dedupCorpus/" +
          s"exactDuplicates first (measured: ~5.6B candidate rows / ~75 GB " +
          s"shuffle spill at 2M docs with 400-fold duplication), or pass " +
          s"maxDupGroup = Int.MaxValue to override.")
    }
    val dropKey = WorkingColumns.fresh(docs, "__drop_id")
    val dropped = containmentVerified(docs, idCol, contentCol, n, threshold,
        dfOrdered, maxBucket, orientedOnly = true)
      .select(col("id").as(dropKey))
      .distinct()
    docs.join(dropped, docs(idCol) === col(dropKey), "left_anti")
  }

  /** Exact-Jaccard verification of an externally-produced candidate pair
    * frame (id_a, id_b) against the docs — for callers composing their own
    * candidate generation. Joins the hashed shingle sets per side; prefer the
    * in-bucket operators above when candidates ≫ docs.
    */
  def verifyJaccardPairs(candidates: DataFrame, docs: DataFrame,
                         idCol: String = "id", contentCol: String = "content",
                         n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val shh = docs.select(col(idCol).as("id"),
      HashFunctions.hashedSet(
        TextFunctions.shingles(TextFunctions.tokens(col(contentCol)), n)).as("shh"))
    joinPayloads(candidates, shh, "shh")
      .withColumn("jaccard", HashFunctions.sortedJaccard(col("shh_a"), col("shh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------------------
  // Duplicate clustering
  // -------------------------------------------------------------------------

  /** Connected components over a near-duplicate pair graph: (id, cluster)
    * where cluster = the smallest id reachable from `id` (only ids that
    * appear in a pair are returned). Alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round re-points edges at the minimum of a
    * node's neighborhood, which contracts any component to a star around its
    * min id in O(log n) rounds REGARDLESS of diameter — min-label
    * propagation (the previous implementation) needs O(diameter) rounds and
    * silently mislabels long drift chains when capped. Both star steps are
    * window-min + filter over the edge frame: no per-node neighbor list is
    * ever materialized, so a mega-component cannot blow a task. Throws if
    * `maxIter` rounds don't reach the fixpoint. Strictly cluster-minimal,
    * unlike the greedy `dropNearDups`.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    starRounds(pairs, maxIter)._1

  /** [[dupClusters]] plus the number of non-root ids in its output — the
    * final round's edge count, already known from the convergence digest.
    */
  private def starRounds(pairs: DataFrame, maxIter: Int): (DataFrame, Long) = {
    // Lineage MUST be truncated each round, not merely persisted: a cached
    // frame still carries its full logical plan, and an iterative
    // window+distinct round multiplies plan size ~8× per iteration —
    // measured at sf0.1, the round-2 plan tree is 5.9 MB of text and
    // Catalyst re-optimization of the final frame costs 10× the actual
    // shuffle work. checkpoint() when the session has a (cluster-reliable)
    // checkpoint dir, else localCheckpoint() (executor-local blocks).
    def truncated(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    // Free a SUPERSEDED round's localCheckpoint blocks immediately instead
    // of waiting for driver GC + ContextCleaner — a long-lived session
    // running many dedups would otherwise pin ~log2(n) edge frames per call
    // in executor storage. (Reliable checkpoint files are not deleted here:
    // that is spark.cleaner.referenceTracking.cleanCheckpoints's job.)
    def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    // Convergence is detected by DIGEST equality: (count, sum, xor) of
    // xxhash64(s, l) over the canonical edge set — ONE cheap scan-and-reduce
    // job on the already-checkpointed frame, replacing the two anti-join
    // probes per round (each a full shuffle join; measured as the dominant
    // per-round fixed cost — 4.5× total time for 2× edges at 2M docs, from
    // more rounds × heavier probes). Both sets are distinct by construction,
    // so equal digests over 64-bit hashes (sum AND xor must both match at
    // equal cardinality) imply set equality short of a ~2^-128 collision;
    // a false positive would stop one round early on an already-star-shaped
    // graph, never mislabel by construction of the star rounds' monotone
    // contraction toward the fixpoint.
    def digest(df: DataFrame): (Long, java.math.BigDecimal, Long) = {
      // sum leg runs in DECIMAL(38,0) — a long sum of 64-bit hashes
      // overflows (ANSI throws); 38 digits cannot at any real cardinality
      val r = df.select(xxhash64(col("s"), col("l")).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // canonical undirected edges as (s, l) with s < l
    var edges = truncated(pairs
      .select(least(col("id_a"), col("id_b")).as("s"),
        greatest(col("id_a"), col("id_b")).as("l"))
      .filter(col("s") =!= col("l"))
      .distinct())
    var edgesDigest = digest(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: from each node u's closed neighborhood (both edge
      // orientations), re-point every strictly-larger neighbor v at
      // m = min(N(u) ∪ {u}). Each undirected edge is emitted exactly once,
      // from its smaller endpoint's group, so |edges| never grows.
      val both = edges.select(col("s").as("u"), col("l").as("v"))
        .unionByName(edges.select(col("l").as("u"), col("s").as("v")))
      val large = both
        .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("s"), col("v").as("l"))
        .filter(col("s") =!= col("l"))
        .distinct()
      // SMALL-STAR: edges now point child l -> parent s (s < l). For each l,
      // re-point its parents (and l itself) at m = min(parents).
      val withMin = large
        .withColumn("m", min(col("s")).over(Window.partitionBy(col("l"))))
      val small = truncated(withMin.filter(col("s") =!= col("m"))
        .select(col("m").as("s"), col("s").as("l"))
        .unionByName(withMin.select(col("m").as("s"), col("l")))
        .filter(col("s") =!= col("l"))
        .distinct())
      // fixpoint = the canonical edge set stopped changing — digest equality
      // (one aggregate scan over the fresh checkpoint vs the carried-over
      // previous digest; no join)
      val smallDigest = digest(small)
      converged = smallDigest == edgesDigest
      release(edges) // superseded round — small is eagerly materialized
      edges = small
      edgesDigest = smallDigest
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter star rounds; " +
          "raise maxIter (components need ~log2(n) rounds)")
    // at the fixpoint every component is a star rooted at its min id; the
    // returned frame reads the final round's checkpoint — no iterative
    // lineage beneath it
    (edges.select(col("l").as("id"), col("s").as("cluster"))
      .unionByName(edges.select(col("s").as("id"), col("s").as("cluster")).distinct()),
      edgesDigest._1)
  }

  /** The distributed cluster route shared by [[corpusClusters]] and the
    * over-bound arm of [[bandedClusters]]: exact pairs (rep, member) ∪
    * verified pairs of the representatives' LSH buckets (`repBanded`:
    * (id, band, bh) rows of representatives only; `payload`: (id, shh)) →
    * star rounds. Expanding the representative pairs over their exact
    * groups is skipped: every member is already joined to its rep, so the
    * expansion cannot change a component.
    */
  private def starClusters(members: DataFrame, repBanded: DataFrame,
                           payload: DataFrame, threshold: Double,
                           maxBucket: Int): (DataFrame, Long) = {
    val exact = members.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val near = jaccardSetStages(repBanded, Seq("band", "bh"), payload,
      threshold, maxBucket).pairs.select(col("id_a"), col("id_b"))
    starRounds(exact.unionByName(near), maxIter = 50)
  }

  // -------------------------------------------------------------------------
  // Corpus clusters from stored bands, components on the driver
  // -------------------------------------------------------------------------

  /** Largest collect [[bandedClusters]] takes to the driver: per row of a
    * multi-member bucket its id bytes + 12, per member doc its id bytes,
    * its 64-char content hash and 8 bytes per shingle. Above it the
    * clusters stay distributed. A fixed bound, as the IVF driver-training
    * gate ([[Ivf.driverTrainOk]]) bounds its sample.
    */
  private[graft] val DriverClusterMaxBytes: Long = 64L << 20

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[corpusClusters]] at shingle size `n` from rows that are ALREADY
    * banded — `banded` is (id, band, bh), the stored dedup index or
    * [[bandedSignatureRows]] of `docs` (id, content) — so the corpus is not
    * re-shingled or re-banded. Same semantics: exact collapse to the min
    * id per content hash, buckets over representatives only, buckets over
    * `maxBucket` degrade to star edges, cluster = min reachable id in
    * Spark's string order. Band rows whose id is not in `docs` (crash
    * residue) are dropped.
    *
    * Left: when the rows of the multi-member buckets and their members'
    * hashes and shingle sets fit `maxDriverBytes` (see
    * [[DriverClusterMaxBytes]]), they are collected, verified with
    * [[graft.functions.SortedJaccard]] and unioned on the driver, giving
    * id → cluster for every clustered id. Right: otherwise the
    * [[starClusters]] frame (id, cluster) and its number of non-root ids;
    * that fallback logs the measured bytes and the bound at INFO.
    */
  private[graft] def bandedClusters(docs: DataFrame, banded: DataFrame, n: Int,
                                    threshold: Double, maxBucket: Int = 256,
                                    maxDriverBytes: Long = DriverClusterMaxBytes):
      Either[Map[String, String], (DataFrame, Long)] = {
    requireThreshold(threshold)
    require(maxBucket >= 1, "maxBucket >= 1")
    // rows of the buckets holding 2+ ids. Exact copies share every bucket,
    // so each doc with a copy is among them: the exact collapse needs no
    // corpus-wide hash shuffle, only the members' hashes
    val cand = banded.select(col("id"), col("band"), col("bh"))
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("__sz") > 1)
    val payload = docs.join(cand.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), sha2(col("content"), 256).as("h"),
        shingleSet(col("content"), n).as("shh"))
    // ONE collectable frame: bucket rows (kind 0) and member payloads (kind 1)
    val rows = cand.select(lit(0).as("kind"), col("id"), col("band"), col("bh"),
        lit(null).cast("string").as("h"), lit(null).cast("array<bigint>").as("shh"),
        (octet_length(col("id")) + 12L).as("bytes"))
      .unionByName(payload.select(lit(1).as("kind"), col("id"),
        lit(null).cast("int").as("band"), lit(null).cast("long").as("bh"), col("h"),
        col("shh"), (octet_length(col("id")) + 64L + size(col("shh")) * 8L).as("bytes")))
      .persist()
    try {
      val r = rows.agg(sum(col("bytes"))).head()
      val bytes = if (r.isNullAt(0)) 0L else r.getLong(0)
      if (bytes <= maxDriverBytes) Left(driverClusters(rows.collect(), threshold, maxBucket))
      else {
        log.info(s"dedup clusters stay distributed: $bytes candidate bytes " +
          s"exceed the driver bound of $maxDriverBytes")
        val exact = exactMembers(docs, "id", "content")
        val repBanded = banded.select(col("id"), col("band"), col("bh"))
          .join(exact.filter(col("id") === col("rep")).select(col("id")), Seq("id"), "left_semi")
        Right(starClusters(exact, repBanded,
          docs.select(col("id"), shingleSet(col("content"), n).as("shh")),
          threshold, maxBucket))
      }
    } finally rows.unpersist()
  }

  /** The driver arm of [[bandedClusters]] over its collected rows. A pair
    * already in one component is not verified: the edge could not change
    * the components.
    */
  private def driverClusters(rows: Array[org.apache.spark.sql.Row], threshold: Double,
                             maxBucket: Int): Map[String, String] = {
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[String]]
    val hashes = mutable.HashMap.empty[String, Option[String]]
    val sets = mutable.HashMap.empty[String, Array[Long]]
    rows.foreach { r =>
      val id = r.getString(1)
      if (r.getInt(0) == 0)
        buckets.getOrElseUpdate((r.getInt(2), r.getLong(3)), mutable.ArrayBuffer.empty[String]) += id
      else {
        hashes(id) = Option(r.getString(4)) // null content: one group, as in exactMembers
        if (!r.isNullAt(5)) sets(id) = r.getSeq[Long](5).toArray
      }
    }
    val uf = new UnionFind
    // exact collapse: each content group joins its min id, the representative
    val repOf = hashes.groupBy(_._2).valuesIterator.flatMap { g =>
      val rep = g.keys.min(SparkStringOrder)
      g.keys.map { id => uf.union(rep, id); id -> rep }
    }.toMap
    def verify(a: String, b: String): Unit =
      if (uf.find(a) != uf.find(b)) (sets.get(a), sets.get(b)) match {
        case (Some(x), Some(y)) if SortedJaccard.atLeast(x, y, threshold) >= 0.0 =>
          uf.union(a, b)
        case _ =>
      }
    // buckets over representatives (ids absent from docs have no rep);
    // identical member sets — a tight cluster colliding in many bands —
    // are verified once
    buckets.valuesIterator
      .map(_.flatMap(repOf.get).distinct.sorted(SparkStringOrder).toVector)
      .filter(_.size > 1).toSet
      .foreach { (ms: Vector[String]) =>
        if (ms.size <= maxBucket)
          for (i <- ms.indices; j <- i + 1 until ms.size) verify(ms(i), ms(j))
        else ms.tail.foreach(verify(ms.head, _)) // star edges from the min id
      }
    uf.clusters
  }

  /** Spark's string order (unsigned UTF-8 bytes), so driver-side min ids
    * equal `min`/`sort_array` over the id column.
    */
  private[graft] val SparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  /** Driver-side union-find whose roots are the minimum id of each
    * component ([[SparkStringOrder]]) — [[dupClusters]]' contract: only ids
    * that took part in a union (with another id) appear in [[clusters]].
    */
  private[graft] final class UnionFind {
    private val parent = mutable.HashMap.empty[String, String]

    def find(x: String): String = {
      var root = x
      var up = parent.getOrElse(root, root)
      while (up != root) { root = up; up = parent.getOrElse(root, root) }
      var y = x // path compression
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }

    def union(a: String, b: String): Unit = if (a != b) {
      val (ra, rb) = (find(a), find(b))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      if (ra != rb) {
        if (SparkStringOrder.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    /** id → component root for every id that took part in a union. */
    def clusters: Map[String, String] = parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Duplicate-cluster size histogram — the dedup AUDIT report read before
    * committing a removal pass: per cluster size, how many clusters and how
    * many docs sit in them (`n_docs − n_clusters` of each row is the mass a
    * keep-one pass would drop). Covers CLUSTERED docs only (size ≥ 2 by
    * construction — singletons have no pairs); compare `sum(n_docs)` to the
    * corpus count for the untouched remainder.
    *
    * Scale: [[dupClusters]]' O(log n) rounds, then two skinny aggs — the
    * histogram frame is |distinct sizes| rows.
    */
  def clusterStats(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    dupClusters(pairs, maxIter)
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  // -------------------------------------------------------------------------
  // SimHash near-duplicates
  // -------------------------------------------------------------------------

  /** (id, simhash) per doc — 64-bit MD5-derived SimHash over the token
    * multiset (see [[graft.functions.SimHash64]]). Pure scan.
    */
  def simHashes(docs: DataFrame, idCol: String = "id",
                contentCol: String = "content"): DataFrame =
    docs.select(col(idCol).as("id"),
      HashFunctions.simHash64(TextFunctions.tokens(col(contentCol))).as("simhash"))

  /** Near-duplicate pairs with Hamming distance ≤ `maxHamming` between
    * 64-bit SimHashes. Banding on `maxHamming+1` equal-width bit chunks —
    * by pigeonhole two hashes within the distance bound agree on ≥1 chunk,
    * so candidate recall is EXACT (1.0) up to the bucket cap; verification
    * filters on the true Hamming distance inside the chunk join. Exact
    * duplicates are collapsed first (identical content → identical SimHash →
    * distance 0, always a pair) and expanded after. One shuffle on
    * (chunk index, chunk value).
    */
  def simHashDupPairs(docs: DataFrame, idCol: String = "id",
                      contentCol: String = "content",
                      maxHamming: Int = 3,
                      maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val chunks = maxHamming + 1
    val width = 64 / chunks // trailing bits join the last chunk
    val members = exactMembers(docs, idCol, contentCol)
    val hashes = simHashes(repDocs(docs, members, idCol, contentCol))
    val chunkCols = array((0 until chunks).map { c =>
      val shifted = shiftright(col("simhash"), c * width)
      if (c == chunks - 1) shifted // top chunk keeps all remaining bits
      else shifted.bitwiseAND(lit((1L << width) - 1))
    }: _*)
    val banded = hashes.select(col("id"), col("simhash"),
      posexplode(chunkCols).as(Seq("chunk", "cv")))
    val repPairs = bucketJoin(banded, Seq("chunk", "cv"), Seq("simhash"), maxBucket)
      .select(col("id_a"), col("id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // identical content -> identical SimHash -> hamming 0, always qualifies
    val selfQ = members.select(col("rep")).distinct().withColumn("hamming", lit(0L))
    expandExact(repPairs, members, selfQ, "hamming")
  }

  /** X123: perceptual near-duplicate MEDIA pairs — re-encoded/perturbed
    * copies of an image land within `maxHamming` bits of the original's
    * 64-bit dHash ([[graft.ext.PerceptualHasher]]; the shipped
    * [[graft.ext.ByteDHash]] is the sanctioned stub codec with the same
    * locality property over byte-level media stand-ins). Candidates by
    * SimHash-style pigeonhole banding (X3): the hash splits into
    * `maxHamming + 1` chunks, and any two hashes within the bound agree on
    * ≥ 1 chunk, so only chunk-colliding pairs verify (exact popcount on the
    * XOR). Same capped [[bucketJoin]] contract as the other detectors —
    * buckets over `maxBucket` degrade to star edges. Output
    * (id_a, id_b, hamming INT), a < b, distinct. NULL-media and DEGENERATE
    * blobs (empty/constant — the hasher returns no hash) never pair: a
    * zero-signal hash would both false-positive unrelated padding blobs
    * and form a mega-bucket.
    *
    * 100 TB: hashing is a bounded-batch scan (8 bytes out per blob — the
    * media bytes never shuffle); banding shuffles (chunk, cv, id, phash)
    * skinny rows only; verification is in-bucket popcount.
    */
  def perceptualDupPairs(media: DataFrame, idCol: String = "id",
                         mediaCol: String = "media",
                         hasher: graft.ext.PerceptualHasher = graft.ext.ByteDHash,
                         maxHamming: Int = 3,
                         maxBucket: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val hashed = Multimodal.perceptualHash(
        media.select(col(idCol).as("id"), col(mediaCol).as("media")), hasher)
      .filter(col("phash").isNotNull)
      .select(col("id"), col("phash"))
    val chunks = maxHamming + 1
    val width = 64 / chunks // trailing bits join the last chunk
    val chunkCols = array((0 until chunks).map { c =>
      val shifted = shiftright(col("phash"), c * width)
      if (c == chunks - 1) shifted // top chunk keeps all remaining bits
      else shifted.bitwiseAND(lit((1L << width) - 1))
    }: _*)
    val banded = hashed.select(col("id"), col("phash"),
      posexplode(chunkCols).as(Seq("chunk", "cv")))
    bucketJoin(banded, Seq("chunk", "cv"), Seq("phash"), maxBucket)
      .select(col("id_a"), col("id_b"),
        bit_count(col("phash_a").bitwiseXOR(col("phash_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------------------------------
  // Embedding-cosine near-duplicates
  // -------------------------------------------------------------------------

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`.
    *
    * Candidates come from random-hyperplane LSH buckets ([[Ann.lshTables]]):
    * only vectors sharing a bucket in ≥1 table are compared. The bucket
    * shuffle is skinny — (table, bucket, id) only — and verification uses
    * BUCKET-CONTENT COLLECTION (the same shape as the MinHash/n-gram
    * family): buckets collect their sorted member-id lists, identical member
    * sets across tables deduplicate BEFORE any pair work, embeddings then
    * join once per (set, member) and ride to the set row (bounded: ≤
    * maxBucket members × dim floats), and a native generator
    * ([[graft.functions.BucketCosinePairs]]) verifies all pairs INSIDE the
    * set row — candidate pairs never materialize, and no embedding crosses
    * the wire more than once per set membership. With `numTables` tables of
    * `numPlanes` hyperplanes, P[miss] =
    * (1 − (1 − θ/π)^numPlanes)^numTables for angle θ. Buckets over
    * `maxBucket` degrade to star edges (see the object doc). Set
    * `numTables = 0` for the exact all-pairs variant (correctness baseline /
    * small dimensions only).
    */
  def embeddingDupPairs(df: DataFrame, idCol: String = "id",
                        embCol: String = "embedding", threshold: Double = 0.9,
                        numTables: Int = 8, numPlanes: Int = 12,
                        dim: Int = 64, seed: Long = 42L,
                        maxBucket: Int = 4096): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .filter(col("emb").isNotNull)
    if (numTables <= 0)
      base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          VectorFunctions.cosine(col("a.emb"), col("b.emb")).as("cos"))
        .filter(col("cos") >= threshold)
    else {
      val buckets = base
        .select(col("id"),
          posexplode(Ann.lshBucketCol(col("emb"), numTables, numPlanes, dim, seed))
            .as(Seq("table", "bucket")))
        .select(col("table"), col("bucket"), col("id"))
      // size every bucket first so a mega-bucket routes to the star path
      // without ever materializing as one collected row (same discipline as
      // verifiedJaccardSetPairs)
      val w = Window.partitionBy(col("table"), col("bucket"))
      val sized = buckets
        .withColumn("__sz", count(lit(1)).over(w))
        .withColumn("__mn", min(col("id")).over(w))
      val sets = sized.filter(col("__sz") > 1 && col("__sz") <= maxBucket)
        .groupBy(col("table"), col("bucket"))
        .agg(sort_array(collect_list(col("id"))).as("ms"))
        .select(col("ms")).distinct()
      // same hash-set-id discipline as jaccardSetStages: ms is only the
      // grouping identity, so don't ship an m-element array m times
      val packed = sets
        .select(xxhash64(concat_ws(" ", col("ms"))).as("__sid"),
          explode(col("ms")).as("id"))
        .join(base, "id")
        .groupBy(col("__sid"))
        .agg(sort_array(collect_list(struct(col("id"), col("emb")))).as("docs"))
      val verified = packed.select(
        VectorFunctions.bucketCosinePairs(col("docs"), threshold)
          .as(Seq("id_a", "id_b", "cos")))
      val starPairs = sized.filter(col("__sz") > maxBucket && col("id") =!= col("__mn"))
        .select(col("__mn").as("id_a"), col("id").as("id_b"))
        .distinct()
      val starVerified = joinPayloads(starPairs, base, "emb")
        .select(col("id_a"), col("id_b"),
          VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cos"))
        .filter(col("cos") >= threshold)
      verified.unionByName(starVerified).dropDuplicates("id_a", "id_b")
    }
  }

  /** X132: cross-corpus embedding matches — every (corpus id, ref id, cos)
    * with cosine ≥ `threshold` against a REFERENCE frame of benchmark
    * embeddings. The SEMANTIC arm of decontamination: X20 catches n-gram
    * surface overlap, but a paraphrased or re-worded benchmark item only
    * shows up in embedding space. `numTables <= 0` = exact broadcast
    * cross-verify — the oracle-checkable arm (a benchmark suite is small
    * by nature and rides a broadcast; every corpus row pays |ref| codegen'd
    * cosines, so this arm is for small refs or ground-truthing).
    * `numTables > 0` = hyperplane-LSH bucketed candidates, cosine-verified
    * — recall < 1 by design (gate it like x5b/x132b: no false positives,
    * recall floor on a labeled set).
    *
    * Scale (LSH arm): the corpus never self-joins and its embeddings never
    * shuffle — the ref buckets BROADCAST with their vectors, and the cosine
    * is verified AT the bucket join, fused into the join pipeline: a hot
    * bucket degrades to extra codegen'd compute, never a materialized
    * candidate set or a payload shuffle, and only matched skinny
    * (id, ref_id, cos) rows reach the dedup exchange. Corpus-side
    * mega-buckets (> `maxBucket` rows — the cone-concentrated-encoder
    * shape) are additionally skipped per table via a broadcast anti-join
    * against a skinny second-pass hot list, the [[embeddingDupPairs]] cap
    * discipline: a member of a skipped bucket is still covered by its
    * OTHER tables, so the cap costs bounded recall (gated by x132b), not
    * correctness. NULL embeddings on either side never match (and
    * therefore never decontaminate).
    */
  def embeddingMatchesAgainst(corpus: DataFrame, ref: DataFrame,
                              threshold: Double, idCol: String = "id",
                              embCol: String = "embedding",
                              refIdCol: String = "ref_id",
                              refEmbCol: String = "embedding",
                              numTables: Int = 8, numPlanes: Int = 12,
                              dim: Int = 64, seed: Long = 42L,
                              maxBucket: Int = 4096): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .filter(col("emb").isNotNull)
    val r = ref.select(col(refIdCol).as("ref_id"), col(refEmbCol).as("ref_emb"))
      .filter(col("ref_emb").isNotNull)
    if (numTables <= 0)
      c.crossJoin(broadcast(r))
        .select(col("id"), col("ref_id"),
          VectorFunctions.cosine(col("emb"), col("ref_emb")).as("cos"))
        .filter(col("cos") >= threshold)
    else {
      // payload rides the exploded frames (×tables memory bandwidth in the
      // scan pipeline, nothing shuffles) — Ann.lshTables is the skinny
      // form of this projection
      def tables(df: DataFrame, idName: String, embName: String): DataFrame =
        df.select(col(idName), col(embName),
          posexplode(Ann.lshBucketCol(col(embName), numTables, numPlanes, dim, seed))
            .as(Seq("table", "bucket")))
      val hot = Ann.lshTables(c, "id", "emb", numTables, numPlanes, dim, seed)
        .groupBy(col("table"), col("bucket"))
        .agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") > maxBucket)
        .select(col("table"), col("bucket"))
      val cb = tables(c, "id", "emb")
        .join(broadcast(hot), Seq("table", "bucket"), "left_anti")
      val rb = tables(r, "ref_id", "ref_emb")
      cb.join(broadcast(rb), Seq("table", "bucket"))
        .select(col("id"), col("ref_id"),
          VectorFunctions.cosine(col("emb"), col("ref_emb")).as("cos"))
        .filter(col("cos") >= threshold)
        .dropDuplicates("id", "ref_id")
    }
  }

  /** X132 curation form: the corpus rows whose embedding matches NO
    * benchmark embedding at ≥ `threshold` — schema passthrough. Rows with
    * a NULL embedding cannot be screened and pass through (the same
    * missing-field-never-drops convention as the X129 blocklist).
    */
  def semanticDecontaminate(corpus: DataFrame, ref: DataFrame,
                            threshold: Double = 0.9, idCol: String = "id",
                            embCol: String = "embedding",
                            refIdCol: String = "ref_id",
                            refEmbCol: String = "embedding",
                            numTables: Int = 8, numPlanes: Int = 12,
                            dim: Int = 64, seed: Long = 42L,
                            maxBucket: Int = 4096): DataFrame = {
    val hitCol = WorkingColumns.fresh(corpus, "__hit_id")
    val hit = embeddingMatchesAgainst(corpus, ref, threshold, idCol, embCol,
        refIdCol, refEmbCol, numTables, numPlanes, dim, seed, maxBucket)
      .select(col("id").as(hitCol)).distinct()
    corpus.join(hit, corpus(idCol) === col(hitCol), "left_anti")
  }

  // -------------------------------------------------------------------------
  // Semantic dedup (SemDeDup)
  // -------------------------------------------------------------------------

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023):
    * k-means-cluster the embedding space ([[Ivf.build]]'s bounded-sample
    * Lloyd training), then verify exact cosine ≥ `threshold` WITHIN each
    * cluster only — the candidate generator is the cluster assignment, so
    * total pair work is Σ cluster² instead of n². Pairs whose members land
    * in different clusters are missed by design (that is the approximation);
    * every emitted pair is exactly verified, so there are no false
    * positives. `numClusters = 1` degenerates to the exact all-pairs
    * baseline.
    *
    * Scale shape mirrors [[embeddingDupPairs]]: centroid training reads a
    * bounded sample; assignment is a zero-shuffle broadcast-centroid scan;
    * clusters collect their member-id sets (one skinny (cluster, id)
    * shuffle), embeddings join once per membership, and a native generator
    * emits verified pairs inside the set row. Clusters over `maxBucket`
    * degrade to star edges (min-id hub) — at SemDeDup's operating point
    * (numClusters ≈ n / 10³..10⁴) real clusters sit far below the cap.
    */
  def semanticDupPairs(df: DataFrame, idCol: String = "id",
                       embCol: String = "embedding", threshold: Double = 0.9,
                       numClusters: Int = 64, iters: Int = 5,
                       maxSample: Int = 100000, seed: Long = 42L,
                       maxBucket: Int = 4096): DataFrame = {
    require(numClusters >= 1, "numClusters >= 1")
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .filter(col("emb").isNotNull)
    val assigned = Ivf.build(base, "id", "emb", k = numClusters, iters = iters,
      maxSample = maxSample, seed = seed).assignments
    val w = Window.partitionBy(col("cluster"))
    val sized = assigned
      .withColumn("__sz", count(lit(1)).over(w))
      .withColumn("__mn", min(col("id")).over(w))
    // clusters partition the id space, so member sets are distinct by
    // construction — no cross-table set dedup needed (unlike the LSH path)
    val packed = sized.filter(col("__sz") > 1 && col("__sz") <= maxBucket)
      .select(col("cluster"), col("id"))
      .join(base, "id")
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(struct(col("id"), col("emb")))).as("docs"))
    val verified = packed.select(
      VectorFunctions.bucketCosinePairs(col("docs"), threshold)
        .as(Seq("id_a", "id_b", "cos")))
    val starPairs = sized.filter(col("__sz") > maxBucket && col("id") =!= col("__mn"))
      .select(col("__mn").as("id_a"), col("id").as("id_b"))
    val starVerified = joinPayloads(starPairs, base, "emb")
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= threshold)
    // disjoint clusters -> pairs are unique; no dropDuplicates pass needed
    verified.unionByName(starVerified)
  }

  /** The deduplicated corpus under [[semanticDupPairs]]: drops the
    * higher-id side of every verified in-cluster pair (deterministic
    * keep-lowest-id policy, same as [[dropNearDups]] everywhere else).
    */
  def semanticDedup(df: DataFrame, idCol: String = "id",
                    embCol: String = "embedding", threshold: Double = 0.9,
                    numClusters: Int = 64, iters: Int = 5,
                    maxSample: Int = 100000, seed: Long = 42L,
                    maxBucket: Int = 4096): DataFrame =
    dropNearDups(df, semanticDupPairs(df, idCol, embCol, threshold,
      numClusters, iters, maxSample, seed, maxBucket), idCol)
}
