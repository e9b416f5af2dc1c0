package graft.ext

import graft.GraftConf
import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Top-`nprobe` nearest centroids of an ARRAY<FLOAT> embedding, by dot
  * product against UNIT-NORM centroids (== cosine ranking, since the
  * query norm is a per-row constant). The centroid table rides inside the
  * expression — broadcast once with the task closure (k×dim floats, e.g.
  * 256×64 = 64 KB), so assignment is a pure scan: zero shuffle over the
  * corpus, the 100 TB property the IVF build needs.
  *
  * Output: ARRAY<INT> of centroid ids, best first; ties broken by lower id.
  * `nprobe = 1` is cluster assignment.
  */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Float]],
                            nprobe: Int)
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  require(nprobe >= 1 && nprobe <= centroids.size, "1 <= nprobe <= #centroids")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val cents: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val k = cents.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val m = math.min(n, cent.length)
      var dot = 0.0
      var i = 0
      while (i < m) { dot += xs.getFloat(i).toDouble * cent(i); i += 1 }
      scores(c) = dot
      c += 1
    }
    // partial selection: nprobe is small (<= k), repeated argmax is O(k·nprobe)
    val out = new Array[Int](nprobe)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < nprobe) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        if (!taken(i) && scores(i) > bestScore) { best = i; bestScore = scores(i) }
        i += 1
      }
      if (best < 0) {
        // all remaining scores are NaN (a NaN embedding component poisons
        // every dot product) — fall back to the lowest untaken id so a bad
        // vector degrades to an arbitrary-but-valid assignment instead of
        // crashing the scan (the LSH path tolerates NaN the same way)
        var f = 0
        while (taken(f)) f += 1
        best = f
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  // codegen: assignment scans the whole corpus at build and every upsert
  // batch — same dot-scores + repeated-argmax (strict->, NaN fallback to
  // lowest untaken id) as nullSafeEval, centroids as a reference object.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    val nprobeV = nprobe
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val scores = ctx.freshName("scores"); val c = ctx.freshName("c")
      val cent = ctx.freshName("cent"); val m = ctx.freshName("m")
      val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val taken = ctx.freshName("taken")
      val j = ctx.freshName("j"); val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore"); val f = ctx.freshName("f")
      s"""
         |int $n = $xs.numElements();
         |int $k = $centsRef.length;
         |double[] $scores = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  float[] $cent = $centsRef[$c];
         |  int $m = java.lang.Math.min($n, $cent.length);
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $dot += (double) $xs.getFloat($i) * (double) $cent[$i];
         |  }
         |  $scores[$c] = $dot;
         |}
         |int[] $out = new int[$nprobeV];
         |boolean[] $taken = new boolean[$k];
         |for (int $j = 0; $j < $nprobeV; $j++) {
         |  int $best = -1;
         |  double $bestScore = Double.NEGATIVE_INFINITY;
         |  for (int $i = 0; $i < $k; $i++) {
         |    if (!$taken[$i] && $scores[$i] > $bestScore) {
         |      $best = $i; $bestScore = $scores[$i];
         |    }
         |  }
         |  if ($best < 0) {
         |    int $f = 0;
         |    while ($taken[$f]) $f++;
         |    $best = $f;
         |  }
         |  $taken[$best] = true;
         |  $out[$j] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** IVF (inverted-file) approximate nearest neighbor — the classic
  * centroid-partitioned index (FAISS IVFFlat family): spherical k-means
  * centroids over a bounded sample, every corpus vector assigned to its
  * nearest centroid's posting list, probes rerank only the `nprobe`
  * closest lists with the exact codegen'd cosine.
  *
  * Scale shape (new-scope per BASELINE.json; complements the
  * random-hyperplane [[Ann]]/[[LshIndex]] path — IVF adapts to the data
  * distribution where LSH is data-oblivious):
  *   - TRAIN on a seeded sample capped at `maxSample` rows — k-means cost is
  *     bounded regardless of corpus size (the FAISS practice).
  *   - Each Lloyd round: assignment is a zero-shuffle scan (centroids ride
  *     in [[NearestCentroids]]); the mean update is one map-side-combined
  *     groupBy over (cluster, dim) partial sums of the SAMPLE only.
  *   - BUILD: one zero-shuffle scan of the full corpus.
  *   - PROBE: literal `cluster IN (…)` predicates (bounded: ≤ queries ×
  *     nprobe) — against a cluster-clustered store they prune row groups,
  *     so probe I/O ∝ probed lists, not corpus.
  */
object Ivf {

  def nearestCentroidCol(emb: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column =
    // cast like Ann.lshBucketCol / VectorFunctions.cosine: the expression
    // reads with getFloat, and an ARRAY<DOUBLE> input would otherwise score
    // garbage bytes — every row assigned an essentially random cluster while
    // the (correctly cast) rerank keeps sims looking sane: silent recall
    // collapse, no error
    Bridge.column(NearestCentroids(
      Bridge.expression(emb.cast(ArrayType(FloatType))), centroids, nprobe))

  private def normalized(v: Array[Double]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    (if (n == 0.0) v else v.map(_ / n)).map(_.toFloat).toSeq
  }

  /** Driver-side nearest-centroid ids for one query vector (tiny: k×dim). */
  def nearestCentroidIds(q: Seq[Float], centroids: Seq[Seq[Float]], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (c.lazyZip(q.take(c.size)).map((a, b) => a.toDouble * b).sum, i)
    }.sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)

  /** The `maxSample` rows with the smallest `(murmur3(emb, seed), emb)` key
    * — exactly the selection `orderBy(hash, emb).limit(maxSample)` makes,
    * WITHOUT ever sorting the corpus. A `limit` above
    * `spark.sql.execution.topKSortFallbackThreshold` (default 10,000) does
    * not plan as TakeOrderedAndProject: it falls back to a full
    * range-shuffle sort of every row followed by a single-partition limit —
    * at 100 TB that is the whole embedding column through one global sort.
    * Instead: one count picks a hash cutoff expected to admit ~4×maxSample
    * survivors, the cutoff predicate rides the scan as a plain filter, and
    * only the O(maxSample) survivors are sorted (cutoff widens ×16 and
    * retries in the statistically-rare under-admit case; any run whose
    * survivor count reaches the target provably contains the global
    * smallest-`maxSample` set, so the selection is identical to the
    * global-sort spec). Cost at any scale: two scans + a bounded sort.
    */
  private[graft] def boundedSample(corpus: DataFrame, embCol: String,
                                 sampleFraction: Double, maxSample: Int,
                                 seed: Long): DataFrame = {
    val base0 = corpus.select(col(embCol).as("emb")).filter(col("emb").isNotNull)
    val base = if (sampleFraction < 1.0)
      base0.sample(withReplacement = false, sampleFraction, seed) else base0
    val withH = base.withColumn("h", hash(col("emb"), lit(seed)))
    val total = withH.count()
    val target = math.min(total, maxSample.toLong)
    val fullSpan = 4294967296L // murmur3 output is ~uniform over the 2^32 int range
    var span = math.min(fullSpan,
      math.max(1L, math.ceil(4.0 * target / math.max(1L, total) * fullSpan).toLong))
    def survivorsFor(span: Long): DataFrame = {
      val cutoff = if (span >= fullSpan) Int.MaxValue
                   else (Int.MinValue.toLong + span - 1L).toInt
      withH.filter(col("h") <= lit(cutoff))
    }
    var survivors = survivorsFor(span)
    while (span < fullSpan && survivors.count() < target) {
      span = math.min(fullSpan, span * 16L)
      survivors = survivorsFor(span)
    }
    survivors.orderBy(col("h"), col("emb")).limit(maxSample).select(col("emb"))
  }

  /** Spherical k-means over a seeded bounded sample of the corpus: unit-norm
    * centroids, cosine assignment, mean + renormalize update; an emptied
    * cluster keeps its previous centroid. Deterministic for a fixed
    * (corpus, k, iters, maxSample, seed) at the default `sampleFraction =
    * 1.0`: sample rows are hash-ordered before the init slice (via
    * [[boundedSample]] — hash-threshold prefilter, never a corpus-wide
    * sort) so partition order doesn't matter. With `sampleFraction < 1`,
    * Bernoulli sample MEMBERSHIP is seeded per partition — the selected
    * rows (and thus the centroids) depend on how the corpus is partitioned,
    * so rebuilds on a differently-partitioned read may differ; prefer
    * `maxSample` as the bounding knob when reproducibility matters.
    */
  def trainCentroids(corpus: DataFrame, embCol: String = "embedding",
                     k: Int = 256, iters: Int = 10,
                     sampleFraction: Double = 1.0, maxSample: Int = 100000,
                     seed: Long = 42L): Seq[Seq[Float]] = {
    require(k >= 1, "k >= 1")
    // Below this sample bound the Lloyd loop runs ON THE DRIVER after one
    // collect (r19 opt): the sample is ≤ maxSample vectors by construction,
    // so `iters` distributed rounds — each a full job over a persisted
    // ≤100k-row frame — collapse into one job plus local arithmetic (the
    // FAISS shape: coarse-quantizer training is a single-node step).
    // Assignment/update math is identical (dotMin argmax, ties → lower id,
    // NaN rows excluded, emptied cluster keeps its previous centroid,
    // sum + renormalize); the fp accumulation order becomes the sample's
    // hash order — deterministic for a fixed (corpus, params), and now
    // independent of the session's core count, where the distributed
    // reduce's round-robin partitioning made last-ulp sums a function of
    // defaultParallelism. Above the bound the distributed path is
    // unchanged.
    val sorted = boundedSample(corpus, embCol, sampleFraction, maxSample, seed)
      .persist()
    try {
      if (driverTrainOk(corpus, embCol, maxSample)) {
        val vecs = sorted.collect().map(_.getSeq[Float](0).toArray)
        return trainCentroidsVecs(vecs, k, iters)
      }
      val init = sorted.limit(k).collect()
        .map(r => normalized(r.getSeq[Float](0).map(_.toDouble).toArray))
      var cents: Seq[Seq[Float]] = init.toSeq
      if (cents.isEmpty)
        throw new IllegalArgumentException("trainCentroids: corpus has no embedded rows")
      // The bounded sort lands the sample in ONE output partition — spread
      // it so every Lloyd scan uses the whole cluster (determinism survives:
      // Spark sorts before round-robin repartitioning, and the reduction
      // below is partition-ordered, not shuffle-ordered).
      val sample = sorted.repartition(
        math.max(1, corpus.sparkSession.sparkContext.defaultParallelism)).persist()
      try {
        var it = 0
        while (it < iters) {
          val sums = lloydSums(sample, cents)
          cents = cents.zipWithIndex.map { case (old, c) =>
            val s = sums(c)
            if (s.isEmpty) old // emptied cluster: keep previous centroid
            else normalized(Array.tabulate(old.size)(d => if (d < s.length) s(d) else 0.0))
          }
          it += 1
        }
        cents
      } finally sample.unpersist()
    } finally sorted.unpersist()
  }

  /** Whether the driver-train arm is safe for this (corpus, maxSample):
    * the sample must fit BOTH the vector-count bound
    * (`spark.graft.ivf.driverTrainMaxVecs`, default 128k — the FAISS-shape
    * heuristic) and a dimensionality-aware BYTE budget
    * (`spark.graft.ivf.driverTrainMaxBytes`, default 256 MB ≈ maxSample ×
    * dim × 4B): a count-only bound admits a 128k × 4096-d sample — ~2 GB
    * of driver heap — while 384-d fixtures stay comfortably inside (r20,
    * r19 verdict's dim-blind-bound item). The dim probe is ONE limit-1
    * scan of the corpus, paid only when the count bound already passed
    * (i.e. once per index build, never per query); an un-embedded corpus
    * keeps the driver arm (nothing to collect either way).
    */
  private[graft] def driverTrainOk(corpus: DataFrame, embCol: String,
                                   maxSample: Int): Boolean = {
    val spark = corpus.sparkSession
    if (maxSample > GraftConf.driverTrainMaxVecs(spark)) return false
    val maxBytes = GraftConf.driverTrainMaxBytes(spark)
    val dim = corpus.select(col(embCol)).filter(col(embCol).isNotNull)
      .head(1).headOption.map(_.getSeq[Float](0).size.toLong).getOrElse(0L)
    maxSample.toLong * dim * 4L <= maxBytes
  }

  /** The driver-side Lloyd loop over an ALREADY-COLLECTED sample (the
    * `maxSample <= spark.graft.ivf.driverTrainMaxVecs` arm of
    * [[trainCentroids]], factored out so the IVF-PQ build can train coarse
    * centroids and run its raw-vs-residual codebook selection on ONE
    * collected sample instead of paying [[boundedSample]]'s selection jobs
    * twice — r19 opt). `vecs` must be in the boundedSample hash order; the
    * math is the exact driver-path code (dotMin argmax, ties → lower id,
    * NaN rows excluded, emptied cluster keeps its previous centroid,
    * sum + renormalize), so results are bit-identical to [[trainCentroids]]
    * at the same inputs.
    */
  private[graft] def trainCentroidsVecs(vecs: Array[Array[Float]], k: Int,
                                        iters: Int): Seq[Seq[Float]] = {
    require(k >= 1, "k >= 1")
    if (vecs.isEmpty)
      throw new IllegalArgumentException("trainCentroids: corpus has no embedded rows")
    var cents: Seq[Seq[Float]] = vecs.take(k).toSeq
      .map(v => normalized(v.map(_.toDouble)))
    var it = 0
    while (it < iters) {
      val centArr = cents.map(_.toArray).toArray
      val sums = Array.fill(centArr.length)(Array.emptyDoubleArray)
      vecs.foreach { xs =>
        var best = -1
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < centArr.length) {
          val dot = graft.functions.VectorFunctions.dotMin(xs, centArr(c))
          if (dot > bestScore) { best = c; bestScore = dot }
          c += 1
        }
        if (best >= 0) {
          var a = sums(best)
          if (a.length < xs.length) { a = java.util.Arrays.copyOf(a, xs.length); sums(best) = a }
          var d = 0
          while (d < xs.length) { a(d) += xs(d).toDouble; d += 1 }
        }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val s = sums(c)
        if (s.isEmpty) old
        else normalized(Array.tabulate(old.size)(d => if (d < s.length) s(d) else 0.0))
      }
      it += 1
    }
    cents
  }

  /** One Lloyd round's per-cluster dim sums: deterministic per-partition
    * accumulation + partition-ordered driver reduce. No shuffle and no
    * posexplode — each task keeps k running sum vectors (k×dim doubles) and
    * the driver merges the ≤ parallelism partials in partition order, so
    * the fp additions happen in a fixed (partition, row, dim) order
    * regardless of task scheduling. Assignment math mirrors
    * [[NearestCentroids]] at nprobe=1 (dot over min length, ties → lower
    * id). A NaN row (every dot NaN) is EXCLUDED from training — folding it
    * into any cluster's sum would NaN-poison that centroid permanently;
    * probe-time assignment of such a vector still degrades gracefully in
    * [[NearestCentroids]]. An emptied cluster returns an empty array.
    */
  private def lloydSums(sample: DataFrame, cents: Seq[Seq[Float]]): Array[Array[Double]] = {
    val centArr = cents.map(_.toArray).toArray
    val k = centArr.length
    val partials = sample.select(col("emb")).rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = Array.fill(k)(Array.emptyDoubleArray)
      it.foreach { row =>
        val xs = row.getSeq[Float](0).toArray
        var best = -1
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val dot = graft.functions.VectorFunctions.dotMin(xs, centArr(c))
          if (dot > bestScore) { best = c; bestScore = dot }
          c += 1
        }
        if (best >= 0) {
          var a = acc(best)
          if (a.length < xs.length) { a = java.util.Arrays.copyOf(a, xs.length); acc(best) = a }
          var d = 0
          while (d < xs.length) { a(d) += xs(d).toDouble; d += 1 }
        }
      }
      Iterator((pid, acc))
    }.collect().sortBy(_._1)
    val total = Array.fill(k)(Array.emptyDoubleArray)
    partials.foreach { case (_, acc) =>
      var c = 0
      while (c < k) {
        val p = acc(c)
        if (p.nonEmpty) {
          var t = total(c)
          if (t.length < p.length) { t = java.util.Arrays.copyOf(t, p.length); total(c) = t }
          var d = 0
          while (d < p.length) { t(d) += p(d); d += 1 }
        }
        c += 1
      }
    }
    total
  }

  /** Build the full index: train on a sample, assign every corpus vector in
    * one zero-shuffle scan.
    */
  def build(corpus: DataFrame, idCol: String = "id", embCol: String = "embedding",
            k: Int = 256, iters: Int = 10, sampleFraction: Double = 1.0,
            maxSample: Int = 100000, seed: Long = 42L): IvfIndex = {
    val cents = trainCentroids(corpus, embCol, k, iters, sampleFraction, maxSample, seed)
    IvfIndex(assign(corpus, cents, idCol, embCol), cents)
  }

  /** (id, cluster) assignment frame for the given centroids — pure scan. */
  def assign(corpus: DataFrame, centroids: Seq[Seq[Float]],
             idCol: String = "id", embCol: String = "embedding"): DataFrame =
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"),
        element_at(nearestCentroidCol(col(embCol), centroids, 1), 1).as("cluster"))

  /** One-shot convenience: build + probe (prefer a held [[IvfIndex]] for
    * repeated probes — this re-trains and re-assigns per call).
    */
  def ivfTopK(corpus: DataFrame, queries: Seq[(String, Seq[Float])], k: Int,
              idCol: String = "id", embCol: String = "embedding",
              numCentroids: Int = 256, nprobe: Int = 8, iters: Int = 10,
              sampleFraction: Double = 1.0, maxSample: Int = 100000,
              seed: Long = 42L): DataFrame =
    build(corpus, idCol, embCol, numCentroids, iters, sampleFraction, maxSample, seed)
      .topK(corpus, queries, k, nprobe, idCol, embCol)
}

/** A prebuilt IVF index: the (id, cluster) posting-list frame plus the
  * unit-norm centroid table (driver-side, k×dim — bounded and broadcast-
  * sized by construction).
  */
final case class IvfIndex(assignments: DataFrame, centroids: Seq[Seq[Float]]) {

  /** Approximate top-k: probe the `nprobe` nearest posting lists per query,
    * exact-cosine rerank of the candidates. Cluster predicates are literals
    * (≤ queries × nprobe of them) — row-group-prunable against a
    * [[toStoreFrame]]-layout store; candidates then join the corpus by id
    * for the rerank, never touching unprobed lists.
    */
  def topK(corpus: DataFrame, queries: Seq[(String, Seq[Float])], k: Int,
           nprobe: Int = 8, idCol: String = "id",
           embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (queries.isEmpty) // typed empty frame — same contract as LshIndex.topK
      return corpus.select(lit("").as("qid"), lit(1).as("rn"),
        col(idCol).as("id"), lit(0.0).as("sim")).limit(0)
    // duplicate qids would interleave two vectors' similarities under one
    // ranking window — wrong for both, silently
    require(queries.map(_._1).distinct.size == queries.size, "duplicate query ids")
    val probes = queries.flatMap { case (qid, q) =>
      Ivf.nearestCentroidIds(q, centroids, math.min(nprobe, centroids.size))
        .map(c => (qid, c))
    }
    val probedClusters = probes.map(_._2).distinct
    val queryDf = queries.toDF("qid", "qvec")
      .select(col("qid"), col("qvec").cast(ArrayType(FloatType)).as("qvec"))
    val candidates = assignments
      .filter(col("cluster").isin(probedClusters: _*))
      .join(broadcast(probes.toDF("qid", "cluster")), Seq("cluster"))
      .select(col("qid"), col("id"))
      .distinct()
    candidates
      .join(broadcast(queryDf), Seq("qid"))
      .join(corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
        .filter(col("emb").isNotNull), "id")
      .withColumn("sim", VectorFunctions.cosine(col("emb"), col("qvec")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id"), col("sim"))
  }

  /** Assignments laid out for persistence: range-clustered by cluster so
    * probe predicates prune row groups. Centroids travel in
    * [[centroidsFrame]] (k rows).
    */
  def toStoreFrame: DataFrame =
    assignments.select(col("id"), col("cluster"))
      .repartitionByRange(col("cluster"))
      .sortWithinPartitions(col("cluster")) // row-group pruning needs IN-file order too

  /** (cluster, centroid) — the k-row centroid table. */
  def centroidsFrame: DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
  }
}

object IvfIndex {
  /** Reconstruct from [[IvfIndex.toStoreFrame]] + [[IvfIndex.centroidsFrame]]
    * shaped frames (the centroid side is k rows — a driver collect by
    * design).
    */
  def fromStoreFrames(assignments: DataFrame, centroidsFrame: DataFrame): IvfIndex = {
    val cents = centroidsFrame.select("cluster", "centroid").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toSeq).toSeq
    IvfIndex(assignments.select("id", "cluster"), cents)
  }
}
