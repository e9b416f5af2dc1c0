package graft.ext

import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** PQ encoder: each embedding is split into `m` contiguous subvectors of
  * `dsub` dims and each subvector is replaced by the id of its nearest (L2)
  * codeword in that subspace's codebook — ARRAY<TINYINT> of length `m`
  * (codeword ids stored as unsigned bytes, `k ≤ 256`). Missing trailing
  * dims (short vectors) read as 0. Codebooks ride inside the expression
  * (m×k×dsub floats — broadcast-sized), so encoding is a pure ZERO-shuffle
  * scan, like [[NearestCentroids]].
  */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {
  require(books.nonEmpty && books.head.nonEmpty, "codebooks must be non-empty")
  require(books.forall(_.size == books.head.size), "equal k per subspace")
  require(books.head.size <= 256, "k <= 256 (codes are bytes)")

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  @transient private lazy val cb: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val dsub: Int = books.head.head.size

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val m = cb.length
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val words = cb(s)
      val off = s * dsub
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < words.length) {
        val w = words(c)
        var dist = 0.0
        var d = 0
        while (d < dsub) {
          val x = if (off + d < n) xs.getFloat(off + d).toDouble else 0.0
          val diff = x - w(d)
          dist += diff * diff
          d += 1
        }
        // strict <: ties (and an all-NaN row, where every dist is NaN and
        // no comparison fires) keep the lowest codeword id
        if (dist < bestDist) { best = c; bestDist = dist }
        c += 1
      }
      out(s) = (best & 0xFF).toByte
      s += 1
    }
    new GenericArrayData(out)
  }

  // codegen: encoding scans the whole corpus at build and every upsert
  // batch thereafter — the same nested loop as nullSafeEval (strict-<
  // tie-break, zero-padded short vectors), codebooks as a reference object.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqBooks", cb, "float[][][]")
    val dsubV = dsub
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val out = ctx.freshName("out"); val s = ctx.freshName("s")
      val words = ctx.freshName("words"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestDist = ctx.freshName("bestDist")
      val c = ctx.freshName("c"); val w = ctx.freshName("w")
      val dist = ctx.freshName("dist"); val d = ctx.freshName("d")
      val x = ctx.freshName("x"); val diff = ctx.freshName("diff")
      s"""
         |int $n = $xs.numElements();
         |int $m = $cbRef.length;
         |byte[] $out = new byte[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  float[][] $words = $cbRef[$s];
         |  int $off = $s * $dsubV;
         |  int $best = 0;
         |  double $bestDist = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $words.length; $c++) {
         |    float[] $w = $words[$c];
         |    double $dist = 0.0;
         |    for (int $d = 0; $d < $dsubV; $d++) {
         |      double $x = ($off + $d < $n) ? (double) $xs.getFloat($off + $d) : 0.0;
         |      double $diff = $x - (double) $w[$d];
         |      $dist += $diff * $diff;
         |    }
         |    if ($dist < $bestDist) { $best = $c; $bestDist = $dist; }
         |  }
         |  $out[$s] = (byte) ($best & 0xFF);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC (asymmetric distance computation) scorer: the query is NOT encoded —
  * a per-(query, subspace, codeword) dot-product lookup table is computed
  * exactly on the driver and rides in the expression; a row's approximate
  * dot product is `Σ_s lut(s)(codes(s))`, m table lookups per row instead
  * of a dim-length float scan.
  */
case class PqAdcScore(child: Expression, lut: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  @transient private lazy val t: Array[Array[Double]] = lut.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), t.length)
    var s = 0
    var sum = 0.0
    while (s < m) {
      val tab = t(s)
      val c = codes.getByte(s) & 0xFF
      if (c < tab.length) sum += tab(c)
      s += 1
    }
    sum
  }

  // codegen: this expression scans EVERY code row of a probe (the flat-PQ
  // full-codes scan / the IVF-PQ probed lists) — a fallback here would
  // break whole-stage codegen around the hottest loop of the PQ family.
  // Same m-lookups-per-row loop as nullSafeEval, LUT as a reference object.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("adcLut", t, "double[][]")
    nullSafeCodeGen(ctx, ev, codes => {
      val m = ctx.freshName("m"); val s = ctx.freshName("s")
      val sum = ctx.freshName("sum"); val tab = ctx.freshName("tab")
      val c = ctx.freshName("c")
      s"""
         |double $sum = 0.0;
         |int $m = java.lang.Math.min($codes.numElements(), $tRef.length);
         |for (int $s = 0; $s < $m; $s++) {
         |  double[] $tab = $tRef[$s];
         |  int $c = $codes.getByte($s) & 0xFF;
         |  if ($c < $tab.length) $sum += $tab[$c];
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Trained PQ codebooks: `m` subspaces × `k` codewords × `dsub` dims. */
final case class PqCodebook(m: Int, dsub: Int, books: Seq[Seq[Seq[Float]]]) {
  require(books.size == m && books.forall(_.forall(_.size == dsub)), "shape mismatch")

  /** (subspace, code, codeword) — the persistable codebook table (m×k rows). */
  def toStoreFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (ws, s) =>
      ws.zipWithIndex.map { case (w, c) => (s, c, w) }
    }.toDF("subspace", "code", "codeword")
  }
}

object PqCodebook {
  /** Reconstruct from a [[PqCodebook.toStoreFrame]]-layout frame (extra
    * columns ignored) — m×k rows collect driver-side, same bounded size as
    * the trained books (≤ 256×m codewords). None for an empty frame.
    */
  def fromStoreFrame(df: DataFrame): Option[PqCodebook] = {
    val rows = df.select(col("subspace"), col("code"), col("codeword")).collect()
    if (rows.isEmpty) None
    else {
      val bySub = rows.groupBy(_.getInt(0))
      val m = bySub.keys.max + 1
      val books = (0 until m).map { s =>
        bySub(s).sortBy(_.getInt(1)).map(_.getSeq[Float](2).toSeq).toSeq
      }
      Some(PqCodebook(m, books.head.head.size, books))
    }
  }
}

/** Product quantization ANN (Jégou et al. 2011; the FAISS `PQ` family):
  * embeddings compress to `m` bytes each — 64-dim float → 8 bytes is 32× —
  * and queries score the CODES via per-query lookup tables (ADC), never
  * touching the float column. The 100 TB shape: the whole index is
  * `m` bytes/vector (a 100 TB float corpus becomes ~3 TB of codes), the
  * scoring scan reads only codes, and each query's rank plans as the same
  * per-partition-k-heap TakeOrderedAndProject as [[Ann.exactTopK]]. Use as
  * a first-pass retriever feeding a float rerank of the top-m, or alone
  * when approximate order suffices.
  *
  * Vectors are L2-NORMALIZED before training and encoding (`normalize`
  * default), so the ADC dot product approximates cosine and the ranking is
  * comparable to the exact arm's.
  *
  * Training runs plain (non-spherical) per-subspace Lloyd k-means ON THE
  * DRIVER over a [[Ivf.boundedSample]]-selected sample — bounded by
  * `maxSample` by contract (the FAISS practice; 20k × 64 floats ≈ 5 MB),
  * deterministic (hash-ordered init, fixed iteration order), zero cluster
  * jobs beyond the sample selection.
  */
object Pq {

  /** L2-normalize an ARRAY<FLOAT>/ARRAY<DOUBLE> column (zero vector stays). */
  private[graft] def l2normalize(v: Column): Column = {
    val dv = v.cast(ArrayType(DoubleType))
    val n = sqrt(aggregate(dv, lit(0.0), (a, x) => a + x * x))
    when(n === 0.0, dv).otherwise(transform(dv, x => x / n)).cast(ArrayType(FloatType))
  }

  private def normalizeVec(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** Train codebooks on a bounded, hash-ordered sample (driver-side Lloyd
    * per subspace; empty clusters keep their previous codeword).
    */
  def train(corpus: DataFrame, embCol: String = "embedding",
            m: Int = 8, k: Int = 256, iters: Int = 10,
            maxSample: Int = 20000, seed: Long = 42L,
            normalize: Boolean = true): PqCodebook = {
    // duplicate of trainVecs' guard, ON PURPOSE: an invalid m/k must fail
    // before the sample-selection job and driver collect, not after
    require(m >= 1 && k >= 1 && k <= 256, "1 <= m, 1 <= k <= 256")
    val rows = Ivf.boundedSample(corpus, embCol, 1.0, maxSample, seed)
      .collect().map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "Pq.train: corpus has no embedded rows")
    trainVecs(if (normalize) rows.map(normalizeVec) else rows, m, k, iters)
  }

  /** [[train]] over an already-collected (and already-preprocessed: caller
    * normalizes / residualizes) sample — the arm the IVF-PQ build's
    * measured raw-vs-residual codebook selection uses, so both candidates
    * train on the identical sample.
    */
  private[graft] def trainVecs(vecs: Array[Array[Float]], m: Int, k: Int,
                               iters: Int): PqCodebook = {
    require(m >= 1 && k >= 1 && k <= 256, "1 <= m, 1 <= k <= 256")
    require(vecs.nonEmpty, "Pq.trainVecs: empty sample")
    val dim = vecs.map(_.length).max
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
    val dsub = dim / m
    // The m subspace Lloyd runs are independent — train them on a bounded
    // pool in parallel (results collected in subspace order, so the
    // codebook is bit-identical to the serial loop). This is the dominant
    // cost of an index build: sample×k×iters×dsub flops PER BOOK.
    val books = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(m, Runtime.getRuntime.availableProcessors())))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futs = (0 until m).map { s => Future {
          val off = s * dsub
          val sub = vecs.map { v =>
            Array.tabulate(dsub)(d => if (off + d < v.length) v(off + d) else 0.0f)
          }
          kmeansL2(sub, math.min(k, sub.length), iters)
        } }
        futs.map(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }
    // pad under-filled books (k > #sample) so every book has k codewords:
    // duplicate the last codeword — encoding ties resolve to the lower id,
    // so padding never changes an assignment
    val padded = books.map { b =>
      if (b.size >= k) b else b ++ Seq.fill(k - b.size)(b.last)
    }
    PqCodebook(m, dsub, padded.map(_.map(_.toSeq)))
  }

  /** Mean squared reconstruction error of `cb` over an already-preprocessed
    * sample — the model-selection metric the IVF-PQ build uses to choose
    * raw-vs-residual encoding (lower MSE ⇒ the ADC dot product tracks the
    * true dot more closely). Driver-side, O(sample × m × k × dsub).
    */
  private[graft] def reconstructionMse(vecs: Array[Array[Float]],
                                       cb: PqCodebook): Double = {
    var total = 0.0
    vecs.foreach { v =>
      var s = 0
      while (s < cb.m) {
        val off = s * cb.dsub
        val words = cb.books(s)
        var best = Double.MaxValue
        var w = 0
        while (w < words.size) {
          val word = words(w)
          var dist = 0.0
          var d = 0
          while (d < cb.dsub) {
            val x = if (off + d < v.length) v(off + d) else 0.0f
            val df = x - word(d)
            dist += df * df
            d += 1
          }
          if (dist < best) best = dist
          w += 1
        }
        total += best
        s += 1
      }
    }
    total / math.max(1, vecs.length)
  }

  /** Plain L2 Lloyd on driver-side subvectors: init = first k DISTINCT
    * subvectors in sample (hash) order; assignment ties -> lower id.
    */
  private def kmeansL2(xs: Array[Array[Float]], k: Int, iters: Int): Seq[Array[Float]] = {
    val dsub = xs.head.length
    val init = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val seen = scala.collection.mutable.HashSet[Seq[Float]]()
    var i = 0
    while (i < xs.length && init.size < k) {
      if (seen.add(xs(i).toSeq)) init += xs(i)
      i += 1
    }
    var cents = init.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dsub))
      val counts = new Array[Long](cents.length)
      xs.foreach { x =>
        var best = 0
        var bestDist = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val w = cents(c)
          var dist = 0.0
          var d = 0
          while (d < dsub) { val df = x(d) - w(d); dist += df * df; d += 1 }
          if (dist < bestDist) { best = c; bestDist = dist }
          c += 1
        }
        val s = sums(best)
        var d = 0
        while (d < dsub) { s(d) += x(d); d += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dsub)(d => (sums(c)(d) / counts(c)).toFloat)
      }
      it += 1
    }
    cents.toSeq
  }

  def encodeCol(emb: Column, cb: PqCodebook, normalize: Boolean = true): Column = {
    val v = if (normalize) l2normalize(emb) else emb.cast(ArrayType(FloatType))
    Bridge.column(PqEncode(Bridge.expression(v), cb.books))
  }

  /** (id, codes) — the m-bytes-per-vector index frame; one zero-shuffle scan. */
  def encode(corpus: DataFrame, cb: PqCodebook, idCol: String = "id",
             embCol: String = "embedding", normalize: Boolean = true): DataFrame =
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"), encodeCol(col(embCol), cb, normalize).as("codes"))

  /** ADC top-k over an encoded frame: per query, an m×k dot-product lookup
    * table (driver-computed, exact) scores every row's codes; the batch
    * ranks in ONE codes scan via WindowGroupLimit map-side k-heaps
    * ([[batchRank]]). Output
    * (qid, rn, id, score) — `score` approximates the dot product (= cosine
    * when the index was built `normalize`d and queries are normalized here
    * the same way).
    */
  def adcTopK(codes: DataFrame, cb: PqCodebook,
              queries: Seq[(String, Seq[Float])], k: Int,
              normalize: Boolean = true): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size, "duplicate query ids")
    if (queries.isEmpty)
      return codes.select(lit("").as("qid"), lit(1).as("rn"), col("id"),
        lit(0.0).as("score")).limit(0)
    def scoreCol(q0: Seq[Float]): Column = {
      val q = if (normalize) normalizeVec(q0.toArray) else q0.toArray
      Bridge.column(PqAdcScore(Bridge.expression(col("codes")), lutFor(q, cb)))
    }
    batchRank(codes, queries.map(_._1), queries.map(q => scoreCol(q._2)), k)
  }

  /** The per-(query, subspace, codeword) ADC dot-product table — exact,
    * driver-computed, m×k doubles (shared by both ADC scorers).
    */
  private def lutFor(q: Array[Float], cb: PqCodebook): Seq[Seq[Double]] =
    cb.books.zipWithIndex.map { case (words, s) =>
      val off = s * cb.dsub
      words.map { w =>
        var dot = 0.0
        var d = 0
        while (d < cb.dsub) {
          if (off + d < q.length) dot += q(off + d).toDouble * w(d)
          d += 1
        }
        dot
      }
    }

  /** One-codes-scan ranking for a query batch: each row computes its q ADC
    * scores in one projection ([[PqAdcScore]] expressions), posexplode tags
    * them with the query ordinal, and the rank-`k` cut lowers to
    * WindowGroupLimit map-side heaps, so the shuffle carries
    * partitions×q×k skinny rows. Output (qid, rn 1..k, id, score), ties by
    * (score desc, id asc) for both cut and rank.
    */
  private def batchRank(codes: DataFrame, qids: Seq[String],
                        scoreCols: Seq[Column], k: Int): DataFrame =
    codes
      .select(col("id"), posexplode(array(scoreCols: _*)).as(Seq("qi", "score")))
      .select(element_at(typedLit(qids), col("qi") + 1).as("qid"),
        col("id"), col("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id"), col("score"))

  /** The residual of a vector against its coarse centroid:
    * `l2normalize(emb) − centroid[cluster]` (cluster 0-based, centroid
    * table rides in the expression). The FAISS-standard IVF-PQ encoding
    * input: residual norms are a fraction of the vector's, so the same
    * (m, k) codebook budget spends its codewords on a much smaller cell —
    * finer quantization at identical code size.
    */
  def residualCol(emb: Column, clusterCol: Column, cents: Seq[Seq[Float]]): Column =
    zip_with(l2normalize(emb),
      element_at(typedLit(cents.map(_.toSeq)), clusterCol.cast("int") + 1),
      (x, y) => x - y)

  /** ADC top-k over RESIDUAL-encoded IVF-PQ rows (id, cluster, codes):
    * score = q·centroid[cluster] + LUT(codes), the exact decomposition
    * q·(c + r̂) — the per-cluster constant is a literal array lookup, so
    * candidate selection stays one codes scan plus per-partition k-heaps,
    * same batched plan as [[adcTopK]].
    */
  def adcTopKResidual(rows: DataFrame, cb: PqCodebook, cents: Seq[Seq[Float]],
                      queries: Seq[(String, Seq[Float])], k: Int): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size, "duplicate query ids")
    if (queries.isEmpty)
      return rows.select(lit("").as("qid"), lit(1).as("rn"), col("id"),
        lit(0.0).as("score")).limit(0)
    def scoreCol(q0: Seq[Float]): Column = {
      val q = normalizeVec(q0.toArray)
      val cdots = cents.map(c => graft.functions.VectorFunctions.dotMin(q, c.toArray))
      Bridge.column(PqAdcScore(Bridge.expression(col("codes")), lutFor(q, cb))) +
        element_at(typedLit(cdots), col("cluster").cast("int") + 1)
    }
    batchRank(rows, queries.map(_._1), queries.map(q => scoreCol(q._2)), k)
  }

  /** The one place the encoding flag is interpreted on the WRITE side:
    * residual stores encode `normalize(v) − centroid[cluster]` with no
    * re-normalization, raw stores encode `normalize(v)`. Every site that
    * (re-)derives IVF-PQ codes — build, delta, merge, compact, oracle
    * re-derivations — goes through this, so the paths cannot drift.
    */
  def encodeFor(emb: Column, clusterCol: Column, cents: Seq[Seq[Float]],
                cb: PqCodebook, residual: Boolean): Column =
    if (residual) encodeCol(residualCol(emb, clusterCol, cents), cb, normalize = false)
    else encodeCol(emb, cb)

  /** The one place the encoding flag is interpreted on the READ side:
    * residual stores score q·centroid[cluster] + LUT(codes), raw stores the
    * plain LUT scan. `rows` must carry (id, cluster, codes). Both serving
    * paths (Collection.vectorTopK and the F2 planner rewrite) dispatch
    * through this.
    */
  def adcTopKFor(rows: DataFrame, cb: PqCodebook, cents: Seq[Seq[Float]],
                 residual: Boolean, queries: Seq[(String, Seq[Float])],
                 k: Int): DataFrame =
    if (residual) adcTopKResidual(rows.select(col("id"), col("cluster"), col("codes")),
      cb, cents, queries, k)
    else adcTopK(rows.select(col("id"), col("codes")), cb, queries, k)

  /** Two-stage retrieve — the standard PQ deployment: ADC over the codes
    * picks `candK` candidates per query (reading m bytes/vector), then ONLY
    * those candidates join back to the float corpus for the exact-cosine
    * rerank and the final top-`k`. The float column is touched for
    * queries×candK rows total, not the corpus.
    */
  def rerankTopK(corpus: DataFrame, codes: DataFrame, cb: PqCodebook,
                 queries: Seq[(String, Seq[Float])], k: Int, candK: Int = 50,
                 idCol: String = "id", embCol: String = "embedding",
                 normalize: Boolean = true): DataFrame =
    rerankFrom(corpus,
      adcTopK(codes, cb, queries, candK, normalize).select(col("qid"), col("id")),
      queries, k, idCol, embCol)

  /** Exact-cosine rerank of a (qid, id) candidate frame to per-query
    * top-`k` — the shared tail of [[rerankTopK]] and the IVF-PQ probe
    * (candidates join the float corpus by id; the embedding column is
    * touched for candidate rows only).
    */
  private[graft] def rerankFrom(corpus: DataFrame, cands: DataFrame,
                                queries: Seq[(String, Seq[Float])], k: Int,
                                idCol: String = "id",
                                embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (queries.isEmpty)
      return corpus.select(lit("").as("qid"), lit(1).as("rn"),
        col(idCol).as("id"), lit(0.0).as("sim")).limit(0)
    val queryDf = queries.toDF("qid", "qvec")
      .select(col("qid"), col("qvec").cast(ArrayType(FloatType)).as("qvec"))
    cands
      .join(broadcast(queryDf), Seq("qid"))
      .join(corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
        .filter(col("emb").isNotNull), "id")
      .withColumn("sim", VectorFunctions.cosine(col("emb"), col("qvec")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id"), col("sim"))
  }

  /** One-shot convenience: train + encode + probe (hold the codebook and
    * encoded frame for repeated probes in a real deployment).
    */
  def pqTopK(corpus: DataFrame, queries: Seq[(String, Seq[Float])], k: Int,
             idCol: String = "id", embCol: String = "embedding",
             m: Int = 8, numCodes: Int = 256, iters: Int = 10,
             maxSample: Int = 20000, seed: Long = 42L): DataFrame = {
    val cb = train(corpus, embCol, m, numCodes, iters, maxSample, seed)
    adcTopK(encode(corpus, cb, idCol, embCol), cb, queries, k)
  }
}
