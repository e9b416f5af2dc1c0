package graft

import graft.ext.{Ann, Graphs, Ivf, Pq, PqAdcScore, PqCodebook}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the batched top-k rankers, PageRank's dangling-node probe and
  * the fused IVF-PQ training sample, each against a reference kept in this
  * spec: the per-query `orderBy(score desc, id asc).limit(k)` scan, a
  * driver-side power iteration, and golden build outputs. Plan-shape
  * assertions use executedPlan.toString (AQE holds its inner plan as a
  * field — TreeNode.collect sees nothing, see the verify notes).
  */
class R19OptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic little vector corpus WITH exact duplicates (ids v0..),
    * so the (score desc, id asc) tie-break is actually exercised.
    */
  private def vecCorpus(n: Int): DataFrame =
    (0 until n).map { i =>
      val base = i % 7 // 7 distinct vectors -> heavy score ties
      (s"v$i", Seq.tabulate(8)(d => ((base + 1) * (d + 1)).toFloat / 10f))
    }.toDF("id", "embedding")
      .select($"id", $"embedding".cast("array<float>").as("embedding"))

  private val queries = Seq(
    "q0" -> Seq.tabulate(8)(d => (d + 1).toFloat / 10f),
    "q1" -> Seq.tabulate(8)(d => (8 - d).toFloat / 10f),
    "q2" -> Seq.tabulate(8)(_ => 0.5f))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The reference ranking: one `orderBy(score desc, id asc).limit(k)` scan
    * per query, rn = position in that query's page.
    */
  private def perQueryTopK(df: DataFrame, k: Int)(score: Seq[Float] => Column): Seq[String] =
    queries.flatMap { case (qid, q) =>
      df.withColumn("__score", score(q))
        .orderBy(col("__score").desc, col("id").asc)
        .limit(k)
        .select(col("id"), col("__score"))
        .collect().zipWithIndex
        .map { case (r, i) => Row(qid, i + 1, r.get(0), r.get(1)).toString }
    }.sorted

  test("exactTopK: batched arm equals per-query arm, incl. tie-breaks") {
    val corpus = vecCorpus(40)
    val batched = Ann.exactTopK(corpus, queries, k = 5)
    val reference = perQueryTopK(corpus, 5)(q =>
      graft.functions.VectorFunctions.cosine(col("embedding"),
        graft.functions.VectorFunctions.vecLit(q)))
    assert(sortedRows(batched) == reference)
    // shape: one corpus scan for the batch, ranked via WindowGroupLimit
    val plan = batched.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("TakeOrderedAndProject"))
  }

  /** The ADC score of a query as the library defines it: an exact
    * per-(subspace, codeword) dot-product table over the L2-normalized
    * query, summed over the row's codes.
    */
  private def adcScore(cb: PqCodebook, q0: Seq[Float]): (Array[Float], Column) = {
    val norm = math.sqrt(q0.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    val q = q0.map(x => (x / norm).toFloat).toArray
    val lut = cb.books.zipWithIndex.map { case (words, s) =>
      words.map(w => (0 until cb.dsub).filter(d => s * cb.dsub + d < q.length)
        .foldLeft(0.0)((dot, d) => dot + q(s * cb.dsub + d).toDouble * w(d)))
    }
    (q, Bridge.column(PqAdcScore(Bridge.expression(col("codes")), lut)))
  }

  test("adcTopK / adcTopKResidual: batched arm equals per-query arm") {
    val corpus = vecCorpus(40)
    val cb = Pq.train(corpus, m = 4, k = 8, iters = 3, maxSample = 100)
    val codes = Pq.encode(corpus, cb)
    val batched = Pq.adcTopK(codes, cb, queries, k = 5)
    assert(sortedRows(batched) == perQueryTopK(codes, 5)(q => adcScore(cb, q)._2))
    assert(batched.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))

    val cents = Ivf.trainCentroids(corpus, k = 3, iters = 3, maxSample = 100)
    val rows = Ivf.assign(corpus, cents)
      .join(corpus, Seq("id"))
      .select($"id", $"cluster",
        Pq.encodeFor($"embedding", $"cluster", cents, cb, residual = true).as("codes"))
    val batchedRes = Pq.adcTopKResidual(rows, cb, cents, queries, k = 5)
    val referenceRes = perQueryTopK(rows, 5) { q0 =>
      val (q, lutScore) = adcScore(cb, q0)
      val cdots = cents.map(c => graft.functions.VectorFunctions.dotMin(q, c.toArray))
      lutScore + element_at(typedLit(cdots), col("cluster").cast("int") + 1)
    }
    assert(sortedRows(batchedRes) == referenceRes)
    assert(batchedRes.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  /** Driver-side PageRank, the same recurrence as Graphs.pageRank over an
    * unweighted edge list: rank_0 = 1/n; each round
    * rank'(v) = (1-d)/n + d·(Σ_{u→v} rank(u)/outdeg(u) + dangling/n).
    */
  private def referencePageRank(edges: Seq[(String, String)], iterations: Int,
                                damping: Double = 0.85): Map[String, Double] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }.distinct
    val n = nodes.size
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => rank(s) / outDeg(s) }.sum
      }
      val dangling = nodes.filterNot(outDeg.contains).map(rank).sum
      rank = nodes.map(v =>
        v -> ((1.0 - damping) / n + damping * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    rank
  }

  private def assertMatchesReference(edges: Seq[(String, String)], iterations: Int): Unit = {
    val got = Graphs.pageRank(edges.toDF("src", "dst"), iterations = iterations).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referencePageRank(edges, iterations)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, r) => assert(math.abs(r - want(id)) < 1e-12, s"rank($id)") }
    // mass is conserved (the dangling completion's whole point)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: dangling-free graph matches a driver-side power iteration") {
    // every node has out-edges (a ring plus chords) -> no dangling mass
    assertMatchesReference((0 until 12).map(i => (s"n$i", s"n${(i + 1) % 12}")) ++
      (0 until 12 by 3).map(i => (s"n$i", s"n${(i + 5) % 12}")), iterations = 4)
  }

  test("pageRank: a graph WITH dangling nodes still pays them exactly") {
    // d is dst-only (dangling): its mass must redistribute
    assertMatchesReference(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")), iterations = 3)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("ivfpq build: fused single-sample training equals the two-sample path") {
    import graft.api.Collection
    // distinct directions (vecCorpus's are all parallel, which would leave
    // one effective centroid and one codeword per subspace)
    val corpus = (0 until 60).map { i =>
      (s"v$i", Seq.tabulate(8)(d => ((i * 31 + d * 17 + i * d * 7) % 23 - 11).toFloat / 8f))
    }.toDF("id", "embedding")
      .select($"id", $"embedding".cast("array<float>").as("embedding"), lit("").as("content"))
    val root = java.nio.file.Files.createTempDirectory("graft-r19opt-").toString
    val c = Collection(spark, root, "vecs", useFts = false)
    c.addDf(corpus)
    // the fused path runs only when the sample fits the driver-train bounds
    assert(Ivf.driverTrainOk(c.docs(), "embedding", maxSample = 100))
    c.createVectorIndex(kind = "ivfpq", numCentroids = 4, nprobe = 2,
      m = 4, candK = 10, iters = 3, maxSample = 100)
    val (cents, cb, rows, _, _) = c.ivfPqIndex().get
    // coarse centroids: what Ivf.build trains from its own sample selection
    val built = Ivf.build(c.docs(), "id", "embedding", k = 4, iters = 3,
      sampleFraction = 1.0, maxSample = 100, seed = 42L).centroids
    assert(cents == built, "coarse centroids must be bit-identical to Ivf.build")
    // codebooks and (id, cluster, codes) rows: digests of the exact float
    // bits / row values the two-sample path built from this corpus
    val booksBits = cb.books.flatten.flatten
      .map(f => java.lang.Float.floatToIntBits(f).toString).mkString(",")
    val rowLines = rows.select($"id", $"cluster", $"codes").collect()
      .map(r => s"${r.getString(0)},${r.getInt(1)},${r.getSeq[Byte](2).mkString(":")}")
      .sorted.mkString("\n")
    assert(rows.select("cluster").distinct().count() == GoldenIvfPq.clusters)
    assert(sha256(booksBits) == GoldenIvfPq.booksSha256, "codebooks must match the golden build")
    assert(sha256(rowLines) == GoldenIvfPq.rowsSha256, "(id, cluster, codes) rows must match the golden build")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}

/** Golden IVF-PQ build outputs for R19OptSpec's 60-row spread corpus
  * (numCentroids = 4, m = 4, iters = 3, maxSample = 100, seed = 42),
  * identical on the fused and two-sample training paths when captured.
  */
private object GoldenIvfPq {
  val clusters = 4L
  val booksSha256 = "21a62c81b891b68c2bbc3c6cbcf61bd827742344d65b88783e6c162a566615bb"
  val rowsSha256 = "5da3e58b26f63046b85367228c5feb992afa925cfb9f6bb0688f18e1d724f905"
}
