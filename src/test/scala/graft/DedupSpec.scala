package graft

import graft.ext.Dedup
import graft.functions.SortedJaccard
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Pins the driver-side cluster route of `Collection.dedup`
  * ([[Dedup.bandedClusters]]) against the distributed one: candidate
  * buckets, verification and components must give exactly the clusters of
  * [[Dedup.corpusClusters]].
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  /** Random corpus with singletons, exact copies, near-dup chains
    * a ≈ b ≈ c with a ≉ c at 0.8 (a: 10 tokens, b = a + 1, c = b + 2:
    * Jaccard 8/9, 9/11, 8/11), docs shorter than 3 tokens (empty shingle
    * sets: distinct ones share every bucket), and a family of six near
    * copies that fills buckets past a small `maxBucket`. Ids are shuffled
    * so cluster roots are not the first-written doc.
    */
  private def corpus(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    def words(k: Int) = Seq.fill(k)(s"v${r.nextInt(400)}")
    val texts = ArrayBuffer[String]()
    (0 until 30).foreach(_ => texts += words(8 + r.nextInt(20)).mkString(" "))
    (0 until 5).foreach { _ =>
      val t = words(15).mkString(" ")
      (0 until 2 + r.nextInt(3)).foreach(_ => texts += t)
    }
    (0 until 5).foreach { _ =>
      val a = words(10)
      val b = a ++ words(1)
      texts ++= Seq(a, b, b ++ words(2)).map(_.mkString(" "))
    }
    (0 until 6).foreach(i => texts += words(1 + i % 2).mkString(" "))
    val base = words(20)
    (0 until 6).foreach(_ => texts += (base ++ words(1)).mkString(" "))
    val ids = r.shuffle(texts.indices.map(i => f"d$i%03d"))
    ids.zip(texts).toDF("id", "content")
  }

  private def banded(docs: DataFrame): DataFrame =
    Dedup.bandedSignatureRows(docs, "id", "content", 3, 32, 4)

  private def pairsOf(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def driverArm(docs: DataFrame, bands: DataFrame, maxBucket: Int): Map[String, String] =
    Dedup.bandedClusters(docs, bands, 3, 0.8, maxBucket) match {
      case Left(clusters) => clusters
      case Right(_) => fail("expected the driver route")
    }

  test("bandedClusters: the driver route equals corpusClusters on random corpora") {
    for (seed <- 1 to 3; maxBucket <- Seq(3, 256) if maxBucket == 3 || seed == 1) {
      val docs = corpus(seed).cache()
      // crash residue: band rows of an id that is not in docs, sharing
      // every bucket of a real doc, must drop out
      val someId = docs.head().getString(0)
      val bands = banded(docs).unionByName(banded(docs).filter($"id" === someId)
        .withColumn("id", org.apache.spark.sql.functions.lit("ghost")))
      val expected = pairsOf(Dedup.corpusClusters(docs, threshold = 0.8, maxBucket = maxBucket))
      val got = driverArm(docs, bands, maxBucket)
      assert(got.toSet === expected, s"seed $seed maxBucket $maxBucket")
      assert(!got.contains("ghost"))
      // not vacuous: a chain cluster of 3+ ids, and oversized buckets at 3
      assert(got.groupBy(_._2).values.exists(_.size >= 3))
      if (maxBucket == 3)
        assert(Dedup.lshBucketStats(docs, maxBucket = 3).head().getLong(1) > 0)
      docs.unpersist()
    }
  }

  test("bandedClusters: the over-bound distributed route removes the same losers") {
    val docs = corpus(4).cache()
    val bands = banded(docs)
    for (maxBucket <- Seq(3, 256)) {
      val driverLosers = driverArm(docs, bands, maxBucket).collect {
        case (id, root) if id != root => id
      }.toSet
      Dedup.bandedClusters(docs, bands, 3, 0.8, maxBucket, maxDriverBytes = 0L) match {
        case Right((clusters, nonRoots)) =>
          val losers = clusters.filter($"id" =!= $"cluster").select("id").as[String].collect()
          assert(losers.toSet === driverLosers, s"maxBucket $maxBucket")
          assert(nonRoots === losers.length.toLong)
        case Left(_) => fail("maxDriverBytes = 0 must take the distributed route")
      }
      assert(driverLosers.nonEmpty)
    }
    docs.unpersist()
  }

  test("bandedClusters: an oversized bucket keeps only star edges from its min id, on both routes") {
    // x ≈ y ≈ z with x ≉ z (Jaccard 8/9, 9/11, 8/11), all in ONE bucket
    // over maxBucket = 2: star edges from x verify x–y only, so z stays
    // out (all pairs would add y–z, a star from z would keep y–z instead)
    val a = (1 to 10).map(i => s"t$i")
    val docs = Seq("x" -> a, "y" -> (a :+ "u"), "z" -> (a ++ Seq("u", "v", "w")))
      .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("id", "content")
    val oneBucket = Seq("x", "y", "z").map(id => (id, 0, 1L)).toDF("id", "band", "bh")
    val expected = Map("x" -> "x", "y" -> "x")
    assert(driverArm(docs, oneBucket, maxBucket = 2) === expected)
    Dedup.bandedClusters(docs, oneBucket, 3, 0.8, maxBucket = 2, maxDriverBytes = 0L) match {
      case Right((clusters, nonRoots)) =>
        assert(pairsOf(clusters) === expected.toSet)
        assert(nonRoots === 1L)
      case Left(_) => fail("maxDriverBytes = 0 must take the distributed route")
    }
    // below the cap every pair is verified: one cluster
    assert(driverArm(docs, oneBucket, maxBucket = 3).values.toSet === Set("x"))
  }

  test("UnionFind equals dupClusters on random graphs and a 1,000-node chain") {
    def viaUnionFind(edges: Seq[(String, String)]): Set[(String, String)] = {
      val uf = new Dedup.UnionFind
      edges.foreach { case (a, b) => uf.union(a, b) }
      uf.clusters.toSet
    }
    val r = new scala.util.Random(7)
    val graphs = (1 to 4).map { g =>
      val nodes = (0 until 60).map(i => s"g$g-${r.nextInt(1000)}")
      // self-loops and repeated edges included
      Seq.fill(40)((nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size))))
    }
    // a path graph whose node names do not follow path order, given in
    // shuffled edge order
    val names = r.shuffle((0 until 1000).map(i => f"c$i%04d"))
    val chain = r.shuffle(names.indices.init.map(i => (names(i), names(i + 1))))
    for (edges <- graphs :+ chain) {
      val expected = pairsOf(Dedup.dupClusters(edges.toDF("id_a", "id_b")))
      assert(viaUnionFind(edges) === expected)
    }
    assert(viaUnionFind(chain).map(_._2) === Set("c0000"))
    // roots follow Spark's string order (UTF-8 bytes), not UTF-16 order
    val wide = Seq(("\uFFFF", "\uD800\uDC00")) // U+FFFF vs U+10000
    assert(viaUnionFind(wide) === pairsOf(Dedup.dupClusters(wide.toDF("id_a", "id_b"))))
  }

  test("SortedJaccard: one kernel behind the qualify decision and the score") {
    val r = new scala.util.Random(11)
    def set() = Array.fill(r.nextInt(12))(r.nextInt(20).toLong).distinct.sorted
    for (_ <- 1 to 500) {
      val (a, b) = (set(), set())
      val inter = a.intersect(b).length
      val exact = if (a.isEmpty && b.isEmpty) 0.0 else inter.toDouble / (a.length + b.length - inter)
      assert(SortedJaccard.atLeast(a, b, 0.0) === exact)
      for (t <- Seq(0.3, 0.5, 0.8, 1.0))
        assert(SortedJaccard.atLeast(a, b, t) === (if (exact >= t) exact else -1.0))
    }
  }

  test("corpus dedup operators reject a threshold outside (0, 1]") {
    val docs = corpus(1)
    val scored = docs.withColumn("score", org.apache.spark.sql.functions.lit(1L))
    for (t <- Seq(1.5, Double.NaN, -1.0)) {
      intercept[IllegalArgumentException](Dedup.dedupCorpus(docs, threshold = t))
      intercept[IllegalArgumentException](Dedup.dedupCorpusBy(scored, "score", threshold = t))
      intercept[IllegalArgumentException](Dedup.corpusClusters(docs, threshold = t))
      intercept[IllegalArgumentException](Dedup.minHashDupPairs(docs, threshold = t))
      intercept[IllegalArgumentException](Dedup.bandedClusters(docs, banded(docs), 3, t))
    }
  }
}
