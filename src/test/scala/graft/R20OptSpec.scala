package graft

import graft.api.Collection
import graft.index.Stores
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-20 optimization-equivalence contracts (same scheme as
  * R19OptSpec: every change rides a kill-switch conf; each arm pair must
  * produce IDENTICAL results).
  */
class R20OptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](key: String, v: String)(f: => T): T = {
    spark.conf.set(key, v)
    try f finally spark.conf.unset(key)
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-r20-").toString

  private def ingest(root: String, n: Int = 30): Collection = {
    val c = Collection(spark, root, "t")
    c.add((0 until n).map(i => s"alpha beta doc$i common"),
      ids = Some((0 until n).map(i => s"d$i")))
    c
  }

  private def docsRows(c: Collection): Seq[String] =
    c.docs().collect().map(_.toString).toSeq.sorted

  test("store write sizing arms: lifecycle content identical with sizing off/on") {
    // full lifecycle under each arm: ingest, update, delete, second add
    def lifecycle(): Seq[String] = {
      val root = freshRoot()
      val c = ingest(root)
      c.update(Seq("d3", "d7"), Seq("updated three", "updated seven"))
      c.delete(Seq("d5", "d11"))
      c.add(Seq("late gamma"), ids = Some(Seq("d99")))
      val out = docsRows(c)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      out
    }
    val onArm = lifecycle()
    val offArm = withConf("spark.graft.store.writeSizing", "false")(lifecycle())
    val noHints = withConf("spark.graft.store.sizeHints", "false")(lifecycle())
    assert(onArm == offArm, "writeSizing=false arm must produce identical docs")
    assert(onArm == noHints, "sizeHints=false arm must produce identical docs")
  }

  test("ivf driver-train gate is dim-aware: byte budget flips to the distributed arm") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      (s"v$i", Seq.tabulate(8)(d => ((i % 5) + 1f) * (d + 1) / 10f))
    }.toDF("id", "embedding")
      .select($"id", $"embedding".cast("array<float>").as("embedding"))
    val driverArm = graft.ext.Ivf.trainCentroids(corpus, k = 5, iters = 4,
      maxSample = 60, seed = 1L)
    // 60 vecs x 8 dims x 4B = 1920 bytes > 1-byte budget -> distributed arm
    val distArm = withConf("spark.graft.ivf.driverTrainMaxBytes", "1")(
      graft.ext.Ivf.trainCentroids(corpus, k = 5, iters = 4,
        maxSample = 60, seed = 1L))
    assert(driverArm.size == distArm.size)
    // identical assignment/update math; accumulation order may differ at
    // the last ulp between arms, so compare within float tolerance
    driverArm.zip(distArm).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5f) }
    }
  }

  test("delete of absent ids short-circuits: one probe job, no store touched") {
    val root = freshRoot()
    val c = ingest(root)
    val docsFp = Stores.partitionFingerprint(spark, Stores.docsDir(root), "t")
    val postFp = Stores.partitionFingerprint(spark, Stores.postingsDir(root), "t")
    val dlFp = Stores.partitionFingerprint(spark, Stores.doclenDir(root), "t")
    assert(docsFp != 0L && postFp != 0L && dlFp != 0L)

    // action-level pin: the whole delete must be ONE collect (the
    // membership probe; AQE may split it into several jobs) and ZERO write
    // commands
    val actions = TestSpark.actionsOf(c.delete(Seq("absent-1", "absent-2"))).map(_._1)
    assert(actions == Seq("collect"),
      s"an all-absent delete must cost exactly the one membership-probe collect, got $actions")
    assert(Stores.partitionFingerprint(spark, Stores.docsDir(root), "t") == docsFp,
      "docs store must be untouched by a no-op delete")
    assert(Stores.partitionFingerprint(spark, Stores.postingsDir(root), "t") == postFp,
      "postings store must be untouched by a no-op delete")
    assert(Stores.partitionFingerprint(spark, Stores.doclenDir(root), "t") == dlFp,
      "doclen store must be untouched by a no-op delete")
    // and content still serves
    assert(c.count() == 30)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
