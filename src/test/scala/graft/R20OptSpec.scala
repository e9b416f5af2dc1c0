package graft

import graft.api.Collection
import graft.index.Stores
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the store-write sizing, the dim-aware IVF driver-train gate
  * and the short-circuited no-op delete.
  */
class R20OptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-r20-").toString

  private def ingest(root: String, n: Int = 30): Collection = {
    val c = Collection(spark, root, "t")
    c.add((0 until n).map(i => s"alpha beta doc$i common"),
      ids = Some((0 until n).map(i => s"d$i")))
    c
  }

  /** Parquet files directly under `dir` (one store segment). */
  private def parquetFiles(dir: java.io.File): Int =
    dir.listFiles().count(_.getName.endsWith(".parquet"))

  test("store writes: lifecycle content exact on the merge and delta paths") {
    // ingest, update, delete, second add — content derived from the ops
    val expected = ((0 until 30).filterNot(Set(3, 5, 7, 11))
      .map(i => s"d$i" -> s"alpha beta doc$i common") ++
      Seq("d3" -> "updated three", "d7" -> "updated seven", "d99" -> "late gamma")).toSet
    def lifecycle(deltas: Boolean): Unit = {
      val root = freshRoot()
      val c = ingest(root)
      c.update(Seq("d3", "d7"), Seq("updated three", "updated seven"))
      c.delete(Seq("d5", "d11"))
      c.add(Seq("late gamma"), ids = Some(Seq("d99")))
      val got = c.docs().collect().map(r => r.getAs[String]("id") -> r.getAs[String]("content"))
      assert(got.length == expected.size && got.toSet == expected)
      assert(c.query("common").total == 26)
      assert(c.query("updated").total == 2)
      assert(c.query("doc5 or doc11").total == 0)
      // a small store is written as ONE file per segment: range rewrites
      // size their partition count from the store's bytes, and delta
      // appends below the target coalesce to one task
      val part = new java.io.File(Stores.partitionPath(Stores.docsDir(root), "t"))
      val deltaDirs = part.listFiles().filter { f =>
        f.isDirectory && f.getName.startsWith(".delta-") && !f.getName.endsWith("-gone")
      }
      assert(deltaDirs.nonEmpty == deltas)
      assert(parquetFiles(part) == 1)
      deltaDirs.foreach(d => assert(parquetFiles(d) == 1, d.getName))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    lifecycle(deltas = false) // small collection: every upsert merges directly
    TestSpark.withConfs("spark.graft.compact.auto" -> "false",
      "spark.graft.store.directUpsertMaxBytes" -> "0")(lifecycle(deltas = true))
  }

  test("streamIngest and addDf land equal content and postings") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // second batch upserts d10..d19 and inserts d20..d29
    val first = (0 until 20).map(i => (s"d$i", s"alpha doc$i common"))
    val second = (10 until 30).map(i => (s"d$i", s"beta doc$i common"))
    val batched = Collection(spark, freshRoot(), "t")
    batched.addDf(first.toDF("id", "content"))
    batched.addDf(second.toDF("id", "content"))
    val streamed = Collection(spark, freshRoot(), "t")
    val mem = MemoryStream[(String, String)]
    val q = streamed.streamIngest(mem.toDF().toDF("id", "content")).start()
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def content(c: Collection): Set[(String, String)] =
      c.docs().collect().map(r => r.getAs[String]("id") -> r.getAs[String]("content")).toSet
    assert(content(batched).size == 30)
    assert(content(streamed) == content(batched))
    Seq("alpha", "beta", "common", "doc15").foreach { t =>
      assert(streamed.query(t).total == batched.query(t).total, t)
    }
    Seq(batched, streamed).foreach(c =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(c.root)))
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
    val distArm = TestSpark.withConfs("spark.graft.ivf.driverTrainMaxBytes" -> "1")(
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
