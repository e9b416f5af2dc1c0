package graft

import graft.api.Collection
import graft.ext.LshIndex
import graft.functions.VectorFunctions
import graft.index.Stores
import graft.plans.AnnCatalog
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.*` session knobs: bad values fail naming the key,
  * booleans parse like Spark's, and the library reads no other key.
  */
class GraftConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-conf-").toString

  private def assertRejected(key: String, value: String)(f: => Unit): Unit = {
    val e = TestSpark.withConfs(key -> value)(intercept[IllegalArgumentException](f))
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"), e.getMessage)
  }

  test("rangeTargetBytes=0 is rejected naming the key") {
    val df = (0 until 10).map(i => s"d$i").toDF("id")
    assertRejected("spark.graft.store.rangeTargetBytes", "0")(
      Stores.overwritePartition(spark, freshRoot() + "/store", "t", df, rangeBy = Seq("id")))
  }

  test("a malformed directUpsertMaxBytes is rejected naming the key") {
    val c = Collection(spark, freshRoot(), "t")
    c.add(Seq("alpha"), ids = Some(Seq("d0")))
    assertRejected("spark.graft.store.directUpsertMaxBytes", "abc")(
      c.add(Seq("beta"), ids = Some(Seq("d1"))))
    assert(c.count() == 1)
  }

  test("ann.rewrite parses case-insensitively; a non-boolean is rejected") {
    AnnCatalog.install(spark)
    val path = freshRoot() + "/corpus.parquet"
    (0 until 20).map(i => (f"v$i%02d", Seq(1.0f, 0.01f * i, 0f, 0f)))
      .toDF("id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.parquet(path)
    val corpus = spark.read.parquet(path)
    def rewritten(): Boolean = corpus
      .withColumn("sim", VectorFunctions.cosine(col("embedding"),
        VectorFunctions.vecLit(Seq(1.0f, 0f, 0f, 0f))))
      .orderBy(col("sim").desc, col("id").asc).limit(3)
      .queryExecution.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }
    AnnCatalog.register(spark, path, AnnCatalog.Entry("id", "embedding",
      AnnCatalog.LshRegistered(LshIndex.build(corpus, numTables = 4, numPlanes = 2, dim = 4))))
    try {
      assert(rewritten())
      assert(TestSpark.withConfs("spark.graft.ann.rewrite" -> "TRUE")(rewritten()))
      assert(!TestSpark.withConfs("spark.graft.ann.rewrite" -> "False")(rewritten()))
      assertRejected("spark.graft.ann.rewrite", "yes")(rewritten())
    } finally AnnCatalog.clear()
  }

  test("src/main reads only the six operational spark.graft keys") {
    // a new A/B compares two git revisions; it does not ship a conf
    val allowed = Set(
      "spark.graft.store.rangeTargetBytes",
      "spark.graft.store.directUpsertMaxBytes",
      "spark.graft.compact.auto",
      "spark.graft.ivf.driverTrainMaxVecs",
      "spark.graft.ivf.driverTrainMaxBytes",
      "spark.graft.ann.rewrite")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val keys = files(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      literal.findAllMatchIn(src).map(m => m.group(1) -> f.getName)
    }
    val others = keys.filterNot { case (k, _) => allowed(k) }
    assert(others.isEmpty, s"spark.graft keys outside the six knobs: ${others.mkString(", ")}")
    assert(keys.map(_._1).toSet == allowed, "the scan must see every knob's literal")
  }
}
