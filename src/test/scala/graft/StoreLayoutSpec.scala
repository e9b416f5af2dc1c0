package graft

import graft.index.Stores
import graft.tools.ScanStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Files-read pins for the `rangeBy` store layout (Stores.overwritePartition):
  * disjoint key ranges across files mean a literal-key read prunes WHOLE
  * FILES at the parquet footer, not just row groups inside every file. The
  * claim lives in Stores.scala as a comment; these tests make it a fact the
  * build enforces (r13 verdict #2 / carried punch #4).
  */
class StoreLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft-layout-").toString

  /** Rows the file scans EMITTED for a literal-key read of the store —
    * pruned row groups emit nothing, so this measures real IO skip.
    */
  private def scannedForKey(storeDir: String, keyCol: String, key: String,
                            schema: org.apache.spark.sql.types.StructType): (Long, Long) =
    ScanStats.collectAndScanRows(
      Stores.readPartition(spark, storeDir, "t", schema).filter(col(keyCol) === key))

  test("range-laid postings: single-term read skips whole files; unranged reads everything") {
    // Coalescing off for the writes: the test frame compresses to almost
    // nothing (constant tf/dl, repeated terms), so AQE folds the range
    // shuffle into ONE file at any realistic advisory size — hiding the
    // very property under test (multiple files with disjoint ranges).
    val coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // r19: write partitioning is size-adaptive (est/rangeTargetBytes) — pin
    // a small target so this skip-pin fixture actually spans files, like
    // a production-size store does under the default
    spark.conf.set("spark.graft.store.rangeTargetBytes", (1L << 20).toString)
    try {
      val total = 200000L
      val postings = spark.range(total).select(
        format_string("term%04d", $"id" % 512).as("term"),
        $"id".cast("string").as("id"), lit(1L).as("tf"), lit(10L).as("dl"))
        .repartition(4) // random input layout, like a fresh derive
      val ranged = freshStore()
      val flat = freshStore()
      Stores.overwritePartition(spark, ranged, "t", postings,
        sortBy = Seq("term"), rangeBy = Seq("term"))
      Stores.overwritePartition(spark, flat, "t", postings)

      val files = new java.io.File(Stores.partitionPath(ranged, "t"))
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 3, s"range layout must spread across files (got $files)")

      val (nR, scannedRanged) = scannedForKey(ranged, "term", "term0007", Stores.postingsSchema)
      val (nF, scannedFlat) = scannedForKey(flat, "term", "term0007", Stores.postingsSchema)
      assert(nR === nF, "layouts must agree on the result")
      assert(nR > 0)
      // unranged: every file's min/max spans the whole term space — nothing
      // prunes, the scan emits (at least) the full store
      assert(scannedFlat >= (total * 9) / 10,
        s"unranged store unexpectedly pruned (scanned $scannedFlat of $total)")
      // ranged: only the file(s) owning the term's range survive the footer
      assert(scannedRanged <= total / 2,
        s"range layout failed to skip files (scanned $scannedRanged of $total)")
      assert(scannedRanged * 2 <= scannedFlat,
        s"range layout must beat unranged IO ($scannedRanged vs $scannedFlat)")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coal)
      spark.conf.unset("spark.graft.store.rangeTargetBytes")
    }
  }

  test("id-clustered docs store: a k-id fetch scans a file slice, not the corpus") {
    // the searchTopK serving shape: k driver-known ids fetched from the docs
    // store via a pushed In predicate — with docs full rewrites rangeBy(id),
    // the footer check skips files outside the ids' ranges (r13 punch #7)
    val coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.graft.store.rangeTargetBytes", (256L << 10).toString)
    try {
      val c = graft.api.Collection(spark, freshStore(), "t", useFts = false)
      val docs = spark.range(20000).select(
        format_string("d%05d", $"id").as("id"),
        concat(lit("body text payload "), $"id".cast("string"),
          lit(" "), sha2($"id".cast("string"), 256)).as("content"))
        .repartition(4)
      c.addDf(docs)
      val files = new java.io.File(Stores.partitionPath(c.root + "/docs", "t"))
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 3, s"docs layout must spread across files (got $files)")
      // 10 ids from the interior of ONE written file: the range boundaries
      // move with RangePartitioner's sample (seeded by the RDD id), so fixed
      // ids near a boundary could straddle two files
      val file = c.docs().groupBy(input_file_name().as("f"))
        .agg(min($"id"), max($"id"), count(lit(1))).orderBy($"f").head()
      val (lo, hi, fileRows) =
        (file.getString(1).drop(1).toInt, file.getString(2).drop(1).toInt, file.getLong(3))
      assert(hi - lo >= 10, s"file range d$lo..d$hi too narrow")
      val mid = (lo + hi) / 2
      val wanted = (mid - 5 until mid + 5).map(i => f"d$i%05d")
      val (n, scanned) = ScanStats.collectAndScanRows(
        c.docs().filter($"id".isin(wanted: _*)))
      assert(n === 10L)
      assert(scanned <= fileRows,
        s"id-clustered docs fetch must skip files (scanned $scanned, file rows $fileRows of 20000)")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coal)
      spark.conf.unset("spark.graft.store.rangeTargetBytes")
    }
  }

  test("compacted collection postings carry the range layout end-to-end") {
    // through the REAL write path: ingest in two batches (delta), compact
    // (range rewrite), then measure a single-term read of the store the
    // query path uses
    // coalescing off: the corpus compresses near the advisory boundary, so
    // the default policy nondeterministically folds the compact's range
    // shuffle to one file — the pin needs the multi-file layout itself
    val coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.graft.store.rangeTargetBytes", (256L << 10).toString)
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
    spark.conf.set("spark.graft.compact.auto", "false")
    try {
      val c = graft.api.Collection(spark, freshStore(), "t")
      def batch(lo: Int, hi: Int) = (lo until hi).map { i =>
        (s"d$i", (0 until 24).map(j => f"w${(i * 7 + j * 13) % 400}%03d").mkString(" "))
      }.toDF("id", "content").repartition(4)
      c.addDf(batch(0, 6000))
      c.addDf(batch(6000, 12000))
      c.compact()
      val store = c.root + "/postings"
      val files = new java.io.File(Stores.partitionPath(store, "t"))
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 2, s"compacted postings must span files (got $files)")
      val probe = Stores.readPartition(spark, store, "t", Stores.postingsSchema)
        .filter($"term" === "w007")
      val (n, scanned) = ScanStats.collectAndScanRows(probe)
      assert(n > 0)
      val totalRows = Stores.readPartition(spark, store, "t", Stores.postingsSchema).count()
      assert(scanned * 2 <= totalRows,
        s"compacted range layout must skip files (scanned $scanned of $totalRows)")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coal)
      spark.conf.unset("spark.graft.store.rangeTargetBytes")
      spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
      spark.conf.set("spark.graft.compact.auto", "true")
    }
  }

  test("postings sort by (term, tf): a tf-bound read skips the hot term's low-tf row groups") {
    // the certified impact top-k's candidate read (term = t AND tf > bound)
    // through the REAL full-write path; small row groups for the write
    // only, so the hot term spans many of them like it does at scale
    spark.conf.set("parquet.block.size", (32L << 10).toString)
    val c = try {
      val c = graft.api.Collection(spark, freshStore(), "t")
      c.addDf((0 until 8000).map { i =>
        (f"d$i%05d", (Seq.fill(1 + i % 40)("hot") :+ f"w${i % 300}%03d").mkString(" "))
      }.toDF("id", "content").repartition(4))
      c
    } finally spark.conf.unset("parquet.block.size")
    val post = Stores.readPartition(spark, c.root + "/postings", "t", Stores.postingsSchema)
    val (df, termScanned) = ScanStats.collectAndScanRows(post.filter($"term" === "hot"))
    assert(df === 8000L)
    assert(termScanned >= df, "the term-only read must see all of the term's rows")
    val (n, scanned) = ScanStats.collectAndScanRows(
      post.filter($"term" === "hot" && $"tf" > 32L))
    assert(n === (0 until 8000).count(i => 1 + i % 40 > 32).toLong)
    assert(scanned * 2 <= df,
      s"a tf-bound read must skip low-tf row groups (scanned $scanned of $df)")
  }
}
