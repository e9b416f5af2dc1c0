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

  /** Embeds each text as a deterministic 4-vector from its hash. */
  private object HashEmbedder extends graft.api.Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val r = new scala.util.Random(t.hashCode.toLong)
      Array.fill(4)(r.nextFloat() * 2f - 1f)
    }
  }

  /** A small FTS collection with `build`'s vector index, a MinHash index
    * and an impact index. */
  private def indexed(build: graft.api.Collection => Unit): graft.api.Collection = {
    val c = graft.api.Collection(spark, freshStore(), "t", Some(HashEmbedder))
    c.add((0 until 24).map(i => s"doc $i words w${i % 5} w${i % 7} w${i % 3}"),
      ids = Some((0 until 24).map(i => f"d$i%02d")))
    build(c)
    c.createDedupIndex(n = 2, bands = 4, rowsPerBand = 2)
    c.createImpactIndex(cap = 4)
    c
  }

  test("every store partition is one file sorted by its key after build, add and delete") {
    // (store, sort key) of every partition a collection keeps
    val keys = Seq("docs" -> Seq("id"), "postings" -> Seq("term", "tf"),
      "doclen" -> Seq("id"), "collstats" -> Nil, "annindex" -> Seq("table", "bucket"),
      "annivf" -> Seq("cluster"), "annivfcent" -> Seq("cluster"), "annpq" -> Seq("id"),
      "annpqbook" -> Seq("subspace", "code"), "annivfpq" -> Seq("cluster"),
      "minhash" -> Seq("band", "bh"), "impactmeta" -> Seq("id"))
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Long.compare(x.longValue, y.longValue)
    }
    val builds: Seq[(String, graft.api.Collection => Unit)] = Seq(
      "lsh" -> (_.createVectorIndex(numTables = 2, numPlanes = 2, dim = 4)),
      "ivf" -> (_.createVectorIndex(kind = "ivf", numCentroids = 2, nprobe = 1, iters = 2)),
      "pq" -> (_.createVectorIndex(kind = "pq", m = 2, numCentroids = 4, iters = 2)),
      "ivfpq" -> (_.createVectorIndex(kind = "ivfpq", numCentroids = 2, nprobe = 1,
        m = 2, iters = 2)))
    for ((kind, build) <- builds) {
      val c = indexed(build)
      c.add(Seq("added one w1", "added two w2"), ids = Some(Seq("n0", "n1")))
      c.delete(Seq("d03", "d04", "n0"))
      assert(Stores.deltaCount(spark, Stores.docsDir(c.root), "t") === 0, "merge path")
      val present = keys.filter { case (store, _) =>
        Stores.partitionExists(spark, s"${c.root}/$store", "t") }
      assert(present.size >= 7, s"$kind: ${present.map(_._1)}")
      for ((store, key) <- present) {
        val files = new java.io.File(Stores.partitionPath(s"${c.root}/$store", "t"))
          .listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length === 1, s"$kind/$store: ${files.length} files")
        val rows = spark.read.parquet(files.head.getPath).select(key.map(col): _*)
          .collect().map(_.toSeq)
        val ordered = rows.sliding(2).forall {
          case Array(a, b) => a.zip(b).map { case (x, y) => cmp(x, y) }
            .find(_ != 0).forall(_ < 0)
          case _ => true
        }
        assert(ordered, s"$kind/$store: rows not sorted by ${key.mkString(", ")}")
      }
    }
  }

  test("delta segments: one file per gone sidecar, and reads log no ignored paths") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val c = indexed(_.createVectorIndex(numTables = 2, numPlanes = 2, dim = 4))
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      c.add(Seq("added one w1", "added two w2"), ids = Some(Seq("n0", "n1")))
      c.delete((0 until 10).map(i => f"d$i%02d"))
    }
    val gone = new java.io.File(c.root).listFiles().toSeq
      .flatMap(store => Option(new java.io.File(store, "collection=t").listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith("-gone"))
    // the upsert's postings, LSH and MinHash sidecars (docs and doclen rows
    // claim their ids), then the delete's sidecar in each of those five
    assert(gone.size === 8, gone.map(_.getPath).mkString(", "))
    for (g <- gone)
      assert(g.listFiles().count(_.getName.startsWith("part-")) === 1, g.getPath)
    // the appender hangs off the ROOT LoggerConfig of the current context
    // (a named-logger appender captures nothing on Spark's slf4j route)
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("graft-ignored-paths", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("paths were ignored"))
          events.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      assert(c.count() === 16L)
      assert(c.query("w1").total === c.docs().filter($"content".rlike("\\bw1\\b")).count())
      assert(c.vectorIndex().get.buckets.select("id").distinct().count() === 16L)
      c.delete(Seq("d10")) // the cross-collection scan reads delta files too
      assert(c.count() === 15L)
    } finally {
      rootCfg.removeAppender("graft-ignored-paths")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(events.isEmpty, events.toArray.mkString("\n"))
  }

  test("a delta-path delete writes only gone sidecars; reads, history, docsAsOf and compact hold") {
    val c = indexed(_.createVectorIndex(numTables = 2, numPlanes = 2, dim = 4))
    def segments(store: String): Seq[String] =
      Option(new java.io.File(Stores.partitionPath(s"${c.root}/$store", "t")).listFiles())
        .toSeq.flatten.map(_.getName).filter(_.startsWith(".delta-")).sorted
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      c.add(Seq("added one w1", "added two w2"), ids = Some(Seq("n0", "n1")))
      c.delete(Seq("d03", "d04", "n0"))
      // the delete's segment (ordinal 2) in every id-keyed store: its gone
      // sidecar, no data dir
      for (store <- Seq("docs", "postings", "doclen", "annindex", "minhash")) {
        val segs = segments(store)
        assert(segs.contains(".delta-00000002-gone"), s"$store: $segs")
        assert(!segs.contains(".delta-00000002"), s"$store: $segs")
      }
      val live = (0 until 24).map(i => f"d$i%02d").filterNot(Set("d03", "d04")) :+ "n1"
      assert(c.docs().select("id").as[String].collect().sorted.toSeq === live.sorted)
      assert(c.count() === 23L)
      assert(c.query("w1").total === c.docs().filter($"content".rlike("\\bw1\\b")).count())
      assert(c.vectorIndex().get.buckets.select("id").distinct().count() === 23L)
      assert(c.history() === Seq(0L, 1L, 2L))
      assert(c.docsAsOf(1).count() === 26L)
      assert(c.docsAsOf(2).count() === 23L)
      // the next segment takes the next ordinal: a gone-only one counts
      c.add(Seq("added three w3"), ids = Some(Seq("n2")))
      assert(segments("docs").contains(".delta-00000003"), segments("docs"))
      assert(c.history() === Seq(0L, 1L, 2L, 3L))
      assert(c.docsAsOf(2).count() === 23L && c.count() === 24L)
      c.compact()
      assert(segments("docs").isEmpty && segments("postings").isEmpty)
      assert(c.history() === Seq(0L))
      assert(c.docs().select("id").as[String].collect().sorted.toSeq === (live :+ "n2").sorted)
      assert(c.query("added").total === 2L)
    }
  }

  test("a delete segment written with an empty data file reads the same as a gone-only one") {
    val rows = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("id", "v")
    val gone = Seq("b").toDF("id")
    val withFile = freshStore() + "/s"
    val goneOnly = freshStore() + "/s"
    for (dir <- Seq(withFile, goneOnly)) Stores.overwritePartition(spark, dir, "t", rows)
    Stores.appendDelta(spark, withFile, "t", rows.limit(0), gone = Some(gone))
    Stores.appendGone(spark, goneOnly, "t", gone)
    val schema = rows.schema
    for (dir <- Seq(withFile, goneOnly)) {
      def ids(seg: Long) = Stores.readPartitionAsOf(spark, dir, "t", schema, seg)
        .select("id").as[String].collect().sorted.toSeq
      assert(ids(Long.MaxValue) === Seq("a", "c"), dir)
      assert(ids(0L) === Seq("a", "b", "c"), dir)
      assert(Stores.deltaOrdinals(spark, dir, "t") === Seq(0L, 1L), dir)
      Stores.appendDelta(spark, dir, "t", Seq(("b", 5L)).toDF("id", "v"))
      assert(Stores.deltaOrdinals(spark, dir, "t") === Seq(0L, 1L, 2L), dir)
      assert(Stores.readPartition(spark, dir, "t", schema).as[(String, Long)].collect()
        .sorted.toSeq === Seq(("a", 1L), ("b", 5L), ("c", 3L)), dir)
      Stores.compactPartition(spark, dir, "t", schema)
      assert(Stores.deltaCount(spark, dir, "t") === 0, dir)
      assert(Stores.readPartition(spark, dir, "t", schema).count() === 3L, dir)
    }
  }
}
