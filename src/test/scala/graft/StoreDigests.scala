package graft

import graft.api.{Collection, Embedder}
import graft.index.Stores
import org.apache.spark.sql.types.StructType

/** Store-digest probe: runs fixed write lifecycles and writes one TSV line
  * per (lifecycle, step, store) with the resolved row count, a SHA-256 over
  * the sorted resolved rows, and the number of parquet files under the
  * store's partition (base and delta segments together).
  *
  * {{{
  *   sbt "Test/runMain graft.StoreDigests digests.tsv"
  * }}}
  *
  * Two revisions hold the same rows when the `rows` and `sha256` columns
  * of their outputs agree; `files` reports the file layout on its own,
  * which may differ. The impact meta's watermark value (a filesystem
  * fingerprint of the postings store) is masked; its staleness flag is
  * kept.
  *
  * Lifecycles: each vector kind (LSH, IVF, PQ, IVF-PQ) with a MinHash and
  * an impact index, plus a collection without full-text search, each on
  * the merge path and on the delta path (direct merges off, no automatic
  * compaction). Steps: build, add, update, delete, a second add that
  * brings a deleted id back, dedup, compact.
  */
object StoreDigests {

  /** Deterministic 8-dim embedding from the text's hash. */
  private object HashEmbedder extends Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val r = new scala.util.Random(t.hashCode.toLong)
      Array.fill(8)(r.nextFloat() * 2f - 1f)
    }
  }

  private val stores: Seq[(String, String => String, StructType)] = Seq(
    ("docs", Stores.docsDir, Stores.docsSchema),
    ("postings", Stores.postingsDir, Stores.postingsSchema),
    ("doclen", Stores.doclenDir, Stores.doclenSchema),
    ("collstats", Stores.collStatsDir, Stores.collStatsSchema),
    ("annindex", Stores.annDir, Stores.annSchema),
    ("annivf", Stores.ivfDir, Stores.ivfSchema),
    ("annivfcent", Stores.ivfCentDir, Stores.ivfCentSchema),
    ("annpq", Stores.pqDir, Stores.pqSchema),
    ("annpqbook", Stores.pqBookDir, Stores.pqBookSchema),
    ("annivfpq", Stores.ivfPqDir, Stores.ivfPqSchema),
    ("minhash", Stores.minhashDir, Stores.minhashSchema),
    ("impactmeta", Stores.impactMetaDir, Stores.impactMetaSchema))

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu")

  private def text(i: Int, tag: String): String =
    (0 until 4 + i % 5).map(j => vocab((i * 7 + j * j * 3) % vocab.size))
      .mkString(s"$tag ", " ", "")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("store-digests.tsv")
    val spark = TestSpark.spark
    val lines = Seq.newBuilder[String]
    lines += "lifecycle\tstep\tstore\trows\tsha256\tfiles"

    def digest(c: Collection, lifecycle: String, step: String): Unit =
      stores.foreach { case (store, dir, schema) =>
        val rows = Stores.readPartition(spark, dir(c.root), c.name, schema)
          .collect().map { r =>
            if (store == "impactmeta" && r.getString(0) == graft.exec.ImpactTopK.WatermarkKey)
              s"[watermark,${r.getLong(2)}]"
            else r.toString
          }.sorted
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
        val sha = md.digest().map(b => f"$b%02x").mkString
        val part = new java.io.File(Stores.partitionPath(dir(c.root), c.name))
        def files(f: java.io.File): Int =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        lines += s"$lifecycle\t$step\t$store\t${rows.length}\t$sha\t${files(part)}"
      }

    val vectorBuilds: Seq[(String, Collection => Unit)] = Seq(
      "lsh" -> (_.createVectorIndex(numTables = 4, numPlanes = 3, dim = 8)),
      "ivf" -> (_.createVectorIndex(kind = "ivf", numCentroids = 3, iters = 3,
        maxSample = 1000, nprobe = 2)),
      "pq" -> (_.createVectorIndex(kind = "pq", m = 4, numCentroids = 8, iters = 3,
        maxSample = 1000)),
      "ivfpq" -> (_.createVectorIndex(kind = "ivfpq", numCentroids = 3, nprobe = 2,
        m = 4, iters = 3, maxSample = 1000)))
    val lifecycles: Seq[(String, Boolean, Option[Collection => Unit])] =
      vectorBuilds.map { case (k, b) => (k, true, Some(b)) } :+ (("nofts", false, None))

    for ((kind, fts, build) <- lifecycles; deltaPath <- Seq(false, true)) {
      val lifecycle = s"$kind-${if (deltaPath) "delta" else "merge"}"
      val root = java.nio.file.Files.createTempDirectory("graft-digests-").toString
      val c = Collection(spark, root, "c", Some(HashEmbedder), useFts = fts)
      val base = (0 until 40).map(i => s"d$i")
      // d38/d39 repeat d0/d1's text: dedup has planted copies to remove
      c.add(base.indices.map(i => text(if (i >= 38) i - 38 else i, "base")), ids = Some(base))
      build.foreach(_(c))
      c.createDedupIndex(n = 2, bands = 8, rowsPerBand = 2)
      if (fts) c.createImpactIndex(cap = 4)
      digest(c, lifecycle, "build")
      val confs = if (deltaPath) Seq("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") else Nil
      TestSpark.withConfs(confs: _*) {
        val added = (0 until 6).map(i => s"n$i")
        c.add(added.indices.map(i => text(i + 50, "added")), ids = Some(added))
        digest(c, lifecycle, "add")
        val upd = Seq("d2", "d5", "n0")
        c.update(upd, upd.indices.map(i => text(i + 70, "updated")))
        digest(c, lifecycle, "update")
        c.delete(Seq("d3", "n1", "d7"))
        digest(c, lifecycle, "delete")
        c.add(Seq(text(90, "late"), text(91, "late")), ids = Some(Seq("m0", "d3")))
        digest(c, lifecycle, "second add")
        c.dedup(0.8)
        digest(c, lifecycle, "dedup")
        c.compact()
        digest(c, lifecycle, "compact")
      }
      println(s"StoreDigests: $lifecycle done")
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try lines.result().foreach(w.println) finally w.close()
    println(s"StoreDigests: wrote $out")
    spark.stop()
  }
}
