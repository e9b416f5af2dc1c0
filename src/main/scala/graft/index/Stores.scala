package graft.index

import graft.GraftConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed stores for the engine, all laid out as
  * `<root>/<store>/collection=<name>/…` so every read is partition-pruned by
  * collection — the Spark-native replacement for the reference's btree on the
  * `name` column (reference: src/sifts/core.py:112, 615).
  *
  * Full rewrites go through write-to-temp + atomic-ish directory swap (the
  * reference's per-op transaction, core.py:446-455, becomes a partition
  * commit). Incremental mutations use a BASE + DELTA SEGMENT layout so a
  * micro-batch writes O(batch) bytes, never O(collection):
  *
  *   - The BASE is the flat parquet files of the partition dir (exactly the
  *     pre-segment layout, so compacted partitions are indistinguishable
  *     from old ones).
  *   - Each delta is a `.delta-NNNNNNNN` subdirectory (an id-level
  *     REPLACEMENT batch: the segment's rows become the only rows of every
  *     id it claims) and/or a `.delta-NNNNNNNN-gone` sidecar claiming ids
  *     with no surviving rows (deletes, token-less docs). A delete writes
  *     the sidecar alone — a gone-only segment. Spark's hidden-path filter
  *     skips dot-dirs, so the base read never sees them; segment reads
  *     name the part files inside.
  *   - [[readPartition]] resolves last-wins per id: the newest segment that
  *     claims an id owns every row of it. The claims frame is O(delta rows)
  *     — small between compactions — so the resolution join broadcasts and
  *     the base side never shuffles.
  *   - [[compactPartition]] folds the deltas back into a flat base.
  *
  * On a real deployment this layer is where a table format with
  * transactional commits (merge-on-read + compaction) would slot in; the
  * segment layout reproduces that shape on bare parquet.
  */
object Stores {

  /** Compact a partition once it accumulates this many deltas (callers'
    * default policy; each delta adds one union branch + its claim rows to
    * every read until compaction).
    */
  val MaxDeltas: Int = 32

  private val goneSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false)))

  val docsSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("content", StringType),
    StructField("metadata", MapType(StringType, StringType), nullable = true),
    StructField("embedding", ArrayType(FloatType), nullable = true)
  ))

  /** postings: one row per (doc, term); `tf` term frequency, `dl` doc length
    * in tokens (denormalized for BM25 — avoids a per-query join to a doc-length
    * table).
    */
  val postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false)
  ))

  /** collstats: single row per collection — N docs, avg doc length. */
  val collStatsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType, nullable = false),
    StructField("avg_dl", DoubleType, nullable = false)
  ))

  /** doclen: one skinny row per doc (id, token count). Exists so the
    * per-upsert stats refresh aggregates O(n_docs) 16-byte rows instead of
    * the O(Σ dl) postings store — the difference between a ~10 s and a
    * sub-second micro-batch at 1M docs (ProbeScale `microbatch_big`), and
    * between scanning terabytes and gigabytes at the 100 TB target.
    * Stored range-clustered + sorted by id, like docs; delta-maintained
    * exactly like docs/postings.
    */
  val doclenSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("dl", LongType, nullable = false)
  ))

  /** annindex: one row per (doc, LSH table) with the doc's bucket in that
    * table; the generating plane parameters ride along as constant columns
    * (parquet RLE-encodes them to nothing) so the index is self-describing.
    * Stored range-clustered + sorted by (table, bucket) — probe predicates
    * are literal (table, bucket) filters that prune row groups.
    */
  val annSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("table", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("num_tables", IntegerType, nullable = false),
    StructField("num_planes", IntegerType, nullable = false),
    StructField("dim", IntegerType, nullable = false),
    StructField("seed", LongType, nullable = false)
  ))

  /** annivf: one row per embedded doc — its IVF posting list (cluster).
    * Stored range-clustered + sorted by cluster (builds and rewrites
    * alike) so literal `cluster IN (…)` probes prune files and row groups.
    * Delta-maintained like annindex.
    */
  val ivfSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("cluster", IntegerType, nullable = false)
  ))

  /** annivfcent: k rows — the unit-norm centroid table plus the build
    * parameters (constant columns, RLE-free) so maintenance and retrain
    * need no caller-carried state. Overwrite-only (never deltas), one
    * file in cluster order.
    */
  val ivfCentSchema: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = false),
    StructField("nprobe", IntegerType, nullable = false),
    StructField("iters", IntegerType, nullable = false),
    StructField("max_sample", IntegerType, nullable = false),
    StructField("seed", LongType, nullable = false)
  ))

  /** annpq: one row per embedded doc — its m-byte PQ code vector (the
    * whole searchable index is m bytes/doc; a 100 TB float corpus's codes
    * fit in low terabytes). ADC probes scan every code row by design (no
    * clustering key to prune on), so the layout is range-clustered +
    * sorted by id, like docs. Delta-maintained like annindex/annivf.
    */
  val pqSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)
  ))

  /** annpqbook: m×k rows — the trained sub-codebooks (subspace, code,
    * codeword) plus the build/probe parameters as constant columns
    * (RLE-free), so maintenance and retrain need no caller-carried state.
    * Overwrite-only (never deltas), one file in (subspace, code) order,
    * like annivfcent.
    */
  val pqBookSchema: StructType = StructType(Seq(
    StructField("subspace", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("codeword", ArrayType(FloatType), nullable = false),
    StructField("cand_k", IntegerType, nullable = false),
    StructField("iters", IntegerType, nullable = false),
    StructField("max_sample", IntegerType, nullable = false),
    StructField("seed", LongType, nullable = false),
    // true = IVF-PQ codes are residuals (vector − coarse centroid); NULL in
    // pre-residual stores reads as raw encoding, so old indexes keep
    // serving correctly until their next rebuild
    StructField("residual", BooleanType, nullable = true)
  ))

  /** annivfpq: one row per embedded doc — its coarse IVF list plus its
    * m-byte PQ codes (the FAISS IVFPQ layout). Stored range-clustered +
    * sorted by cluster (builds and rewrites alike), so a probe's literal
    * `cluster IN (…)` prunes row groups and the ADC scan reads ~nprobe/k
    * of the codes instead of all of them (the missing piece of the flat
    * PQ index at 100 TB). Shares
    * the centroid table (annivfcent) and codebook table (annpqbook) with
    * the single-structure kinds. Delta-maintained like annivf/annpq.
    */
  val ivfPqSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("cluster", IntegerType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)
  ))

  /** minhash: one skinny row per (doc, LSH band) with the band hash over
    * the doc's MinHash signature — the persisted dedup-screening index.
    * The shape parameters ride along as constant columns (RLE'd to
    * nothing) so the index is self-describing: query-time signatures MUST
    * band identically or buckets never collide. No signature/shingle
    * payload is stored — verification re-derives the few candidates'
    * shingle sets from the docs store, keeping this index a fraction of
    * corpus size (bands × 12 bytes/doc). Stored range-clustered + sorted by
    * (band, bh), the probe's join key. Delta-maintained like annindex.
    */
  val minhashSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("bands", IntegerType, nullable = false),
    StructField("rows_per_band", IntegerType, nullable = false)
  ))

  /** impactmeta: the certified impact top-k index over postings. One row
    * per term — EXACT document frequency plus `bound_tf`, the tf at rank
    * `cap` (0 when the term has at most `cap` postings); serving reads only
    * the postings above it — and two sentinel rows: the cap row
    * (id = [[graft.exec.ImpactTopK.CapKey]], df = cap) and the watermark
    * row (id = [[graft.exec.ImpactTopK.WatermarkKey]], df = the postings
    * [[partitionFingerprint]] the meta reflects, bound_tf = the
    * df-staleness flag). A watermark behind the postings (a crash window
    * between a postings write and this store's) makes serving fall back
    * to full scoring instead of silently serving stale idf. Keyed by
    * `id` = the term, so the segment layout's last-wins-by-id resolution
    * gives last-wins-per-term meta updates; rebuilds are range-clustered
    * + sorted by id. Updates/deletes only flag df stale (their vanished
    * terms are unknowable in O(batch)); compact() re-derives it.
    */
  val impactMetaSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("bound_tf", LongType, nullable = false)
  ))

  def docsDir(root: String) = s"$root/docs"
  def impactMetaDir(root: String) = s"$root/impactmeta"
  def postingsDir(root: String) = s"$root/postings"
  def collStatsDir(root: String) = s"$root/collstats"
  def annDir(root: String) = s"$root/annindex"
  def doclenDir(root: String) = s"$root/doclen"
  def ivfDir(root: String) = s"$root/annivf"
  def ivfCentDir(root: String) = s"$root/annivfcent"
  def pqDir(root: String) = s"$root/annpq"
  def pqBookDir(root: String) = s"$root/annpqbook"
  def ivfPqDir(root: String) = s"$root/annivfpq"
  def minhashDir(root: String) = s"$root/minhash"

  private def partDir(storeDir: String, collection: String): String =
    s"$storeDir/collection=${java.net.URLEncoder.encode(collection, "UTF-8")}"

  /** The on-disk path of one collection's partition of a store (the path a
    * scan of that partition reports as its root — e.g. the ANN-rewrite
    * registry key).
    */
  def partitionPath(storeDir: String, collection: String): String =
    partDir(storeDir, collection)

  /** Whether one collection's partition of a store exists on disk. */
  def partitionExists(spark: SparkSession, storeDir: String, collection: String): Boolean =
    exists(spark, partDir(storeDir, collection))

  /** One delta segment: its rows dir and/or its gone sidecar. */
  private case class Delta(ordinal: Long, dataDir: Option[String], goneDir: Option[String])

  /** The parquet part files of one segment dir. A read names them, never
    * the dir: Spark ignores a root path whose own name is hidden (the
    * segment's leading dot) and warns "All paths were ignored" on every
    * read, while a part file's name is visible.
    */
  private def partFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }

  /** `files` read under `schema`; empty (with schema) for no files. */
  private def readFiles(spark: SparkSession, schema: StructType,
                        files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(files: _*)

  /** The partition's delta segments, ascending by ordinal — the ordinals
    * of data dirs and gone sidecars together, so a gone-only segment
    * counts (and its ordinal is never reused). */
  private def deltas(spark: SparkSession, dir: String): Seq[Delta] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val names = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".delta-"))
      .map(_.getPath.getName).toSet
    names.map(_.stripPrefix(".delta-").stripSuffix("-gone").toLong).toSeq.sorted.map { o =>
      val n = f".delta-$o%08d"
      Delta(o, Some(n).filter(names).map(d => s"$dir/$d"),
        Some(s"$n-gone").filter(names).map(g => s"$dir/$g"))
    }
  }

  /** How many delta segments a partition currently carries. */
  def deltaCount(spark: SparkSession, storeDir: String, collection: String): Int =
    deltas(spark, partDir(storeDir, collection)).size

  /** Surviving segment ordinals, ascending, 0 (the base) included — the
    * snapshots [[readPartitionAsOf]] can still reach. */
  def deltaOrdinals(spark: SparkSession, storeDir: String, collection: String): Seq[Long] = {
    val dir = partDir(storeDir, collection)
    if (!exists(spark, dir)) Seq.empty
    else 0L +: deltas(spark, dir).map(_.ordinal)
  }

  /** The part files of the partition's delta DATA dirs (no gone
    * sidecars), ascending — for callers that scan delta-added rows across
    * collections in one job (hidden dot-dirs are invisible to a whole-store
    * scan).
    */
  def deltaDataFiles(spark: SparkSession, storeDir: String,
                     collection: String): Seq[String] =
    deltas(spark, partDir(storeDir, collection)).flatMap(_.dataDir).flatMap(partFiles(spark, _))

  /** (base bytes, delta bytes) of a partition — a filesystem listing, no
    * Spark job. Drives size-ratio compaction: a collection whose deltas
    * rival its base folds cheaply NOW, while a huge base accumulates deltas
    * to the count cap (the LSM/table-format compaction heuristic).
    */
  def segmentBytes(spark: SparkSession, storeDir: String,
                   collection: String): (Long, Long) = {
    val p = new Path(partDir(storeDir, collection))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val st = fs.listStatus(p)
    val base = st.filter(_.isFile).map(_.getLen).sum
    val delta = st.filter(s => s.isDirectory && s.getPath.getName.startsWith(".delta-"))
      .map(s => fs.getContentSummary(s.getPath).getLength).sum
    (base, delta)
  }

  /** A cheap change detector for one collection's partition of a store: a
    * hash over (path, mtime, length) of every file under it — a filesystem
    * listing, no Spark job. Any rewrite, delta append, or swap changes it
    * (part files are written once under job-unique names, never mutated in
    * place). 0 = partition absent.
    */
  def partitionFingerprint(spark: SparkSession, storeDir: String,
                           collection: String): Long = {
    val p = new Path(partDir(storeDir, collection))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var h = 1125899906842597L
    while (it.hasNext) {
      val s = it.next()
      h = h * 31 + s.getPath.toString.hashCode
      h = h * 31 + s.getModificationTime
      h = h * 31 + s.getLen
    }
    h
  }

  /** Read one collection's partition of a store; empty (with schema) if
    * absent. With delta segments present, resolves id-level last-wins: every
    * row of an id comes from the newest segment claiming it (base = segment
    * 0). The winners frame is built from the deltas only — O(delta rows) —
    * so between compactions the resolution is a broadcast join against the
    * base scan, never a base shuffle.
    */
  def readPartition(spark: SparkSession, storeDir: String, collection: String,
                    schema: StructType): DataFrame =
    readPartitionAsOf(spark, storeDir, collection, schema, Long.MaxValue)

  /** [[readPartition]] truncated to the segments with ordinal ≤ `maxSeg`
    * (0 = base only) — the time-travel read. History granularity is the
    * SURVIVING segments: compaction and small-store direct merges fold
    * deltas into the base (like a vacuumed Delta table), after which only
    * the folded state is reachable. [[deltaOrdinals]] lists what is
    * currently readable.
    */
  def readPartitionAsOf(spark: SparkSession, storeDir: String, collection: String,
                        schema: StructType, maxSeg: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val dir = partDir(storeDir, collection)
    if (!exists(spark, dir))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val base = spark.read.schema(schema).parquet(dir)
    val segs = deltas(spark, dir).filter(_.ordinal <= maxSeg)
    if (segs.isEmpty || !schema.fieldNames.contains("id")) base
    else {
      // a gone-only segment adds claims, no union branch
      val data = segs.map(d => d -> d.dataDir.map(dd => readFiles(spark, schema, partFiles(spark, dd))))
      val all = data.foldLeft(base.withColumn("__seg", lit(0L))) {
        case (acc, (d, Some(rows))) => acc.unionByName(rows.withColumn("__seg", lit(d.ordinal)))
        case (acc, _) => acc
      }
      val claims = data.map { case (d, rows) =>
        val ids = rows.map(_.select(col("id"))).toSeq ++ d.goneDir.map(g =>
          readFiles(spark, goneSchema, partFiles(spark, g)).select(col("id")))
        ids.reduce(_ unionByName _).withColumn("__w", lit(d.ordinal))
      }.reduce(_ unionByName _)
      val winners = claims.groupBy(col("id")).agg(max(col("__w")).as("__w"))
      all.join(winners, Seq("id"), "left")
        .filter(col("__w").isNull || col("__seg") === col("__w"))
        .select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Append one delta segment to an existing partition: `df`'s rows replace
    * ALL rows of every id they carry; `gone` additionally claims ids that
    * must end up with no rows (deletes; upserted docs whose new state has no
    * rows in this store). Writes O(batch) bytes — the base is never
    * rewritten. Data lands before its gone sidecar, so a crash between the
    * two degrades to an upsert without the extra claims (same atomic-ish
    * contract as the partition swap).
    */
  def appendDelta(spark: SparkSession, storeDir: String, collection: String,
                  df: DataFrame, gone: Option[DataFrame] = None,
                  sortBy: Seq[String] = Nil): Unit = {
    // the read side resolves deltas by id — an id-less schema would accept
    // the write and then silently ignore it on every read
    require(df.columns.contains("id"), "appendDelta: delta frames must carry an id column")
    appendSegment(spark, storeDir, collection, Some(df), gone, sortBy)
  }

  /** Append a gone-only delta segment claiming `gone`'s ids — a delete,
    * which has no rows to write. */
  def appendGone(spark: SparkSession, storeDir: String, collection: String,
                 gone: DataFrame): Unit =
    appendSegment(spark, storeDir, collection, None, Some(gone), Nil)

  /** Writes the next delta segment: `rows` (if any), then the gone sidecar
    * (if any), at one past the newest ordinal, data or gone. */
  private def appendSegment(spark: SparkSession, storeDir: String, collection: String,
                            rows: Option[DataFrame], gone: Option[DataFrame],
                            sortBy: Seq[String]): Unit = {
    val dir = partDir(storeDir, collection)
    require(exists(spark, dir), s"appendDelta: no base partition at $dir")
    val next = deltas(spark, dir).lastOption.map(_.ordinal + 1).getOrElse(1L)
    val name = f".delta-$next%08d"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeVia(out: DataFrame, dest: String): Unit = {
      val tmp = new Path(s"$storeDir/.tmp-${java.util.UUID.randomUUID().toString}")
      out.write.mode("overwrite").parquet(tmp.toString)
      val destPath = new Path(dest)
      // Hadoop rename into an EXISTING directory moves the source inside it
      // and returns true — a concurrent writer's ordinal collision would
      // otherwise lose this batch silently (stores are single-writer per
      // collection; this turns a violation into an error, not data loss)
      if (fs.exists(destPath)) {
        fs.delete(tmp, true)
        throw new java.io.IOException(s"delta ordinal collision (concurrent writer?): $dest")
      }
      if (!fs.rename(tmp, destPath))
        throw new java.io.IOException(s"delta commit failed: $tmp -> $dest")
    }
    // Size-adaptive file count (r19 opt, mirrors overwritePartition): a
    // micro-batch delta otherwise lands as one near-empty file per batch
    // partition (32 after the ingest respread), and every subsequent read
    // resolves ALL of them. coalesce — not repartition — because the
    // delta frames are persisted batches: no recompute, no shuffle.
    // NO caller size hints here, deliberately (r20, measured): unlike the
    // rangeBy rewrites (which REPARTITION — a shuffle, so upstream parallelism survives any
    // partition count), this coalesce(1) clamps the WHOLE unevaluated
    // delta-derivation plan (a micro-batch's tokenize) onto one task, so
    // the decision must come from the delta frame's own estimate, not a
    // caller's batch-input bound — a batch-bytes hint flipped the decision
    // on tokenize-derived deltas and cost 1.06-1.12x on the streaming
    // entries in interleaved A/B.
    // The gone frame takes the same rule: a driver-side id list otherwise
    // lands as one file per local slice, and every read opens each.
    def sized(f: DataFrame) =
      if (f.queryExecution.optimizedPlan.stats.sizeInBytes <
          BigInt(GraftConf.rangeTargetBytes(spark))) f.coalesce(1)
      else f
    rows.map(sized).foreach(r => writeVia(if (sortBy.nonEmpty)
      r.sortWithinPartitions(sortBy.head, sortBy.tail: _*) else r, s"$dir/$name"))
    gone.foreach(g => writeVia(sized(g.select(org.apache.spark.sql.functions.col("id"))),
      s"$dir/$name-gone"))
  }

  /** Fold a partition's delta segments back into a flat base (no-op without
    * deltas). The resolved read consumes the old files while the temp write
    * runs; the swap then drops base and deltas together.
    */
  def compactPartition(spark: SparkSession, storeDir: String, collection: String,
                       schema: StructType, sortBy: Seq[String] = Nil,
                       rangeBy: Seq[String] = Nil): Unit = {
    val dir = partDir(storeDir, collection)
    if (!exists(spark, dir) || deltas(spark, dir).isEmpty) return
    // NO size hint here, deliberately (r20, measured): compaction runs off
    // the ingest path (rare, amortized by MaxDeltas), and its output store
    // serves every subsequent read — the honest segment-bytes hint was
    // 1.10-1.14x slower on the stream-compaction entry in BOTH A/B arm
    // orders because it lands the folded store at fewer files than the
    // optimizer's estimate of the resolve plan does, taxing the reads that
    // follow. The batch mutation paths keep their hints (A/B'd
    // neutral-or-better); this write, like streamIngest's micro-batch
    // upserts (see Collection.upsert), keeps the probe.
    overwritePartition(spark, storeDir, collection,
      readPartition(spark, storeDir, collection, schema), sortBy, rangeBy)
  }

  /** Overwrite one collection's partition: write to a temp dir under the same
    * filesystem, then swap it into place via RENAME-OVER — the live
    * partition is renamed aside (not deleted) before the temp dir takes its
    * place, so no crash window leaves the data only in an orphaned temp dir:
    * the worst crash outcome is a missing partition with the full old copy
    * sitting in a `.old-*` dir beside it ([[sweep]] bounds how long such
    * residue lives). `df` must NOT contain the collection column (it lives
    * in the directory name).
    */
  def overwritePartition(spark: SparkSession, storeDir: String, collection: String,
                         df: DataFrame, sortBy: Seq[String] = Nil,
                         rangeBy: Seq[String] = Nil,
                         sizeHintBytes: Option[BigInt] = None): Unit = {
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(s"$storeDir/.tmp-$uuid")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rangeBy makes the key ranges DISJOINT ACROSS FILES (one range-shuffle
    // per full rewrite), so a literal-key read skips whole files after the
    // footer, not just row groups within every file — at 100 TB the
    // difference between opening thousands of postings files for one term
    // and opening ~1 (the r12 verdict's postings-layout item).
    // The partition count is SIZE-ADAPTIVE (r19 opt, guide §2): derived
    // from the optimizer's size estimate at ~rangeTargetBytes per file,
    // clamped to [1, spark.sql.shuffle.partitions]. A small store collapses
    // to ONE partition — RangePartitioner then skips its sampling pass
    // entirely (a whole extra job, which re-evaluates the child plan, per
    // rewrite) and the write emits one file instead of shuffle.partitions
    // near-empty ones. A store past ~target·partitions gets one file per
    // shuffle partition (the estimate clamps to the partition ceiling —
    // including when Catalyst has no stats and reports its huge default).
    // sizeHintBytes (callers that already know the store's scale from one
    // FS stat) skips the optimizer stats probe, which costs a full extra
    // analyze+optimize pass of the child plan per write (guide §5) — a
    // mutation rewrites docs + doclen + postings + every index store, so the
    // probes were the dominant driver-side cost of the s3-s9 lifecycle
    // entries.
    val ranged =
      if (rangeBy.nonEmpty) {
        val est = sizeHintBytes.getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
        // 16 MB per write task: single-task parquet encode throughput is
        // the binding cost at the small end (a ~50 MB store wrote 3-4 s
        // single-task under a 128 MB target), while at the large end the
        // partition-ceiling clamp decides and files are est/partitions
        // regardless of this value.
        val target = BigInt(GraftConf.rangeTargetBytes(spark))
        val ceiling = spark.sessionState.conf.numShufflePartitions
        // Floor of min(8, ceiling) files once a store holds real data
        // (>= 1 MB estimated): a one-file store reads back as a ONE-TASK
        // scan, which measurably taxed every query over it (the q4-q9
        // meta/BM25 entries each gained ~0.1-0.4 s when the fixture docs
        // store collapsed to one file — map-typed deserialization is
        // CPU-bound per row). Sub-MB stores (collstats, centroid/param
        // tables, k-row deltas) keep n = 1: nothing scans them hot, and
        // one partition skips RangePartitioner's sampling job entirely.
        val floor =
          if (est < BigInt(1L << 20)) BigInt(1)
          else BigInt(math.min(8, ceiling))
        val n = ((est + target - 1) / target)
          .max(floor).min(BigInt(ceiling)).max(BigInt(1)).toInt
        df.repartitionByRange(n, rangeBy.map(org.apache.spark.sql.functions.col): _*)
      } else df
    val out =
      if (sortBy.nonEmpty) ranged.sortWithinPartitions(sortBy.head, sortBy.tail: _*)
      else ranged
    try out.write.mode("overwrite").parquet(tmp.toString)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    swapInto(fs, storeDir, collection, tmp, uuid)
  }

  /** Rename-over swap of an already-written `tmp` dir into the partition
    * slot. On a failed final rename the original is restored AND the tmp dir
    * is deleted — a leaked tmp would otherwise accumulate invisibly.
    */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
                       collection: String, tmp: Path, uuid: String): Unit = {
    val dest = new Path(partDir(storeDir, collection))
    fs.mkdirs(dest.getParent)
    val old = new Path(s"$storeDir/.old-$uuid")
    val hadDest = fs.exists(dest)
    if (hadDest && !fs.rename(dest, old)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"partition swap failed: $dest -> $old")
    }
    // stamp the RENAME time: rename preserves the dir's original mtime, so
    // an idle partition's crash-recovery copy would otherwise look older
    // than sweep()'s grace window the moment it's created — and be deleted
    // while it is still the only full copy of the data
    if (hadDest) fs.setTimes(old, System.currentTimeMillis(), -1)
    if (!fs.rename(tmp, dest)) {
      if (hadDest) fs.rename(old, dest) // restore the original on failure
      fs.delete(tmp, true)
      throw new java.io.IOException(s"partition swap failed: $tmp -> $dest")
    }
    if (hadDest) fs.delete(old, true)
  }

  /** Overwrite a collection's single-row stats partition from DRIVER-side
    * values — a one-row parquet file written directly (parquet-hadoop
    * writer), swapped in with the same rename-over contract as
    * [[overwritePartition]]. Every upsert/delete refreshes stats; launching
    * a distributed write job (task commit + output-committer coordination)
    * for one 16-byte row was measurable fixed overhead on the bulk-add path.
    */
  def writeCollStats(spark: SparkSession, statsDir: String, collection: String,
                     nDocs: Long, avgDl: Double): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(s"$statsDir/.tmp-$uuid")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = tmp.getFileSystem(conf)
    val schema = MessageTypeParser.parseMessageType(
      "message collstats { required int64 n_docs; required double avg_dl; }")
    try {
      val confCopy = new org.apache.hadoop.conf.Configuration(conf)
      GroupWriteSupport.setSchema(schema, confCopy)
      val w = ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(new Path(tmp, "part-00000.parquet"), confCopy))
        .withConf(confCopy).build()
      try {
        val g = new SimpleGroup(schema)
        g.add("n_docs", nDocs)
        g.add("avg_dl", avgDl)
        w.write(g)
      } finally w.close()
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    swapInto(fs, statsDir, collection, tmp, uuid)
  }

  /** Janitor for crash residue under one store dir: `.tmp-*` dirs older
    * than `tmpGraceMs` (writers are single-writer PER COLLECTION, but all
    * collections' tmp dirs share this storeDir — an unconditional delete
    * would race a sibling collection's in-flight write; an hour-old tmp is
    * certainly a crash orphan) and `.old-*` dirs older than `oldGraceMs`
    * (younger ones are kept as crash-recovery data — the pre-swap copy of a
    * partition whose swap may not have landed; the swap stamps the rename
    * time so the window measures residue age, not the data's age). Returns
    * the number of dirs removed. Called from `Collection.compact()`;
    * long-lived stores would otherwise accumulate residue invisibly.
    */
  def sweep(spark: SparkSession, storeDir: String,
            oldGraceMs: Long = 7L * 24 * 3600 * 1000,
            tmpGraceMs: Long = 3600 * 1000L): Int = {
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val now = System.currentTimeMillis()
    fs.listStatus(dir).toSeq.count { s =>
      val n = s.getPath.getName
      val stale =
        (n.startsWith(".tmp-") && now - s.getModificationTime > tmpGraceMs) ||
        (n.startsWith(".old-") && now - s.getModificationTime > oldGraceMs)
      stale && fs.delete(s.getPath, true)
    }
  }

  /** Drop one collection's partition entirely (reference `delete_all`,
    * core.py:386-400 — becomes a directory drop).
    */
  def dropPartition(spark: SparkSession, storeDir: String, collection: String): Unit = {
    val dest = new Path(partDir(storeDir, collection))
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dest)) fs.delete(dest, true)
  }

  // ---------------------------------------------------------------------------
  // Per-collection manifest: the open-time configuration that changes what the
  // bytes MEAN ({useFts, foldAccents}), persisted at creation so a mismatched
  // re-open throws instead of silently mis-querying (a folded index opened
  // unfolded stops matching accented terms; a later upsert would append
  // unfolded postings into it). The reference's equivalent state lives in the
  // database schema itself (core.py:108-115 probes it).
  // ---------------------------------------------------------------------------

  final case class Manifest(useFts: Boolean, foldAccents: Boolean)

  def manifestDir(root: String) = s"$root/manifest"

  private def manifestPath(root: String, collection: String): Path =
    new Path(s"${manifestDir(root)}/${java.net.URLEncoder.encode(collection, "UTF-8")}.json")

  /** Persist a collection's manifest (overwrites; single tiny JSON file,
    * written via tmp + rename so a crash never leaves a truncated manifest
    * locking out correctly-flagged opens).
    */
  def writeManifest(spark: SparkSession, root: String, collection: String,
                    m: Manifest): Unit = {
    val p = manifestPath(root, collection)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"${manifestDir(root)}/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(
      s"""{"useFts":${m.useFts},"foldAccents":${m.foldAccents}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"manifest commit failed: $tmp -> $p")
    }
  }

  /** The collection's persisted manifest; None for pre-manifest stores and
    * never-ingested names.
    */
  def readManifest(spark: SparkSession, root: String,
                   collection: String): Option[Manifest] = {
    val p = manifestPath(root, collection)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val body = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var r = in.read(chunk)
      while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    // BOTH flags must parse explicitly — a truncated/garbled file must read
    // as "no manifest" (skip validation), never default a flag to false and
    // permanently reject the collection's true flags
    def flag(k: String): Option[Boolean] = s""""$k"\\s*:\\s*(true|false)""".r
      .findFirstMatchIn(body).map(_.group(1) == "true")
    for { fts <- flag("useFts"); fold <- flag("foldAccents") }
      yield Manifest(fts, fold)
  }

  /** Drop a collection's manifest (delete_all). */
  def dropManifest(spark: SparkSession, root: String, collection: String): Unit = {
    val p = manifestPath(root, collection)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** All collections present under a store dir (partition directory names). */
  def collections(spark: SparkSession, storeDir: String): Seq[String] = {
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("collection="))
      .map(s => java.net.URLDecoder.decode(s.getPath.getName.stripPrefix("collection="), "UTF-8"))
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---------------------------------------------------------------------
  // Driver-side memo for SMALL store-derived values (index metadata: shape
  // parameters, centroid tables, PQ codebooks, impact watermarks). These
  // are k-row tables an engine keeps in memory next to the index (FAISS
  // holds centroids/codebooks in RAM); re-deriving one through a full
  // Spark action costs a whole job (~0.1-0.4 s of scheduling + scan) and
  // the accessor call sites fire several times per operation. The memo is
  // NOT a result cache: it is keyed on the partition directory's current
  // on-disk state (every file's name+mtime+length, deltas included), so
  // any write — this JVM or another process — changes the signature and
  // the next read recomputes from parquet. Values must be plain driver
  // data (no DataFrames/RDDs).
  // ---------------------------------------------------------------------

  private val metaMemo =
    scala.collection.concurrent.TrieMap[String, (Long, Any)]()

  /** Memoize `f` per (partition dir, tag) for as long as the partition's
    * [[partitionFingerprint]] (recursive file name+mtime+len hash — deltas
    * and gone sidecars included; 0 when absent) is unchanged — the same
    * invalidation the impact gate/df caches already key on. One live value
    * per (dir, tag): a changed fingerprint replaces it, so the map stays
    * O(live stores).
    */
  def memoizedMeta[T](spark: SparkSession, storeDir: String, collection: String,
                      tag: String)(f: => T): T = {
    val dir = partDir(storeDir, collection)
    val key = s"$dir#$tag"
    val sig = partitionFingerprint(spark, storeDir, collection)
    metaMemo.get(key) match {
      case Some((s, v)) if s == sig => v.asInstanceOf[T]
      case _ =>
        val v = f
        metaMemo.put(key, (sig, v))
        v
    }
  }
}
