package graft.api

import graft.exec._
import graft.ext.{Ann, LshIndex}
import graft.index.{PostingsIndex, Stores}
import graft.model._
import graft.parse.QueryParser
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Batch embedding callback — the reference's single UDF surface
  * (src/sifts/core.py:90: `embedding_function: list[str] -> list[vector]`,
  * invoked batch-wise at core.py:211, 518, 644). Runs executor-side via
  * `mapPartitions`, one call per partition batch — preserving the batching
  * contract that real embedding models need.
  */
trait Embedder extends Serializable {
  def embed(texts: Seq[String]): Seq[Array[Float]]
}

private[graft] case class AddRow(id: String, content: String,
                                 metadata: Map[String, String], pos: Long)
private[graft] case class DocRow(id: String, content: String,
                                 metadata: Map[String, String], embedding: Array[Float])

/** A named logical namespace of documents over Parquet stores — the
  * Spark-native `Collection` (reference src/sifts/core.py:70-400).
  *
  * Physical layout: all collections of one `root` share the same stores
  * (docs / postings / doclen / collstats), discriminated by a `collection=`
  * partition directory — partition pruning replaces the reference's btree on
  * `name` (core.py:112). Upserts and deletes append O(batch) delta segments
  * (see [[graft.index.Stores]]); full rebuilds and [[Collection.compact]]
  * rewrite the partition via write-temp + swap. The skinny doclen store
  * exists so the per-upsert stats refresh never rescans postings.
  */
final class Collection private (
    val spark: SparkSession,
    val root: String,
    val name: String,
    val embedder: Option[Embedder],
    val useFts: Boolean,
    val foldAccents: Boolean) {

  import spark.implicits._

  private val docsDir = Stores.docsDir(root)
  private val postingsDir = Stores.postingsDir(root)
  private val statsDir = Stores.collStatsDir(root)
  private val annDir = Stores.annDir(root)
  private val doclenDir = Stores.doclenDir(root)
  private val ivfDir = Stores.ivfDir(root)
  private val ivfCentDir = Stores.ivfCentDir(root)
  private val pqDir = Stores.pqDir(root)
  private val pqBookDir = Stores.pqBookDir(root)
  private val ivfPqDir = Stores.ivfPqDir(root)
  private val minhashDir = Stores.minhashDir(root)
  private val impactDir = Stores.impactDir(root)
  private val impactMetaDir = Stores.impactMetaDir(root)

  /** This collection's documents (partition-pruned read). */
  def docs(): DataFrame = Stores.readPartition(spark, docsDir, name, Stores.docsSchema)

  /** Snapshot ordinals still readable by [[docsAsOf]]: 0 = the base, then
    * one per surviving upsert delta. History granularity is the surviving
    * segments — `compact()`, `maintain()`, and small-store direct merges
    * FOLD deltas into the base (like a vacuumed Delta table), after which
    * only the folded state is reachable.
    */
  def history(): Seq[Long] = Stores.deltaOrdinals(spark, docsDir, name)

  /** Time-travel read: the documents as of segment `seg` (inclusive) — the
    * reproducibility hook for training pipelines ("read the exact corpus
    * snapshot run X consumed"). Pass a value from [[history]]; ordinals past
    * the newest segment read the latest state.
    */
  def docsAsOf(seg: Long): DataFrame =
    Stores.readPartitionAsOf(spark, docsDir, name, Stores.docsSchema, seg)

  /** Diff two [[history]] snapshots of this collection — "what did that
    * upsert batch actually do": one row per id present in either era,
    * `status` ∈ {added, removed, changed, unchanged}
    * ([[graft.ext.Joins.diffCorpora]] over the time-travel reads; only
    * (id, hash) pairs shuffle, content never moves).
    */
  def diffSnapshots(fromSeg: Long, toSeg: Long): DataFrame =
    graft.ext.Joins.diffCorpora(docsAsOf(fromSeg), docsAsOf(toSeg))

  private def postings(): DataFrame =
    Stores.readPartition(spark, postingsDir, name, Stores.postingsSchema)

  private def collStats(): DataFrame =
    // existence is a filesystem stat, not a Spark job (`isEmpty` here cost a
    // driver action on EVERY ranked query); a stats partition always holds
    // exactly one row by construction (overwrite-only, never deltas)
    if (!Stores.partitionExists(spark, statsDir, name)) {
      if (Stores.partitionExists(spark, doclenDir, name) ||
          Stores.partitionExists(spark, postingsDir, name)) {
        // the collection has index data but no stats row — a crash landed
        // between the swap renames (the old copy is in a `.old-*` dir).
        // Serving zeros here would mean NaN BM25 ranks with no error;
        // rebuild from the skinny doclen store instead and self-heal.
        writeStatsFrom(doclen())
        Stores.readPartition(spark, statsDir, name, Stores.collStatsSchema)
      } else
        spark.sql("SELECT CAST(0 AS LONG) n_docs, CAST(0.0 AS DOUBLE) avg_dl")
    } else Stores.readPartition(spark, statsDir, name, Stores.collStatsSchema)

  /** Scalar doc count of this collection (reference core.py:125-138). */
  def count(): Long = docs().count()

  /** Faceted composition of this collection's METADATA: top-`k` values per
    * requested metadata key with counts, corpus share, and deterministic
    * rank — [[graft.ext.TextStats.facets]] lifted onto the collection's
    * metadata map (a missing key counts as NULL, its own facet value).
    */
  def facets(keys: Seq[String], k: Int = 20): DataFrame = {
    require(keys.nonEmpty && keys.distinct == keys, "keys must be non-empty and distinct")
    // fresh projection (not withColumn): a key named like a docs column
    // must not clobber the frame it reads from
    val flat = docs().select(keys.map(key =>
      element_at(col("metadata"), key).as(key)): _*)
    graft.ext.TextStats.facets(flat, keys, k)
  }

  // -------------------------------------------------------------------------
  // Write path (reference S3-S6: core.py:140-188, 484-525, 634-691)
  // -------------------------------------------------------------------------

  /** Batch upsert. Missing ids get UUIDv4 (core.py:147-150); within one batch
    * and against the base, the LAST write wins (ON CONFLICT(id) DO UPDATE,
    * core.py:496-499) — replicated with a row_number window keyed on id
    * ordered by batch position desc. Returns the ids.
    */
  def add(contents: Seq[String], ids: Option[Seq[String]] = None,
          metadatas: Option[Seq[Map[String, String]]] = None): Seq[String] = {
    require(ids.forall(_.size == contents.size), "ids must match contents length")
    require(metadatas.forall(_.size == contents.size), "metadatas must match contents length")
    // Falsy ids are replaced element-wise with fresh UUIDs, like the
    // reference's `[i or make_id() for i in ids]` (core.py:147-150).
    val allIds = ids.getOrElse(contents.map(_ => ""))
      .map(i => Option(i).filter(_.nonEmpty).getOrElse(java.util.UUID.randomUUID().toString))
    val metas = metadatas.getOrElse(contents.map(_ => null: Map[String, String]))

    val rows = allIds.lazyZip(contents).lazyZip(metas).lazyZip(allIds.indices).map {
      case (id, c, m, i) => AddRow(id, c, m, i.toLong)
    }.toSeq
    val batchRaw = spark.createDataset(rows)

    // Intra-batch last-wins dedup FIRST, then embed: only surviving rows are
    // embedded, and the expensive embed subtree sits above the shuffle so it
    // is not re-evaluated per downstream consumer. (row_number window, not
    // max_by: at batch-sized key cardinality the TypedImperativeAggregate
    // falls back to sort-based ObjectHashAggregate anyway — measured slower.)
    val w = Window.partitionBy($"id").orderBy($"pos".desc)
    val dedupedRaw = batchRaw.toDF()
      .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      .select($"id", $"content", $"metadata")

    // Embed executor-side, one Embedder.embed call per bounded chunk — never
    // materializing a whole partition (the embed-batch contract of
    // core.py:518/644 with bounded executor memory).
    val deduped: DataFrame = embedder match {
      case Some(emb) =>
        val bs = Collection.EmbedBatchSize
        dedupedRaw.as[(String, String, Map[String, String])].mapPartitions { it =>
          it.grouped(bs).flatMap { chunk =>
            val vecs = emb.embed(chunk.map(_._2))
            chunk.lazyZip(vecs).map((r, v) => DocRow(r._1, r._2, r._3, v))
          }
        }.toDF()
      case None =>
        dedupedRaw.withColumn("embedding", lit(null).cast("array<float>"))
    }

    // the id set is driver-side by construction — known-small, so upsert
    // broadcast-hints it at each join where it is the BUILD side (passed
    // unhinted: a pre-applied hint would also land on the outer-preserved
    // side of the doclen left join, where Spark cannot build and silently
    // drops it — the hint placement is per-join, not per-frame)
    upsert(deduped.select($"id", $"content", $"metadata",
        $"embedding".cast("array<float>")),
      idsHint = Some(allIds.distinct.toDF("id")))
    allIds
  }

  /** Shared upsert core: lands an already last-wins-deduped batch in the
    * docs store, then maintains postings / stats / ann from the batch alone.
    * Three write shapes, picked by partition size (a filesystem stat, no
    * job):
    *
    *   - new collection → full base write;
    *   - partition ≤ [[directUpsertMaxBytes]] → DIRECT MERGE rewrite (one
    *     job rewrites the small partition; every read stays
    *     resolution-free) — rewriting a small store is cheaper than making
    *     all subsequent reads resolve deltas;
    *   - otherwise → O(batch) DELTA APPEND (the base is never rewritten;
    *     see [[graft.index.Stores]]' segment layout), with the size-ratio /
    *     count compaction policy behind it.
    *
    * The persist materializes the batch (embedding included) once for its
    * several consumers.
    */
  private def upsert(batch0: DataFrame, idsHint: Option[DataFrame] = None): Unit = {
    val wasEmpty = !Stores.partitionExists(spark, docsDir, name)
    // Spread a narrow batch across the session's cores before caching
    // (r19 opt, guide §2): AQE coalesces the last-wins window's shuffle by
    // BYTES, so a few-MB batch caches as ~1 partition and the tokenize-
    // heavy postings/doclen derivations above the cache run on one core.
    // CPU-bound per-row work is invisible to byte-based coalescing; the
    // respread fires only when the batch is narrower than the session's
    // parallelism (a real ingest batch has ≥ cores partitions — no-op),
    // and batch row order is not part of upsert's contract (last-wins was
    // already resolved in addDf).
    // Narrowness from the OPTIMIZER's size estimate, not an RDD partition
    // probe — `.rdd` pays a full physical-planning pass per call (measured
    // up to 1.2 s on map-typed batch plans). Under the bound the batch is
    // small enough that the respread shuffle is noise; above it (real
    // ingest batches, no-stats sources reporting huge defaults) nothing
    // changes.
    val par = spark.sparkContext.defaultParallelism
    val est = batch0.queryExecution.optimizedPlan.stats.sizeInBytes
    val respreadOn = spark.conf
      .getOption("spark.graft.ingest.respread").forall(_.toBoolean)
    val spread =
      if (respreadOn && est < BigInt(par.toLong * (4L << 20)))
        batch0.repartition(par)
      else batch0
    val batch = spread.persist()
    try {
      if (wasEmpty) {
        // est (already computed for the respread decision) rides along as
        // the write-size hint: each rangeBy write otherwise pays a fresh
        // analyze+optimize pass just to re-derive the same estimate
        Stores.overwritePartition(spark, docsDir, name, batch,
          sortBy = Seq("id"), rangeBy = Seq("id"), sizeHintBytes = Some(est))
        refreshIndexesFull(batch, batchEst = Some(est)) // tokenize from the cache, not a store re-read
        // first ingest creates the collection: persist the open-time flags
        // that change what the stored bytes mean, so mismatched re-opens
        // throw at Collection() instead of silently mis-querying. Written
        // LAST — a failed first ingest must not leave a manifest pinning
        // flags for a collection that holds no data (a crash before this
        // line degrades to a pre-manifest store: validation skipped)
        Stores.writeManifest(spark, root, name,
          Stores.Manifest(useFts, foldAccents))
      } else {
        val (baseBytes, deltaBytes) = Stores.segmentBytes(spark, docsDir, name)
        // callers with a known-small (driver-side) id set mark it via
        // idsHint; the hint is applied HERE, per join, only where the ids
        // are the build side (a left_anti's right). Otherwise the unhinted
        // frame lets AQE pick the join strategy.
        val smallIds = idsHint.isDefined
        val rawIds = idsHint.getOrElse(batch.select("id"))
        val batchIds = if (smallIds) broadcast(rawIds) else rawIds
        if (baseBytes + deltaBytes <= directUpsertMaxBytes) {
          // direct merge (also folds any accumulated deltas back flat)
          val merged = docs().join(batchIds, Seq("id"), "left_anti").unionByName(batch)
          // merged ≤ current segments + batch: one FS stat + the estimate
          // already in hand replace a per-write optimizer stats probe over
          // the resolve∪anti-join∪batch plan
          Stores.overwritePartition(spark, docsDir, name, merged,
            sortBy = Seq("id"), rangeBy = Seq("id"),
            sizeHintBytes = Some(BigInt(baseBytes) + BigInt(deltaBytes) + est))
          refreshIndexesMerge(batch, rawIds, smallIds, batchEst = est)
        } else {
          Stores.appendDelta(spark, docsDir, name, batch, sortBy = Seq("id"))
          refreshIndexesDelta(batch)
          maybeCompact()
        }
      }
    } finally batch.unpersist()
  }

  /** Partitions at or below this size take the direct merge-rewrite path;
    * larger ones get O(batch) delta appends. A "small table" by Spark
    * standards — one task rewrites it faster than reads can amortize delta
    * resolution.
    */
  private def directUpsertMaxBytes: Long =
    spark.conf.getOption("spark.graft.store.directUpsertMaxBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** Bulk DataFrame ingestion (new-scope S8 — the reference has no file
    * connectors). `df` must have columns id, content, metadata[, embedding].
    *
    * Duplicate ids WITHIN the frame resolve last-wins, like `add`
    * (ON CONFLICT semantics, core.py:496-499): ordered by `posCol` when
    * given, else by frame order (exact for single-partition micro-batches,
    * best-effort across partitions — CDC streams should carry a position
    * column). Index refresh is DELTA on the batch's ids, so a micro-batch
    * costs O(batch) tokenize work regardless of collection size.
    */
  def addDf(df: DataFrame, posCol: Option[String] = None): Unit = {
    var d = df
    val pos = posCol.map(col).getOrElse(monotonically_increasing_id())
    d = d.withColumn("__pos", pos)
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"id").orderBy($"__pos".desc)))
      .filter($"__rn" === 1)
      .drop("__pos", "__rn")
    if (posCol.nonEmpty) d = d.drop(posCol.get)
    if (!d.columns.contains("metadata"))
      d = d.withColumn("metadata", lit(null).cast("map<string,string>"))
    if (!d.columns.contains("embedding")) {
      d = embedder match {
        case Some(emb) =>
          val bs = Collection.EmbedBatchSize
          d.select($"id", $"content", $"metadata").as[(String, String, Map[String, String])]
            .mapPartitions { it =>
              it.grouped(bs).flatMap { chunk =>
                val vecs = emb.embed(chunk.map(_._2))
                chunk.lazyZip(vecs).map((r, v) => DocRow(r._1, r._2, r._3, v))
              }
            }.toDF()
        case None => d.withColumn("embedding", lit(null).cast("array<float>"))
      }
    }
    d = d.select($"id".cast("string"), $"content".cast("string"),
      $"metadata".cast("map<string,string>"), $"embedding".cast("array<float>"))
    upsert(d)
  }

  /** Continuous ingestion: each micro-batch of a streaming frame with
    * columns id, content[, metadata, embedding] is upserted through the
    * same last-wins path as `addDf`, postings/stats maintained per batch
    * (`foreachBatch` — the standard sink for stateful side-effecting writes
    * that Structured Streaming can't express as a plain file sink).
    * Caller starts/stops the returned query.
    */
  def streamIngest(stream: DataFrame,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(stream.isStreaming, "streamIngest expects a streaming DataFrame")
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) addDf(batch)
      }
  }

  /** Continuous vector search: probe a STREAM of query vectors (qid, qvec)
    * against this collection's persisted ANN index as the queries arrive —
    * the serving-adjacent sibling of [[streamIngest]]. Each micro-batch's
    * queries are collected (a query batch is small by nature — the corpus
    * side stays distributed inside [[vectorTopK]]'s index probe) and the
    * (qid, rn, id, sim) results are handed to `sink` for delivery. The
    * per-batch probe cost is the index's: probed buckets + candidate
    * rerank, independent of corpus size.
    *
    * Pair with the default ProcessingTime(0) trigger for lowest latency or
    * a fixed trigger to amortize probes; `start()` on the returned writer.
    */
  def streamVectorSearch(queries: DataFrame, k: Int,
                         qidCol: String = "qid", qvecCol: String = "qvec")(
      sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(queries.isStreaming, "streamVectorSearch expects a streaming DataFrame")
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val qs = batch.select(col(qidCol).cast("string"),
          col(qvecCol).cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1))
        .toSeq
      if (qs.nonEmpty) sink(vectorTopK(qs, k))
    }
  }

  /** Continuous FULL-TEXT search: the FTS sibling of [[streamVectorSearch]]
    * — a stream of (qid, query-string) rows answered per micro-batch
    * through [[extendedQueryFrame]]: the full EXTENDED grammar, so a
    * subscribed query may be `"quoted phrase" or near(a b, 3) and term`;
    * plain queries take the byte-identical reference-parity path
    * (extendedQueryFrame's fallback). The batch's per-query result frames
    * (`limit` rows per query, 0 = unlimited) union into ONE frame of
    * (qid, id, rank) handed to `sink` in a SINGLE call per micro-batch —
    * one Spark action per batch however many queries are subscribed, like
    * [[streamVectorSearch]]'s batched probe, not one action per query
    * (which made the driver's job scheduling the bottleneck at 100×
    * subscriptions). Queries collect per batch (small by nature); each
    * one's postings scan stays distributed, and the union arms share the
    * postings/docs scans inside the one job.
    */
  def streamQuery(queries: DataFrame, limit: Int = 10,
                  qidCol: String = "qid", queryCol: String = "query")(
      sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(queries.isStreaming, "streamQuery expects a streaming DataFrame")
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val qs = batch.select(col(qidCol).cast("string"), col(queryCol).cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      if (qs.nonEmpty) {
        // ONE union arm per DISTINCT query string, its subscribers fanned
        // out by a broadcast cross join with the (tiny) qid list — NOT one
        // arm per subscriber: union arms do not share computation (no
        // cross-arm CSE beyond exchange reuse), so N subscribers of one
        // string would re-run its whole postings plan N times inside the
        // single job (measured 200+ s for 64 subscribers of 2 strings at
        // 2M docs; ~2 plan-costs with the fan-out)
        val byQuery = qs.groupBy(_._2).toSeq.sortBy(_._1)
        val frames = byQuery.map { case (q, subscribers) =>
          val qids = subscribers.map(_._1).toSeq.toDF("qid")
          extendedQueryFrame(q, limit = limit)
            .select($"id", $"rank")
            .crossJoin(broadcast(qids))
            .select($"qid", $"id", $"rank")
        }
        sink(frames.reduce(_ unionByName _))
      }
    }
  }

  /** Continuous near-duplicate SCREENING: a stream of (qid, content) rows
    * — a live crawl — checked per micro-batch against this collection
    * through the PERSISTED dedup index ([[nearDuplicatesDf]]): the batch
    * bands only its own rows and probes the skinny store, so per-batch
    * cost is O(batch + candidates), independent of corpus size. That is
    * the difference from [[graft.ext.Dedup.streamDedupAgainst]], which
    * re-signatures the whole reference corpus every micro-batch. Because
    * each batch re-reads the store, the screen tracks live writes: docs
    * added between batches are screened against from the next batch on.
    * One sink call per micro-batch on the verified (qid, id, jaccard)
    * frame. Requires [[createDedupIndex]] (checked at wiring time, so a
    * missing index fails the `start()` site, not the Nth batch).
    */
  def streamScreen(stream: DataFrame, threshold: Double = 0.8,
                   qidCol: String = "qid", contentCol: String = "content")(
      sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(stream.isStreaming, "streamScreen expects a streaming DataFrame")
    dedupParams().getOrElse(throw new IllegalStateException(
      s"Collection '$name' has no dedup index; call createDedupIndex() first."))
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(nearDuplicatesDf(batch.select(col(qidCol).as("qid"),
          col(contentCol).as("content")), threshold))
    }
  }

  /** `update` = `add` with mandatory ids (reference core.py:173-182). */
  def update(ids: Seq[String], contents: Seq[String],
             metadatas: Option[Seq[Map[String, String]]] = None): Seq[String] = {
    require(ids.nonEmpty && !ids.contains(null), "update requires non-null ids")
    add(contents, Some(ids), metadatas)
  }

  /** Delete by id — deliberately CROSS-collection, matching the reference's
    * un-scoped `DELETE … WHERE id IN (…)` (core.py:184-188, SURVEY §2 S5).
    */
  def delete(ids: Seq[String]): Unit = {
    val idSeq = ids.filter(_ != null).distinct
    if (idSeq.isEmpty) return
    val idsDf = idSeq.toDF("id")
    val collNames = Stores.collections(spark, docsDir)
    if (collNames.isEmpty) return
    // Find the collections holding any target id in ONE job (the previous
    // per-collection isEmpty probes cost O(#collections) driver round-trips
    // per delete): a whole-store scan exposes the collection partition
    // column, and each partition's hidden delta data dirs (invisible to the
    // base scan) are unioned in with a literal tag. Rows REMOVED by a gone
    // claim still appear in this superset scan — a stale hit only costs one
    // idempotent gone-only delta, while a missed delta-added doc would be a
    // real correctness bug.
    val baseScan = spark.read.option("basePath", docsDir)
      .schema(Stores.docsSchema.add("collection", "string"))
      .parquet(docsDir)
      .select(col("collection"), col("id"))
    val deltaScans = collNames
      .map(n => n -> Stores.deltaDataDirs(spark, docsDir, n))
      .filter(_._2.nonEmpty)
      .map { case (n, dirs) =>
        spark.read.schema(Stores.docsSchema).parquet(dirs: _*)
          .select(lit(n).as("collection"), col("id"))
      }
    val touchedColls = deltaScans.foldLeft(baseScan)(_ unionByName _)
      .join(broadcast(idsDf), Seq("id"), "left_semi")
      .select("collection").distinct().collect().map(_.getString(0)).toSet
    collNames.filter(touchedColls).foreach { coll =>
      // useFts is decided PER TARGET collection (postings partition exists),
      // not inherited from the caller — a useFts=false caller must not
      // leave sibling collections' postings stale.
      val targetFts = Stores.partitionExists(spark, Stores.postingsDir(root), coll)
      // foldAccents=false: the delete path never re-tokenizes an FTS
      // collection (stats derive from postings), and for non-FTS targets
      // avg_dl is informational only
      val self = new Collection(spark, root, coll, None, targetFts, foldAccents = false)
      val (baseBytes, deltaBytes) = Stores.segmentBytes(spark, docsDir, coll)
      if (baseBytes + deltaBytes <= directUpsertMaxBytes) {
        // small partition: direct anti-join rewrite, reads stay flat; the
        // segment bytes already in hand bound the anti-join's output — no
        // per-write optimizer stats probe
        Stores.overwritePartition(spark, docsDir, coll,
          Stores.readPartition(spark, docsDir, coll, Stores.docsSchema)
            .join(broadcast(idsDf), Seq("id"), "left_anti"),
          sortBy = Seq("id"), rangeBy = Seq("id"),
          sizeHintBytes = Some(BigInt(baseBytes) + BigInt(deltaBytes)))
        self.removeFromIndexesMerge(broadcast(idsDf))
      } else {
        // gone-only delta: O(ids) bytes, the base is never rewritten
        Stores.appendDelta(spark, docsDir, coll,
          emptyFrame(Stores.docsSchema), gone = Some(idsDf))
        self.removeFromIndexes(idsDf)
        self.maybeCompact()
      }
    }
  }

  private def emptyFrame(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Fold any accumulated delta segments of this collection's stores back
    * into flat bases — O(collection), run off the ingest path (or let the
    * [[Stores.MaxDeltas]] policy trigger it).
    */
  def compact(): Unit = {
    // IVF staleness check BEFORE the fold (deltas are the staleness signal):
    // when the delta-assigned mass rivals the base, the stored centroids were
    // trained on a minority of the current data — retrain from docs() with
    // the stored params; otherwise just fold the assignment deltas flat.
    val ivfStale = Stores.partitionExists(spark, ivfCentDir, name) && {
      val (b, d) = Stores.segmentBytes(spark, ivfDir, name)
      b > 0 && d * 2 > b
    }
    // PQ shares the policy: delta-encoded mass rivaling the base means the
    // codebooks were trained on a minority of the current data
    val pqStale = Stores.partitionExists(spark, pqBookDir, name) &&
      Stores.partitionExists(spark, pqDir, name) && {
        val (b, d) = Stores.segmentBytes(spark, pqDir, name)
        b > 0 && d * 2 > b
      }
    // crash-residue guard BEFORE the staleness math: an ivfpq codes
    // partition whose parameter tables are incomplete (a crash inside
    // writeIvfPq's codes→books→centroids window) can never serve or
    // retrain (ivfParams()/ivfPqParts() read None) — drop all three pieces
    // so the store returns cleanly to "no index" instead of carrying dead
    // residue forever. A healthy flat-pq (books, no ivfPqDir) or ivf
    // (centroids, no ivfPqDir) never matches: the guard keys on ivfPqDir.
    if (Stores.partitionExists(spark, ivfPqDir, name) &&
        (!Stores.partitionExists(spark, ivfCentDir, name) ||
         !Stores.partitionExists(spark, pqBookDir, name))) {
      Stores.dropPartition(spark, ivfPqDir, name)
      Stores.dropPartition(spark, ivfCentDir, name)
      Stores.dropPartition(spark, pqBookDir, name)
    }
    val ivfPqStale = Stores.partitionExists(spark, ivfPqDir, name) && {
      val (b, d) = Stores.segmentBytes(spark, ivfPqDir, name)
      b > 0 && d * 2 > b
    }
    Stores.compactPartition(spark, docsDir, name, Stores.docsSchema,
      sortBy = Seq("id"), rangeBy = Seq("id"))
    Stores.compactPartition(spark, postingsDir, name, Stores.postingsSchema,
      sortBy = Seq("term"), rangeBy = Seq("term"))
    Stores.compactPartition(spark, annDir, name, Stores.annSchema,
      sortBy = Seq("table", "bucket"))
    Stores.compactPartition(spark, doclenDir, name, Stores.doclenSchema)
    if (ivfStale) ivfParams().foreach { case (nprobe, iters, maxSample, seed) =>
      val k = ivfCentroidsRaw().map(_.size).getOrElse(256)
      // a collection emptied of embedded docs can't retrain (k-means has no
      // sample) — drop the index like the LSH path does, instead of letting
      // Ivf.build throw from inside an auto-triggered compaction and wedge
      // every subsequent write
      if (docs().filter($"embedding".isNotNull).limit(1).isEmpty) {
        Stores.dropPartition(spark, ivfDir, name)
        Stores.dropPartition(spark, ivfCentDir, name)
      } else
        writeIvf(graft.ext.Ivf.build(docs(), "id", "embedding",
          k, iters, 1.0, maxSample, seed), nprobe, iters, maxSample, seed)
    }
    else Stores.compactPartition(spark, ivfDir, name, Stores.ivfSchema,
      sortBy = Seq("cluster"))
    if (pqStale) pqParams().foreach { case (candK, iters, maxSample, seed) =>
      pqCodebook() match {
        case Some(old) if !docs().filter($"embedding".isNotNull).limit(1).isEmpty =>
          writePq(graft.ext.Pq.train(docs(), "embedding",
            old.m, old.books.head.size, iters, maxSample, seed),
            candK, iters, maxSample, seed)
        case _ => // emptied of embedded docs: drop, like the IVF branch
          Stores.dropPartition(spark, pqDir, name)
          Stores.dropPartition(spark, pqBookDir, name)
      }
    }
    else Stores.compactPartition(spark, pqDir, name, Stores.pqSchema)
    if (ivfPqStale) ivfParams().foreach { case (nprobe, iters, maxSample, seed) =>
      (ivfCentroidsRaw(), pqCodebookRaw()) match {
        case (Some(oldCents), Some(oldCb))
            if !docs().filter($"embedding".isNotNull).limit(1).isEmpty =>
          // retrain matches the build recipe: re-run the measured
          // raw-vs-residual selection against the FRESH centroids
          val (cents, cb, residual) = trainIvfPqTables(oldCents.size, oldCb.m,
            iters, maxSample, seed)
          writeIvfPq(cents, cb, nprobe,
            pqParams().map(_._1).getOrElse(50), iters, maxSample, seed, residual)
        case _ => // emptied of embedded docs: drop, like the other kinds
          Stores.dropPartition(spark, ivfPqDir, name)
          Stores.dropPartition(spark, ivfCentDir, name)
          Stores.dropPartition(spark, pqBookDir, name)
      }
    }
    else Stores.compactPartition(spark, ivfPqDir, name, Stores.ivfPqSchema,
      sortBy = Seq("cluster"))
    Stores.compactPartition(spark, minhashDir, name, Stores.minhashSchema,
      sortBy = Seq("band", "bh"))
    // impact sidecar: re-derive rows + meta from the just-folded postings —
    // re-truncates the delta-appended rows back to top-cap per term and
    // heals a dropped/stale meta (the update/delete invalidation path). A
    // collection emptied of postings drops the index, like the IVF branch.
    impactParams().foreach { cap =>
      if (postings().limit(1).isEmpty) {
        Stores.dropPartition(spark, impactDir, name)
        Stores.dropPartition(spark, impactMetaDir, name)
      } else rebuildImpact(cap, postings())
    }
    // sweep crash residue while we're off the ingest path anyway: orphaned
    // .tmp-* always, .old-* (crash-recovery copies) past their grace window
    Seq(docsDir, postingsDir, statsDir, annDir, doclenDir, ivfDir, ivfCentDir,
        pqDir, pqBookDir, ivfPqDir, minhashDir, impactDir, impactMetaDir)
      .foreach(Stores.sweep(spark, _))
  }

  /** One-call operational hygiene for a long-lived store — the explicit
    * maintenance entry point an operator (or a cron) runs on a QUIESCED
    * collection: [[compact]] folds every store's delta segments flat
    * (retraining a stale IVF index per its policy), the collstats row is
    * re-derived from the resolved doclen store (self-heals a crash that
    * landed between a doclen write and its stats row — stale stats would
    * mis-rank BM25 silently), and crash residue is swept with ZERO grace:
    * unlike the auto-triggered sweep inside [[compact]] (which keeps
    * 1 h / 7 d windows so it can't race an in-flight writer), an explicit
    * maintain() asserts no writer is active, so any `.tmp-*` / `.old-*`
    * dir present IS residue. Returns a one-row report frame
    * (n_docs, avg_dl, docs_delta_segments, residue_swept) for ops logs.
    */
  def maintain(): DataFrame = {
    compact()
    // stats refresh even when compact() had nothing to fold: the row is
    // overwrite-only and cheap (one agg over the skinny doclen store)
    if (Stores.partitionExists(spark, doclenDir, name)) writeStatsFrom(doclen())
    val swept = Seq(docsDir, postingsDir, statsDir, annDir, doclenDir,
        ivfDir, ivfCentDir, pqDir, pqBookDir, ivfPqDir, minhashDir,
        impactDir, impactMetaDir)
      .map(Stores.sweep(spark, _, oldGraceMs = 0L, tmpGraceMs = 0L)).sum
    val s = collStats().head()
    Seq((s.getLong(0), s.getDouble(1),
        Stores.deltaCount(spark, docsDir, name).toLong, swept.toLong))
      .toDF("n_docs", "avg_dl", "docs_delta_segments", "residue_swept")
  }

  /** Size-ratio + count compaction policy: fold when the docs deltas rival
    * the base (cheap by definition — the whole partition is at most ~1.5×
    * the delta mass being folded) or exceed [[Stores.MaxDeltas]] segments
    * (bounds read-side resolution fan-in; amortized O(collection)/MaxDeltas
    * per batch on a long stream).
    */
  private def maybeCompact(): Unit = {
    // spark.graft.compact.auto=false defers entirely to explicit compact()
    if (!spark.conf.getOption("spark.graft.compact.auto").forall(_.toBoolean)) return
    val (baseBytes, deltaBytes) = Stores.segmentBytes(spark, docsDir, name)
    if (deltaBytes * 2 > baseBytes ||
      Stores.deltaCount(spark, docsDir, name) > Stores.MaxDeltas) compact()
  }

  /** Drop every doc of THIS collection (reference core.py:386-400) — a
    * partition drop, no data rewrite.
    */
  def deleteAll(): Unit = {
    Stores.dropPartition(spark, docsDir, name)
    Stores.dropPartition(spark, postingsDir, name)
    Stores.dropPartition(spark, statsDir, name)
    Stores.dropPartition(spark, annDir, name)
    Stores.dropPartition(spark, doclenDir, name)
    Stores.dropPartition(spark, ivfDir, name)
    Stores.dropPartition(spark, ivfCentDir, name)
    Stores.dropPartition(spark, pqDir, name)
    Stores.dropPartition(spark, pqBookDir, name)
    Stores.dropPartition(spark, ivfPqDir, name)
    Stores.dropPartition(spark, minhashDir, name)
    Stores.dropPartition(spark, impactDir, name)
    Stores.dropPartition(spark, impactMetaDir, name)
    Stores.dropManifest(spark, root, name) // a recreate may change flags
    // Retire the ANN-rewrite registration with the store it points at. The
    // Deferred guard would decline anyway (no ann partition), but a retained
    // entry keeps AnnCatalog non-empty forever — every query in the JVM pays
    // rule-matching cost, and a later same-path collection in another session
    // would inherit the registration without opting in.
    graft.plans.AnnCatalog.unregister(spark, Stores.partitionPath(docsDir, name))
  }

  // -------------------------------------------------------------------------
  // Persisted vector index (the pgvector-analog decision, core.py:319-321:
  // the reference leans on the database's vector index; here the index is a
  // first-class partition of the store, built once and maintained as a delta
  // alongside postings)
  // -------------------------------------------------------------------------

  /** Build (or rebuild) this collection's persisted vector index over the
    * docs' embedding column: `kind = "lsh"` (default — data-oblivious
    * random-hyperplane buckets, uses `numTables`/`numPlanes`/`dim`),
    * `kind = "ivf"` (data-adaptive centroid posting lists, uses
    * `numCentroids`/`iters`/`maxSample`/`nprobe`), or `kind = "pq"`
    * (product-quantization codes + sub-codebooks — `m` bytes/vector, ADC
    * candidate scan + float rerank of the top `candK`; uses `m`/`candK`/
    * `numCentroids` (=codewords per subspace, ≤256)/`iters`/`maxSample`),
    * or `kind = "ivfpq"` (the FAISS IVFPQ composite: coarse IVF lists
    * partition the PQ codes, so a probe ADC-scans ~nprobe/numCentroids of
    * them; uses `numCentroids` (=coarse lists)/`nprobe`/`m`/`candK`/
    * `iters`/`maxSample`; codewords fixed at 256).
    * Docs without embeddings are simply absent from the index. The kinds
    * are mutually exclusive — building one drops the others. Subsequent
    * `add`/`update`/`delete` maintain the built index incrementally (IVF
    * batches re-assign and PQ batches re-encode against the STORED
    * centroids/codebooks — zero-shuffle scans; `compact()` retrains when
    * the delta mass rivals the base); `vectorTopK` probes it without
    * touching the corpus scan.
    */
  def createVectorIndex(numTables: Int = 16, numPlanes: Int = 4,
                        dim: Int = 64, seed: Long = 42L,
                        kind: String = "lsh", numCentroids: Int = 256,
                        iters: Int = 10, maxSample: Int = 100000,
                        nprobe: Int = 8, m: Int = 8, candK: Int = 50): Unit = kind match {
    case "lsh" =>
      // drop the OTHER kinds FIRST: a crash mid-build then leaves no index
      // (vectorTopK throws loudly) instead of the stale other-kind index
      // silently shadowing the one the caller asked for
      Stores.dropPartition(spark, ivfDir, name)
      Stores.dropPartition(spark, ivfCentDir, name)
      Stores.dropPartition(spark, pqDir, name)
      Stores.dropPartition(spark, pqBookDir, name)
      Stores.dropPartition(spark, ivfPqDir, name)
      val ix = LshIndex.build(docs(), "id", "embedding", numTables, numPlanes, dim, seed)
      // toStoreFrame is already range-clustered + sorted; no write-time re-sort
      Stores.overwritePartition(spark, annDir, name, ix.toStoreFrame)
      // Arm the cosine-top-k → ANN rewrite for direct scans of this
      // collection's docs store (the pgvector planner analogue,
      // core.py:319-321). Two-layer opt-in: this registration is INERT
      // unless the session also installed the rule (GraftExtensions or
      // AnnCatalog.install) — exact queries stay exact everywhere else.
      // Deferred: every rewrite re-reads the CURRENT persisted index
      // (delta-maintained by add/update/delete), and a dropped index
      // declines instead of serving stale buckets.
      graft.plans.AnnCatalog.register(spark, Stores.partitionPath(docsDir, name),
        graft.plans.AnnCatalog.Entry("id", "embedding",
          graft.plans.AnnCatalog.Deferred(() =>
            vectorIndex().map(graft.plans.AnnCatalog.LshRegistered(_)))))
    case "ivf" =>
      require(nprobe >= 1 && nprobe <= numCentroids, "1 <= nprobe <= numCentroids")
      Stores.dropPartition(spark, annDir, name) // see the lsh branch's ordering note
      Stores.dropPartition(spark, pqDir, name)
      Stores.dropPartition(spark, pqBookDir, name)
      Stores.dropPartition(spark, ivfPqDir, name)
      val ix = graft.ext.Ivf.build(docs(), "id", "embedding",
        numCentroids, iters, 1.0, maxSample, seed)
      writeIvf(ix, nprobe, iters, maxSample, seed)
      graft.plans.AnnCatalog.register(spark, Stores.partitionPath(docsDir, name),
        graft.plans.AnnCatalog.Entry("id", "embedding",
          graft.plans.AnnCatalog.Deferred(() => ivfIndex().map(ix =>
            graft.plans.AnnCatalog.IvfRegistered(ix, ivfParams().map(_._1).getOrElse(8))))))
    case "pq" =>
      require(candK >= 1, "candK >= 1")
      Stores.dropPartition(spark, annDir, name) // see the lsh branch's ordering note
      Stores.dropPartition(spark, ivfDir, name)
      Stores.dropPartition(spark, ivfCentDir, name)
      Stores.dropPartition(spark, ivfPqDir, name)
      val cb = graft.ext.Pq.train(docs(), "embedding",
        m, numCentroids, iters, maxSample, seed)
      writePq(cb, candK, iters, maxSample, seed)
      graft.plans.AnnCatalog.register(spark, Stores.partitionPath(docsDir, name),
        graft.plans.AnnCatalog.Entry("id", "embedding",
          graft.plans.AnnCatalog.Deferred(() => pqIndex().map { case (cb, codes, candK) =>
            graft.plans.AnnCatalog.PqRegistered(codes, cb, candK) })))
    case "ivfpq" =>
      // The FAISS IVFPQ composite: coarse IVF lists partition the corpus,
      // PQ codes compress it — a probe ADC-scans ~nprobe/numCentroids of
      // the codes instead of all of them (the flat "pq" kind's cost) and
      // reranks candK floats. The encoding — residual
      // (normalize(v) − centroid[cluster], the FAISS recipe) vs raw — is
      // CHOSEN BY MEASUREMENT on the training sample (chooseIvfPqCodebook);
      // residual serving restores the q·centroid[cluster] term per row
      // (Pq.adcTopKResidual), and the choice persists with the books.
      require(nprobe >= 1 && nprobe <= numCentroids, "1 <= nprobe <= numCentroids")
      require(candK >= 1, "candK >= 1")
      Stores.dropPartition(spark, annDir, name) // see the lsh branch's ordering note
      Stores.dropPartition(spark, ivfDir, name)
      Stores.dropPartition(spark, pqDir, name)
      val (cents, cb, residual) = trainIvfPqTables(numCentroids, m, iters,
        maxSample, seed)
      writeIvfPq(cents, cb, nprobe, candK, iters, maxSample, seed, residual)
      graft.plans.AnnCatalog.register(spark, Stores.partitionPath(docsDir, name),
        graft.plans.AnnCatalog.Entry("id", "embedding",
          graft.plans.AnnCatalog.Deferred(() => ivfPqIndex().map {
            case (cents, cb, rows, nprobe, candK) =>
              graft.plans.AnnCatalog.IvfPqRegistered(rows, cents, cb, nprobe,
                candK, ivfPqResidual()) })))
    case other =>
      throw new IllegalArgumentException(
        s"Unknown vector index kind '$other' (expected \"lsh\", \"ivf\", \"pq\" or \"ivfpq\").")
  }

  private def writeIvf(ix: graft.ext.IvfIndex, nprobe: Int, iters: Int,
                       maxSample: Int, seed: Long): Unit = {
    // On a REBUILD, atomicity across the two partitions isn't available, so
    // order for loud failure: drop the centroid table first (ivfIndex() and
    // every maintenance path key off its existence — the index is "absent"
    // while it's gone), write assignments, write centroids last. Any crash
    // window leaves the index absent/declining, never a new-assignments/
    // old-centroids mismatch served silently.
    Stores.dropPartition(spark, ivfCentDir, name)
    // toStoreFrame is already range-clustered + sorted by cluster
    Stores.overwritePartition(spark, ivfDir, name, ix.toStoreFrame)
    Stores.overwritePartition(spark, ivfCentDir, name,
      ix.centroidsFrame
        .withColumn("nprobe", lit(nprobe)).withColumn("iters", lit(iters))
        .withColumn("max_sample", lit(maxSample)).withColumn("seed", lit(seed)))
  }

  /** The persisted IVF index, if one was built ([[createVectorIndex]] with
    * `kind = "ivf"`): current (delta-resolved) assignments + stored
    * centroids.
    */
  def ivfIndex(): Option[graft.ext.IvfIndex] =
    // BOTH stores: the centroid table alone is shared with the IVF-PQ kind
    // (whose assignments live in annivfpq, not annivf). Centroids come from
    // the memoized driver-side accessor (absent-or-empty → None, exactly
    // the old two-action gate) — an ivfIndex() call on an unchanged store
    // costs zero jobs until the probe itself runs.
    if (!Stores.partitionExists(spark, ivfDir, name)) None
    else ivfCentroidsRaw().map(cents => graft.ext.IvfIndex(
      Stores.readPartition(spark, ivfDir, name, Stores.ivfSchema)
        .select($"id", $"cluster"), cents))

  /** (nprobe, iters, maxSample, seed) of the stored IVF index.
    * Fingerprint-memoized (r19 opt): index metadata lives in driver memory
    * between writes instead of paying a head() job per accessor call.
    */
  private def ivfParams(): Option[(Int, Int, Int, Long)] =
    Stores.memoizedMeta(spark, ivfCentDir, name, "ivfParams") {
      if (!Stores.partitionExists(spark, ivfCentDir, name)) None
      else Stores.readPartition(spark, ivfCentDir, name, Stores.ivfCentSchema)
        .select($"nprobe", $"iters", $"max_sample", $"seed").head(1).headOption
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    }

  /** Train BOTH codebook candidates on the identical bounded sample and
    * keep the lower-reconstruction-MSE one: residual encoding
    * (normalize(v) − centroid[cluster], the FAISS recipe) wins when the
    * coarse quantizer actually captures variance — small residual cells —
    * and LOSES on weakly-clusterable corpora, where the residual cloud is
    * as wide as the sphere but stripped of the per-dimension structure the
    * raw books exploit (measured both ways on the synthetic embeddings).
    * Measuring on the training sample makes the choice deterministic,
    * corpus-adaptive, and O(sample) — never a guess baked into the build.
    */
  private def chooseIvfPqCodebook(cents: Seq[Seq[Float]], m: Int, iters: Int,
                                  maxSample: Int,
                                  seed: Long): (graft.ext.PqCodebook, Boolean) = {
    import graft.ext.Ivf
    chooseIvfPqCodebookFrom(
      Ivf.boundedSample(docs(), "embedding", 1.0, maxSample, seed)
        .collect().map(_.getSeq[Float](0).toArray),
      cents, m, iters)
  }

  /** The raw-vs-residual selection over an ALREADY-COLLECTED sample — the
    * shared tail of [[chooseIvfPqCodebook]] and the fused build path
    * ([[trainIvfPqTables]]), which trains coarse centroids and codebooks
    * from ONE [[graft.ext.Ivf.boundedSample]] collect (r19 opt). Identical
    * math either way (the sample is deterministic for fixed
    * (corpus, maxSample, seed)).
    */
  private def chooseIvfPqCodebookFrom(sample: Array[Array[Float]],
                                      cents: Seq[Seq[Float]], m: Int,
                                      iters: Int): (graft.ext.PqCodebook, Boolean) = {
    import graft.ext.Pq
    val centArr = cents.map(_.toArray).toArray
    val norm = sample.map { v =>
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    val resid = norm.map { v =>
      var best = 0
      var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < centArr.length) {
        val dot = graft.functions.VectorFunctions.dotMin(v, centArr(c))
        if (dot > bestDot) { best = c; bestDot = dot }
        c += 1
      }
      val ctr = centArr(best)
      Array.tabulate(v.length)(d => v(d) - (if (d < ctr.length) ctr(d) else 0.0f))
    }
    val cbRaw = Pq.trainVecs(norm, m, 256, iters)
    val cbRes = Pq.trainVecs(resid, m, 256, iters)
    val mseRaw = Pq.reconstructionMse(norm, cbRaw)
    val mseRes = Pq.reconstructionMse(resid, cbRes)
    if (mseRes < mseRaw) (cbRes, true) else (cbRaw, false)
  }

  /** The IVF-PQ training front end: coarse centroids + measured
    * raw-vs-residual codebook. When the sample bound fits the driver-train
    * arm (`maxSample <= spark.graft.ivf.driverTrainMaxVecs`, the
    * [[graft.ext.Ivf.trainCentroids]] policy), ONE boundedSample selection
    * feeds both the coarse k-means and the codebook choice — the selection
    * (a count + survivor-count + bounded-sort collect over the docs scan)
    * previously ran twice with the identical (corpus, maxSample, seed),
    * once inside Ivf.build and once in [[chooseIvfPqCodebook]]. Results are
    * bit-identical: the sample is deterministic and both consumers see the
    * same hash-ordered rows. `spark.graft.ivfpq.fusedSample=false` restores
    * the two-selection path (A/B kill switch). Above the driver bound the
    * distributed trainer keeps its own sample handling, unchanged.
    */
  private def trainIvfPqTables(numCentroids: Int, m: Int, iters: Int,
                               maxSample: Int, seed: Long)
      : (Seq[Seq[Float]], graft.ext.PqCodebook, Boolean) = {
    import graft.ext.Ivf
    // shared dim-aware gate (vec-count AND byte bound) — keeps this arm
    // decision identical to trainCentroids' own
    val fused = Ivf.driverTrainOk(docs(), "embedding", maxSample) &&
      spark.conf.getOption("spark.graft.ivfpq.fusedSample").forall(_.toBoolean)
    if (fused) {
      val sample = Ivf.boundedSample(docs(), "embedding", 1.0, maxSample, seed)
        .collect().map(_.getSeq[Float](0).toArray)
      val cents = Ivf.trainCentroidsVecs(sample, numCentroids, iters)
      val (cb, residual) = chooseIvfPqCodebookFrom(sample, cents, m, iters)
      (cents, cb, residual)
    } else {
      val cents = Ivf.build(docs(), "id", "embedding",
        numCentroids, iters, 1.0, maxSample, seed).centroids
      val (cb, residual) = chooseIvfPqCodebook(cents, m, iters, maxSample, seed)
      (cents, cb, residual)
    }
  }

  private def writeIvfPq(cents: Seq[Seq[Float]], cb: graft.ext.PqCodebook,
                         nprobe: Int, candK: Int, iters: Int,
                         maxSample: Int, seed: Long,
                         residual: Boolean): Unit = {
    // Crash ordering (see writeIvf): drop BOTH parameter tables first — the
    // index reads as absent while either is gone — write the bulky codes
    // rows, then books, then centroids last.
    Stores.dropPartition(spark, ivfCentDir, name)
    Stores.dropPartition(spark, pqBookDir, name)
    Stores.overwritePartition(spark, ivfPqDir, name,
      ivfPqRows(docs(), cents, cb, residual), sortBy = Seq("cluster"))
    Stores.overwritePartition(spark, pqBookDir, name,
      cb.toStoreFrame(spark)
        .withColumn("cand_k", lit(candK)).withColumn("iters", lit(iters))
        .withColumn("max_sample", lit(maxSample)).withColumn("seed", lit(seed))
        .withColumn("residual", lit(residual)))
    val centsDf = {
      import spark.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
    }
    Stores.overwritePartition(spark, ivfCentDir, name,
      centsDf
        .withColumn("nprobe", lit(nprobe)).withColumn("iters", lit(iters))
        .withColumn("max_sample", lit(maxSample)).withColumn("seed", lit(seed)))
  }

  private def writePq(cb: graft.ext.PqCodebook, candK: Int, iters: Int,
                      maxSample: Int, seed: Long): Unit = {
    // Same crash-ordering contract as writeIvf: drop the codebook table
    // first (pqIndex() and every maintenance path key off its existence),
    // write codes, write books last — any crash window leaves the index
    // absent/declining, never new-codes/old-books served silently.
    Stores.dropPartition(spark, pqBookDir, name)
    Stores.overwritePartition(spark, pqDir, name,
      graft.ext.Pq.encode(docs(), cb))
    Stores.overwritePartition(spark, pqBookDir, name,
      cb.toStoreFrame(spark)
        .withColumn("cand_k", lit(candK)).withColumn("iters", lit(iters))
        .withColumn("max_sample", lit(maxSample)).withColumn("seed", lit(seed))
        .withColumn("residual", lit(false)))
  }

  /** The persisted PQ index, if one was built ([[createVectorIndex]] with
    * `kind = "pq"`): stored codebooks (driver-side, m×k×dsub floats —
    * broadcast-sized), the current (delta-resolved) codes frame, and the
    * stored rerank depth.
    */
  def pqIndex(): Option[(graft.ext.PqCodebook, DataFrame, Int)] =
    // BOTH stores: the codebook table alone is shared with the IVF-PQ kind
    // (whose codes live in annivfpq, not annpq)
    if (!Stores.partitionExists(spark, pqBookDir, name) ||
        !Stores.partitionExists(spark, pqDir, name)) None
    else {
      val book = Stores.readPartition(spark, pqBookDir, name, Stores.pqBookSchema)
      graft.ext.PqCodebook.fromStoreFrame(book).map { cb =>
        (cb, Stores.readPartition(spark, pqDir, name, Stores.pqSchema),
          pqParams().map(_._1).getOrElse(50))
      }
    }

  /** (candK, iters, maxSample, seed) of the stored PQ index
    * (fingerprint-memoized, see [[ivfParams]]). */
  private def pqParams(): Option[(Int, Int, Int, Long)] =
    Stores.memoizedMeta(spark, pqBookDir, name, "pqParams") {
      if (!Stores.partitionExists(spark, pqBookDir, name)) None
      else Stores.readPartition(spark, pqBookDir, name, Stores.pqBookSchema)
        .select($"cand_k", $"iters", $"max_sample", $"seed").head(1).headOption
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    }

  /** Stored PQ codebooks (driver-side), or None without a codebook table.
    * RAW: the table is shared by the flat-PQ and IVF-PQ kinds. */
  private def pqCodebookRaw(): Option[graft.ext.PqCodebook] =
    Stores.memoizedMeta(spark, pqBookDir, name, "pqCodebookRaw") {
      if (!Stores.partitionExists(spark, pqBookDir, name)) None
      else graft.ext.PqCodebook.fromStoreFrame(
        Stores.readPartition(spark, pqBookDir, name, Stores.pqBookSchema))
    }

  /** Stored PQ codebooks of the FLAT PQ index, or None (the IVF-PQ kind
    * reads its books through [[ivfPqParts]]). */
  private def pqCodebook(): Option[graft.ext.PqCodebook] =
    if (!Stores.partitionExists(spark, pqDir, name)) None
    else pqCodebookRaw()

  /** (centroids, codebooks) of the stored IVF-PQ index, or None — the
    * maintenance-path accessor (both tables are driver-side bounded:
    * k×dim centroids, m×256×dsub codewords). */
  private def ivfPqParts(): Option[(Seq[Seq[Float]], graft.ext.PqCodebook)] =
    if (!Stores.partitionExists(spark, ivfPqDir, name)) None
    else for {
      cents <- ivfCentroidsRaw()
      cb <- graft.ext.PqCodebook.fromStoreFrame(
        Stores.readPartition(spark, pqBookDir, name, Stores.pqBookSchema))
    } yield (cents, cb)

  /** Whether the stored IVF-PQ codes are RESIDUALS (vector − coarse
    * centroid). NULL — a pre-residual store — reads as raw, so old indexes
    * keep serving their own encoding until rebuilt; every maintenance path
    * re-encodes under this stored flag, never the build default.
    */
  private[graft] def ivfPqResidual(): Boolean =
    Stores.memoizedMeta(spark, pqBookDir, name, "ivfPqResidual") {
      Stores.partitionExists(spark, pqBookDir, name) &&
        Stores.readPartition(spark, pqBookDir, name, Stores.pqBookSchema)
          .select($"residual").head(1).headOption
          .exists(r => !r.isNullAt(0) && r.getBoolean(0))
    }

  /** The persisted IVF-PQ index, if one was built ([[createVectorIndex]]
    * with `kind = "ivfpq"`): stored coarse centroids, codebooks, the
    * current (delta-resolved) (id, cluster, codes) frame, and the stored
    * (nprobe, candK) probe depths.
    */
  def ivfPqIndex(): Option[(Seq[Seq[Float]], graft.ext.PqCodebook, DataFrame, Int, Int)] =
    ivfPqParts().map { case (cents, cb) =>
      (cents, cb,
        Stores.readPartition(spark, ivfPqDir, name, Stores.ivfPqSchema),
        ivfParams().map(_._1).getOrElse(8),
        pqParams().map(_._1).getOrElse(50))
    }

  /** One IVF-PQ row per embedded batch doc: coarse list + PQ codes, both
    * from expressions carrying the stored tables — one zero-shuffle scan.
    * `residual = true` encodes `normalize(v) − centroid[cluster]` (the
    * FAISS-standard input — the codebook spends its codewords on the much
    * smaller residual cell); false keeps the raw-normalized encoding of
    * pre-residual stores.
    */
  private def ivfPqRows(batch: DataFrame, cents: Seq[Seq[Float]],
                        cb: graft.ext.PqCodebook,
                        residual: Boolean): DataFrame = {
    val assigned = batch.filter($"embedding".isNotNull).select($"id", $"embedding",
      element_at(graft.ext.Ivf.nearestCentroidCol($"embedding", cents, 1), 1)
        .as("cluster"))
    assigned.select($"id", $"cluster",
      graft.ext.Pq.encodeFor($"embedding", $"cluster", cents, cb, residual)
        .as("codes"))
  }

  /** The persisted vector index, if one was built (and the collection has
    * had embedded docs since).
    */
  def vectorIndex(): Option[LshIndex] =
    lshParams().map { case (tables, planes, dim, seed) =>
      LshIndex(Stores.readPartition(spark, annDir, name, Stores.annSchema)
        .select($"id", $"table", $"bucket"), tables, planes, dim, seed)
    }

  /** (numTables, numPlanes, dim, seed) of the stored LSH index, None when
    * absent or empty (fingerprint-memoized, see [[ivfParams]]). */
  private def lshParams(): Option[(Int, Int, Int, Long)] =
    Stores.memoizedMeta(spark, annDir, name, "lshParams") {
      if (!Stores.partitionExists(spark, annDir, name)) None
      else LshIndex.fromStoreFrame(
        Stores.readPartition(spark, annDir, name, Stores.annSchema))
        .map(ix => (ix.numTables, ix.numPlanes, ix.dim, ix.seed))
    }

  /** Maintain the stored LSH index with `f`, or drop a store that no
    * longer holds any rows; no-op without one. */
  private def maintainVectorIndex(f: LshIndex => Unit): Unit =
    if (Stores.partitionExists(spark, annDir, name)) vectorIndex() match {
      case Some(ix) => f(ix)
      case None => Stores.dropPartition(spark, annDir, name)
    }

  // -------------------------------------------------------------------------
  // Persisted dedup-screening index: banded MinHash signatures, stored and
  // delta-maintained exactly like the vector indexes. The serving story —
  // "is this batch of texts a near-duplicate of anything in the corpus?" —
  // is the recrawl/contamination screen: WITHOUT the index each screen
  // re-shingles and re-bands the WHOLE corpus (graft.ext.Dedup.dedupAgainst
  // recomputes reference signatures per call); with it, a probe computes
  // signatures for the probe texts only and joins ~bands skinny rows/doc.
  // -------------------------------------------------------------------------

  /** Build (or rebuild) the persisted MinHash dedup index over the current
    * corpus. Shape parameters are stored with the rows — probes and
    * maintenance re-read them, so callers never re-supply (a mismatched
    * shape would hash to disjoint buckets and silently match nothing).
    */
  def createDedupIndex(n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4): Unit = {
    require(n >= 1 && bands >= 1 && rowsPerBand >= 1,
      "n, bands, rowsPerBand must all be >= 1")
    Stores.overwritePartition(spark, minhashDir, name,
      dedupIndexRows(docs(), n, bands, rpb = rowsPerBand),
      sortBy = Seq("band", "bh"))
  }

  /** (n, bands, rowsPerBand) of the stored dedup index, if one exists. */
  def dedupIndex(): Option[(Int, Int, Int)] = dedupParams()

  private def dedupParams(): Option[(Int, Int, Int)] =
    Stores.memoizedMeta(spark, minhashDir, name, "dedupParams") {
      if (!Stores.partitionExists(spark, minhashDir, name)) None
      else Stores.readPartition(spark, minhashDir, name, Stores.minhashSchema)
        .select($"n", $"bands", $"rows_per_band").head(1).headOption
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    }

  /** The stored row shape: banded signature rows + the shape parameters as
    * constant columns (see [[graft.index.Stores.minhashSchema]]).
    */
  private def dedupIndexRows(source: DataFrame, n: Int, bands: Int,
                             rpb: Int): DataFrame =
    graft.ext.Dedup.bandedSignatureRows(source, "id", "content", n, bands, rpb)
      .withColumn("n", lit(n)).withColumn("bands", lit(bands))
      .withColumn("rows_per_band", lit(rpb))

  /** Near-duplicates of each probe text among the CURRENT corpus, served
    * from the persisted index: (qid, id, jaccard) with word-shingle
    * Jaccard ≥ `threshold`, exact-verified (no false positives; recall is
    * the stored band shape's P[miss] = (1 − t^r)^b). The probe plan never
    * re-signatures the corpus: probe texts band driver-side, broadcast
    * against the skinny store for candidates, and only the candidate
    * docs' content re-shingles for verification.
    */
  def nearDuplicates(queries: Seq[(String, String)],
                     threshold: Double = 0.8): DataFrame =
    nearDupsFrom(spark.createDataset(queries).toDF("qid", "content"),
      threshold, broadcastProbes = true)

  /** [[nearDuplicates]] with a DataFrame probe set `(qid, content)` — the
    * crawl-shard screening arm: probes band DISTRIBUTED (no driver
    * round-trip, no broadcast assumption), so screening a whole shard
    * against the corpus is one banding scan of the shard plus two joins
    * against the skinny store (AQE picks the join strategies). For
    * driver-sized probe sets prefer the Seq overload, whose explicit
    * broadcast skips the exchange.
    */
  def nearDuplicatesDf(probes: DataFrame,
                       threshold: Double = 0.8): DataFrame =
    nearDupsFrom(probes.select($"qid".cast("string").as("qid"), $"content"),
      threshold, broadcastProbes = false)

  private def nearDupsFrom(probes: DataFrame, threshold: Double,
                           broadcastProbes: Boolean): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "0 < threshold <= 1")
    val (n, bands, rpb) = dedupParams().getOrElse(throw new IllegalStateException(
      s"Collection '$name' has no dedup index; call createDedupIndex() first."))
    def side(df: DataFrame) = if (broadcastProbes) broadcast(df) else df
    val qBanded = graft.ext.Dedup
      .bandedSignatureRows(probes, "qid", "content", n, bands, rpb)
      .withColumnRenamed("id", "qid")
    val store = Stores.readPartition(spark, minhashDir, name, Stores.minhashSchema)
    val cands = store.join(side(qBanded), Seq("band", "bh"))
      .select($"qid", $"id").distinct()
    val qSets = probes.select($"qid",
      graft.ext.Dedup.shingleSet($"content", n).as("qshh"))
    // shingle AFTER the candidate join: the expensive shingleSet sits in a
    // Project above the join (no rule pushes it below), so only candidate
    // rows — not the whole corpus — pay the re-shingle
    cands
      .join(docs().select($"id", $"content"), Seq("id"))
      .join(side(qSets), Seq("qid"))
      .select($"qid", $"id", graft.functions.HashFunctions.sortedJaccard(
        $"qshh", graft.ext.Dedup.shingleSet($"content", n)).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  // -------------------------------------------------------------------------
  // Persisted impact-ordered postings: per term, the top-`cap` postings by
  // tf plus the term's EXACT df — the ranked-FTS early-termination sidecar
  // (FTS5 gets this pruning from its own internals, core.py:408-414; the
  // full Bm25 path scores every posting of every query leaf). Serving is
  // CERTIFIED-exact: the candidate top-k is returned only when its k-th
  // score provably beats every non-candidate (see graft.exec.ImpactTopK);
  // anything unprovable falls back to full scoring. Pure-insert batches
  // maintain df incrementally in O(batch); updates/deletes MIRROR into the
  // rows store (gone-claimed, O(batch)) and flag the meta's df stale —
  // serving stays certified-exact through them, re-counting df for just
  // its query terms from the term-pruned resolved postings, until
  // compact()/maintain() re-derives the exact meta (crash windows still
  // read as fallback, never as a wrong serve).
  // -------------------------------------------------------------------------

  /** Build (or rebuild) the impact-ordered postings sidecar: per term, the
    * `cap` highest-tf postings plus exact df. Requires FTS and a non-empty
    * index (an empty collection has nothing to rank; call after ingest).
    * `cap` trades sidecar size for certificate strength — it must comfortably
    * exceed the k you serve (top-10 serving with cap 128 certifies unless
    * the corpus is pathologically tf-flat).
    */
  def createImpactIndex(cap: Int = 128): Unit = {
    require(useFts, s"Collection '$name' does not support full-text search.")
    require(cap >= 1, "cap >= 1")
    // the emptiness probe lives in rebuildImpact (it checks anyway for its
    // drop-on-emptied branch) — one limit-1 job per build, not two
    rebuildImpact(cap, postings(), requireNonEmpty = true)
  }

  /** The stored cap of the impact sidecar, if one was built. */
  def impactIndex(): Option[Int] = impactParams()

  /** Certified-exact ranked top-k search — the serving-path API: documents
    * matching `query` (reference grammar, exact terms only for the fast
    * path), ordered rank DESC / id ASC, rows `offset+1 … offset+k`, shaped
    * (id, content, metadata, rank) like [[queryFrame]]. With a valid impact
    * sidecar and a provable certificate the answer touches O(cap × terms)
    * sidecar rows (single-term queries never read the postings store at
    * all) plus a k-row docs join; every other case — prefix/wildcard or
    * mixed-boolean queries, invalidated meta, failed certificate — is the
    * byte-identical full path [[queryFrame]](query, k, offset). Results
    * are ALWAYS exact; the sidecar only changes the cost.
    */
  def searchTopK(query: String, k: Int, offset: Int = 0): DataFrame = {
    require(k >= 1, "k >= 1")
    require(offset >= 0, "offset >= 0")
    impactCertifiedTopK(query, k, offset).getOrElse(
      queryFrame(query, limit = k, offset = offset))
  }

  /** The certified arm of [[searchTopK]]: Some(frame) only when the impact
    * sidecar served (and certified) the answer — exposed for tests and
    * probes that pin WHICH path ran; callers use [[searchTopK]].
    */
  private[graft] def impactCertifiedTopK(query: String, k: Int,
                                         offset: Int): Option[DataFrame] = {
    if (!useFts) return None
    val (cap, wm, (nDocs, avgDl)) = impactGate()
    if (cap.isEmpty || !wm.exists(_._1 == postingsSeg())) return None
    // gone-aware serving: a stale-df watermark means updates/deletes were
    // mirrored into the rows store — still certified-exact, with df
    // re-counted per query term from the resolved postings (cached under
    // the postings fingerprint, so hot terms pay the recount once per
    // store state)
    val dfStale = wm.exists(_._2 != 0L)
    val folded = if (foldAccents) graft.functions.StringFold.fold(query) else query
    // k + offset in Int can wrap negative (k = Int.MaxValue, offset > 0) —
    // that page depth is full-path territory, not a crash
    if (k.toLong + offset.toLong > Int.MaxValue) return None
    for {
      ast <- QueryParser.parse(folded)
      (isAnd, terms) <- Bm25.flatExactTerms(ast)
      dfOverride = if (dfStale) Some(staleDfFor(terms)) else None
      top <- graft.exec.ImpactTopK.certifiedTopK(
        Stores.readPartition(spark, impactDir, name, Stores.impactSchema),
        impactMetaRows(), postings(), nDocs, avgDl, terms, isAnd, k + offset,
        dfOverride = dfOverride)
    } yield {
      val page = top.drop(offset)
      if (page.isEmpty)
        docs().limit(0)
          .select($"id", $"content", $"metadata", lit(0.0).as("rank"))
      else {
        val hits = page.toDF("id", "rank")
        // the k ids are driver-side, so the docs fetch is a PUSHED In
        // predicate, not a bare join: with the id-range-clustered docs
        // layout (full rewrites rangeBy id) the parquet footer skips every
        // file outside the k ids' ranges — the broadcast join only attaches
        // ranks to the handful of surviving rows (the full path instead
        // joins EVERY matching id before its top-k cut). Very deep pages
        // skip the literal list (a thousands-wide In bloats codegen and
        // degrades to a min/max range in the reader anyway) and keep the
        // plain broadcast join.
        val fetched =
          if (page.size <= 1000) docs().filter($"id".isin(page.map(_._1): _*))
          else docs()
        fetched.join(broadcast(hits), Seq("id"))
          .select($"id", $"content", $"metadata", $"rank")
          .orderBy($"rank".desc, $"id".asc)
      }
    }
  }

  /** Re-derive rows + meta from `from` (the current postings). Rows first,
    * meta (the serving gate) LAST: any crash window leaves the sidecar
    * unservable — full-path fallback — never wrong.
    */
  private def rebuildImpact(cap: Int, from: DataFrame,
                            requireNonEmpty: Boolean = false): Unit = {
    // emptied corpus (e.g. a merge-path delete of every doc): drop both
    // stores, mirroring compact()'s emptied-collection branch — an empty
    // rows store would silently lose the cap registration (impactParams()
    // = None) and orphan two empty store dirs. Checked on the RAW frame:
    // probing the ranked one would pay its window for a 1-row answer.
    // requireNonEmpty = createImpactIndex's explicit-build contract (throw,
    // don't silently drop), sharing this one probe job.
    if (from.limit(1).isEmpty) {
      require(!requireNonEmpty,
        s"Collection '$name' has no postings to index; ingest before createImpactIndex().")
      Stores.dropPartition(spark, impactDir, name)
      Stores.dropPartition(spark, impactMetaDir, name)
      return
    }
    val r = graft.exec.ImpactTopK.ranked(from, cap).persist()
    try {
      // cap-truncated postings rows: the postings store's segment bytes
      // (freshly written by every caller before this) bound the sidecar —
      // no optimizer stats probe over the ranked-window plan
      val (pb, pd) = Stores.segmentBytes(spark, postingsDir, name)
      Stores.overwritePartition(spark, impactDir, name,
        graft.exec.ImpactTopK.rowsFromRanked(r, cap),
        sortBy = Seq("term"), rangeBy = Seq("term"),
        sizeHintBytes = Some(BigInt(pb) + BigInt(pd)))
      Stores.overwritePartition(spark, impactMetaDir, name,
        graft.exec.ImpactTopK.metaFromRanked(from, r, cap)
          .unionByName(impactWatermarkRow(postingsSeg())),
        sortBy = Seq("id"))
    } finally r.unpersist()
  }

  /** The serving gate's (cap, watermark, (n_docs, avg_dl)), cached under a
    * filesystem fingerprint of both sidecar partitions AND the stats store:
    * a warm [[searchTopK]] pays three FS listings — zero Spark jobs —
    * before the real query, instead of a rows-store head(), a watermark
    * filter+head, and a stats head() per call. Any store rewrite or delta
    * append changes the fingerprint (part files are job-unique), so
    * staleness is impossible, including through OTHER Collection handles
    * on the same root.
    */
  private def impactGate(): (Option[Int], Option[(Long, Long)], (Long, Double)) = {
    val fpRows = Stores.partitionFingerprint(spark, impactDir, name)
    val fpMeta = Stores.partitionFingerprint(spark, impactMetaDir, name)
    // no sidecar at all (the common case for collections that never built
    // one, e.g. a federated root's other members): answer from the two
    // listings alone — no stats job, no cache entry to churn
    if (fpRows == 0L && fpMeta == 0L) return (None, None, (0L, 0.0))
    val fp = fpRows ^ java.lang.Long.rotateLeft(fpMeta, 17) ^
      java.lang.Long.rotateLeft(
        Stores.partitionFingerprint(spark, statsDir, name), 34)
    Collection.impactGateCache.getOrElseUpdate((root, name, fp), {
      // bounded size without wholesale wipes: dropping ONE arbitrary entry
      // keeps every other collection's hot gate cached (a full clear() made
      // the 513th distinct state re-run every cached stats job)
      if (Collection.impactGateCache.size > 512)
        Collection.impactGateCache.headOption.foreach(kv =>
          Collection.impactGateCache.remove(kv._1))
      val st = collStats().select($"n_docs", $"avg_dl").head()
      (impactParams(), impactWatermark(), (st.getLong(0), st.getDouble(1)))
    })
  }

  /** Stored cap (rows-store constant column), None without a sidecar
    * (fingerprint-memoized, see [[ivfParams]]). */
  private def impactParams(): Option[Int] =
    Stores.memoizedMeta(spark, impactDir, name, "impactParams") {
      if (!Stores.partitionExists(spark, impactDir, name)) None
      else Stores.readPartition(spark, impactDir, name, Stores.impactSchema)
        .select($"cap").head(1).headOption.map(_.getInt(0))
    }

  private def impactMetaRows(): DataFrame =
    Stores.readPartition(spark, impactMetaDir, name, Stores.impactMetaSchema)

  /** Exact per-term df in the GONE-AWARE (stale-meta) serving regime:
    * terms missing from the cache pay ONE term-pruned count over the
    * resolved postings; every hit is free until the next write changes the
    * postings fingerprint (recursive listing — delta and gone files
    * included, so staleness is impossible, like [[Collection.impactGate]]).
    * Dead terms cache as 0 — they stay dead until the store changes.
    */
  private def staleDfFor(terms: Seq[String]): Map[String, Long] = {
    val fp = Stores.partitionFingerprint(spark, postingsDir, name)
    val cached = terms.flatMap(t =>
      Collection.staleDfCache.get((root, name, fp, t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val counted = postings().filter($"term".isin(missing: _*))
      .groupBy($"term")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    missing.foreach { t =>
      // bounded without wholesale wipes (the impactGateCache policy)
      if (Collection.staleDfCache.size > 4096)
        Collection.staleDfCache.headOption.foreach(kv =>
          Collection.staleDfCache.remove(kv._1))
      Collection.staleDfCache.put((root, name, fp, t), counted.getOrElse(t, 0L))
    }
    cached ++ missing.map(t => t -> counted.getOrElse(t, 0L))
  }

  /** (postings segment ordinal the meta claims to reflect, df-staleness
    * flag) — the flag rides the watermark row's otherwise-unused bound_tf
    * slot: 0 = the meta's df column is exact (serve straight from it),
    * 1 = some update/delete was mirrored into the rows store since the
    * last build/compact, so serving must recount df for its query terms
    * (see [[graft.exec.ImpactTopK.certifiedTopK]]'s `dfStale`).
    */
  private def impactWatermark(): Option[(Long, Long)] =
    Stores.memoizedMeta(spark, impactMetaDir, name, "impactWatermark") {
      if (!Stores.partitionExists(spark, impactMetaDir, name)) None
      else impactMetaRows()
        .filter($"id" === graft.exec.ImpactTopK.WatermarkKey)
        .select($"df", $"bound_tf").head(1).headOption
        .map(r => (r.getLong(0), r.getLong(1)))
    }

  /** The postings store's newest segment ordinal (0 = flat base). */
  private def postingsSeg(): Long =
    Stores.deltaOrdinals(spark, postingsDir, name).lastOption.getOrElse(0L)

  private def impactWatermarkRow(seg: Long, staleDf: Boolean = false): DataFrame =
    Seq((graft.exec.ImpactTopK.WatermarkKey, seg, if (staleDf) 1L else 0L))
      .toDF("id", "df", "bound_tf")

  /** Approximate top-k neighbors of each query vector via the PERSISTED
    * index — probe cost is the probed buckets' row groups plus the candidate
    * rerank, independent of corpus size. Output (qid, rn, id, sim), like
    * [[graft.ext.Ann.lshTopK]] (which rebuilds the index per call; use that
    * only for one-shot probes).
    */
  def vectorTopK(queries: Seq[(String, Seq[Float])], k: Int): DataFrame =
    vectorIndex() match {
      case Some(ix) => ix.topK(docs(), queries, k)
      case None => ivfIndex() match {
        case Some(ix) =>
          ix.topK(docs(), queries, k, nprobe = ivfParams().map(_._1).getOrElse(8))
        case None => pqIndex() match {
          case Some((cb, codes, candK)) =>
            // ADC over the codes (m bytes/row) picks candK candidates per
            // query; only those join back to docs for the exact-cosine
            // rerank — the float column is touched for queries×candK rows
            graft.ext.Pq.rerankTopK(docs(), codes, cb, queries, k, candK)
          case None => ivfPqIndex() match {
            case Some((cents, cb, rows, nprobe, candK)) =>
              if (queries.isEmpty) graft.ext.Ann.exactTopK(docs(), queries, k)
              else {
                // per query: nprobe nearest lists (driver, k×dim dots) →
                // literal cluster IN (…) prunes the codes scan to those
                // lists' row groups → ADC top-candK → shared float rerank
                val residual = ivfPqResidual()
                val cands = queries.map { case (qid, q) =>
                  val lists = graft.ext.Ivf.nearestCentroidIds(
                    q, cents, math.min(nprobe, cents.size))
                  // the stored encoding flag dispatches the scoring shape
                  // in ONE place (Pq.adcTopKFor) for both serving paths
                  graft.ext.Pq.adcTopKFor(
                    rows.filter($"cluster".isin(lists: _*)),
                    cb, cents, residual, Seq((qid, q)), candK)
                    .select($"qid", $"id")
                }.reduce(_ unionByName _)
                graft.ext.Pq.rerankFrom(docs(), cands, queries, k)
              }
            case None => throw new IllegalStateException(
              s"Collection '$name' has no vector index. Call createVectorIndex() first.")
          }
        }
      }
    }

  /** [[vectorTopK]] when a persisted index exists, exact cosine top-k
    * otherwise — the arm [[Collection.vectorSearchAll]] federates over,
    * where per-collection index presence is an operational detail the
    * caller shouldn't branch on. Same (qid, rn, id, sim) shape either way;
    * a collection with no embedded docs returns zero rows.
    */
  def vectorTopKAuto(queries: Seq[(String, Seq[Float])], k: Int): DataFrame =
    if (hasPersistedVectorIndex) vectorTopK(queries, k)
    else graft.ext.Ann.exactTopK(docs(), queries, k)

  /** True iff some persisted index can actually SERVE — each kind's check
    * mirrors its accessor's store gating exactly. A single shared-table
    * existence test would disagree with the accessors inside writeIvfPq's
    * crash window (codes+books present, centroids not yet written): the
    * accessors all read None there, and a route-to-vectorTopK would throw
    * instead of taking the documented exact fallback.
    */
  private def hasPersistedVectorIndex: Boolean = {
    def ex(dir: String) = Stores.partitionExists(spark, dir, name)
    ex(annDir) ||
      (ex(ivfCentDir) && ex(ivfDir)) ||
      (ex(pqBookDir) && ex(pqDir)) ||
      (ex(ivfPqDir) && ex(ivfCentDir) && ex(pqBookDir))
  }

  /** FILTERED approximate vector search — top-k per query AMONG the docs
    * passing `where` (the qdrant/pgvector "metadata filter + ANN"
    * problem). With a persisted index, the post-filter strategy: probe the
    * index for `overfetch`×k candidates per query, apply the metadata
    * filter to the CANDIDATES (a skinny id join — the corpus embedding
    * column is never rescanned), keep k. Recall under filtering grows with
    * `overfetch` relative to the filter's selectivity — a query whose
    * filter rejects most of the over-fetched candidates returns fewer than
    * k rows rather than silently degrading order; highly selective filters
    * belong on the exact arm (`queryFrame(vectorSearch = true, where)`),
    * which filters BEFORE ranking. Without an index this IS that exact
    * arm, shaped (qid, rn, id, sim).
    *
    * PQ-kind cap: the flat-PQ and IVF-PQ probes additionally bound their
    * candidate pool by the index's STORED `candK` — overfetch×k beyond it
    * has no further effect; rebuild the index with a larger `candK` for
    * deeper filtered probes (LSH/IVF probes have no such cap).
    */
  def vectorTopKWhere(queries: Seq[(String, Seq[Float])], k: Int,
                      where: Map[String, Any], overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, "overfetch >= 1")
    if (where.isEmpty) vectorTopKAuto(queries, k)
    else if (!hasPersistedVectorIndex)
      graft.ext.Ann.exactTopK(applyWhere(docs(), where), queries, k)
    else
      vectorTopK(queries, k * overfetch)
        .join(applyWhere(docs(), where).select($"id"), Seq("id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"sim".desc, $"id".asc)))
        .filter($"rn" <= k)
        .select($"qid", $"rn", $"id", $"sim")
  }

  /** Dump this collection's resolved documents (id, content, metadata,
    * embedding) as JSONL under `path` — the portable snapshot/migration
    * format ([[importJsonl]] or any JSONL consumer rebuilds from it).
    * Reads the resolved store (deltas folded), writes line-delimited
    * splittable files; indexes are NOT exported — they rebuild on import,
    * which is what keeps the dump engine-portable.
    */
  def exportJsonl(path: String): Unit =
    graft.sources.Jsonl.writeDocs(docs(), path)

  /** Bulk-upsert an [[exportJsonl]] dump (or any JSONL corpus in the doc
    * schema) into THIS collection — indexes rebuild through the normal
    * ingest path. Explicit schema: no inference pass.
    */
  def importJsonl(path: String): Unit =
    addDf(graft.sources.Jsonl.readDocs(spark, path, Stores.docsSchema))

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 full-text arm and
    * the exact vector cosine arm over this collection — `query` drives the
    * FTS arm through the same fused postings pipeline as [[queryFrame]],
    * `qvec` drives the vector arm, and [[graft.exec.Hybrid.rrfFuse]]
    * combines the two top-`depth` lists (the reference exposes the arms
    * separately, src/sifts/core.py:414-447 / 527-542; fusion is the
    * composition a hybrid-search user performs). `where` filters BOTH arms
    * before ranking. Output: (rn, id, rrf, rn_fts, rn_vec), ≤ k rows.
    */
  def hybridTopK(query: String, qvec: Seq[Float], k: Int, depth: Int = 60,
                 rrfK: Int = 60, where: Map[String, Any] = Map.empty): DataFrame = {
    require(useFts, s"Collection '$name' does not support full-text search.")
    Hybrid.rrfFuse(Seq(
      "fts" -> hybridFtsArm(query, depth, where),
      "vec" -> hybridVectorArm(qvec, depth, where)), k, depth, rrfK)
  }

  /** The vector arm of hybrid fusion: the persisted ANN index's top-`depth`
    * (sims as rank) when one exists AND no metadata filter applies — the
    * pgvector-analog planner decision (core.py:319-321: the reference
    * silently serves vector order-by through the database's index); the
    * exact cosine scan otherwise. A metadata `where` keeps the exact arm:
    * it must filter BEFORE the depth cut, which an id-keyed index cannot
    * do without over-fetch heuristics — correctness beats the scan saving.
    */
  private def hybridVectorArm(qvec: Seq[Float], depth: Int,
                              where: Map[String, Any]): DataFrame =
    if (where.isEmpty && hasPersistedVectorIndex)
      vectorTopK(Seq("q" -> qvec), depth).select($"id", $"sim".as("rank"))
    else VectorSearch.scored(applyWhere(docs(), where), "embedding", qvec)
      .select($"id", $"rank")

  /** [[hybridTopK]] with LINEAR (min-max normalized, weighted) score fusion
    * instead of RRF — the score-aware combinator, for callers who trust the
    * arms' calibration enough to weight them ([[graft.exec.Hybrid.linearFuse]]).
    */
  def hybridTopKLinear(query: String, qvec: Seq[Float], k: Int, depth: Int = 60,
                       weights: Map[String, Double] = Map.empty,
                       where: Map[String, Any] = Map.empty): DataFrame = {
    require(useFts, s"Collection '$name' does not support full-text search.")
    Hybrid.linearFuse(Seq(
      "fts" -> hybridFtsArm(query, depth, where),
      "vec" -> hybridVectorArm(qvec, depth, where)), k, depth, weights)
  }

  /** The hybrid FTS arm: a certified impact-sidecar serve of the top-`depth`
    * when provable (`where` must be empty — the sidecar cannot pre-filter),
    * full scoring otherwise. Equivalent by construction: both fusers cut
    * every arm to its top-`depth` by (rank DESC, id ASC) before ranking,
    * which is exactly the certified result's contract, with the full path's
    * bit-identical BM25 arithmetic — so fused output never depends on WHICH
    * arm implementation ran (HybridSpec pins arm ≡ full path).
    */
  private def hybridFtsArm(query: String, depth: Int,
                           where: Map[String, Any]): DataFrame = {
    val served =
      if (where.isEmpty) impactCertifiedTopK(query, depth, 0) else None
    served.map(_.select($"id", $"rank")).getOrElse {
      val (fts, _, _) = plan(query, where, OrderBy.none, vectorSearch = false)
      fts.select($"id", $"rank")
    }
  }

  /** Full postings + stats (re)build from `source` (the cached batch on
    * first ingest — the collection's full contents by construction there —
    * so nothing re-reads the just-written store). The fresh postings frame
    * is persisted so the stats pass reads the cache populated by the store
    * write: one tokenize, one write, one cached aggregate.
    */
  /** batchEst: the ingest batch's size estimate, when the caller already
    * computed one (upsert does, for its respread decision). Used as the
    * postings write-size hint — Catalyst's own probe of the tokenize plan
    * propagates the child scan size through Generate/Aggregate anyway, so
    * the hint reproduces the same estimate without the extra
    * analyze+optimize pass per write.
    */
  private def refreshIndexesFull(source: DataFrame,
                                 batchEst: Option[BigInt] = None): Unit = {
    if (useFts) {
      val fresh = PostingsIndex.build(source, foldAccents).persist()
      try {
        Stores.overwritePartition(spark, postingsDir, name, fresh,
          sortBy = Seq("term"), rangeBy = Seq("term"), sizeHintBytes = batchEst)
        writeDoclenFull(doclenOfPostings(source.select($"id"), fresh))
        impactParams().foreach(rebuildImpact(_, fresh))
      } finally fresh.unpersist()
    } else {
      // no postings to derive from — tokenize (still one pass, only for
      // non-FTS collections whose stats are informational)
      writeDoclenFull(doclenOfBatch(source))
    }
    refreshVectorIndexFull()
    // dedup index: re-band everything with the STORED shape parameters
    dedupParams().foreach { case (n, bands, rpb) =>
      Stores.overwritePartition(spark, minhashDir, name,
        dedupIndexRows(docs(), n, bands, rpb), sortBy = Seq("band", "bh"))
    }
  }

  /** Small-collection upsert index maintenance: merge-rewrite postings and
    * ann (anti-join out the batch ids, union the batch's fresh rows) —
    * below the direct threshold, rewriting the partition beats making every
    * subsequent read resolve deltas. Only the batch tokenizes either way.
    */
  private def refreshIndexesMerge(batch: DataFrame, rawIds: DataFrame,
                                  smallIds: Boolean,
                                  batchEst: BigInt): Unit = {
    // hinted form for the joins where the ids are the BUILD side (every
    // left_anti right below); the doclen left join instead hints its
    // postings agg (same cardinality bound) via doclenOfPostings — a hint
    // riding the outer-preserved side would be silently dropped
    val batchIds = if (smallIds) broadcast(rawIds) else rawIds
    if (useFts) {
      // persisted: consumed by the postings overwrite AND the doclen derive —
      // without it the batch tokenize+shuffle runs twice
      val freshBatch = PostingsIndex.build(batch, foldAccents).persist()
      val fresh = postings().join(batchIds, Seq("id"), "left_anti")
        .unionByName(freshBatch).persist()
      try {
        // fresh ≤ current postings segments + the batch's tokenized rows:
        // one FS stat replaces the optimizer probe over the
        // anti-join∪tokenize plan (the most expensive probe of the merge
        // path)
        val (pb, pd) = Stores.segmentBytes(spark, postingsDir, name)
        Stores.overwritePartition(spark, postingsDir, name, fresh,
          sortBy = Seq("term"), rangeBy = Seq("term"),
          sizeHintBytes = Some(BigInt(pb) + BigInt(pd) + batchEst))
        writeDoclenFull(doclen().join(batchIds, Seq("id"), "left_anti")
          .unionByName(doclenOfPostings(rawIds, freshBatch, hintAgg = smallIds)))
        // below the direct threshold a full sidecar re-derive is the cheap
        // move (exact df either way, no staleness window)
        impactParams().foreach(rebuildImpact(_, fresh))
      } finally { fresh.unpersist(); freshBatch.unpersist() }
    } else {
      writeDoclenFull(doclen().join(batchIds, Seq("id"), "left_anti")
        .unionByName(doclenOfBatch(batch)))
    }
    refreshVectorIndexMerge(batch, batchIds)
    // dedup index: anti-join out the batch ids, union the batch's fresh rows
    dedupParams().foreach { case (n, bands, rpb) =>
      Stores.overwritePartition(spark, minhashDir, name,
        Stores.readPartition(spark, minhashDir, name, Stores.minhashSchema)
          .join(batchIds, Seq("id"), "left_anti")
          .unionByName(dedupIndexRows(batch, n, bands, rpb)),
        sortBy = Seq("band", "bh"))
    }
  }

  private def refreshVectorIndexMerge(batch: DataFrame, batchIds: DataFrame): Unit = {
    maintainVectorIndex { ix =>
      val kept = ix.buckets.join(batchIds, Seq("id"), "left_anti")
      val added = Ann.lshTables(batch.filter($"embedding".isNotNull),
        "id", "embedding", ix.numTables, ix.numPlanes, ix.dim, ix.seed)
      Stores.overwritePartition(spark, annDir, name,
        ix.copy(buckets = kept.unionByName(added)).toStoreFrame)
    }
    if (Stores.partitionExists(spark, ivfDir, name))
      ivfCentroidsRaw().foreach { cents =>
        val kept = Stores.readPartition(spark, ivfDir, name, Stores.ivfSchema)
          .join(batchIds, Seq("id"), "left_anti")
        val added = graft.ext.Ivf.assign(batch, cents)
        Stores.overwritePartition(spark, ivfDir, name,
          kept.unionByName(added), sortBy = Seq("cluster"))
      }
    pqCodebook().foreach { cb =>
      val kept = Stores.readPartition(spark, pqDir, name, Stores.pqSchema)
        .join(batchIds, Seq("id"), "left_anti")
      Stores.overwritePartition(spark, pqDir, name,
        kept.unionByName(graft.ext.Pq.encode(batch, cb)))
    }
    ivfPqParts().foreach { case (cents, cb) =>
      val kept = Stores.readPartition(spark, ivfPqDir, name, Stores.ivfPqSchema)
        .join(batchIds, Seq("id"), "left_anti")
      Stores.overwritePartition(spark, ivfPqDir, name,
        kept.unionByName(ivfPqRows(batch, cents, cb, ivfPqResidual())),
        sortBy = Seq("cluster"))
    }
  }

  /** Stored coarse centroids (driver-side, k×dim — broadcast-sized), or
    * None without a centroid table. RAW: the table is shared by the IVF
    * and IVF-PQ kinds — IVF-only call-sites must also check annivf exists.
    */
  private def ivfCentroidsRaw(): Option[Seq[Seq[Float]]] =
    Stores.memoizedMeta(spark, ivfCentDir, name, "ivfCentroidsRaw") {
      if (!Stores.partitionExists(spark, ivfCentDir, name)) None
      else {
        val rows = Stores.readPartition(spark, ivfCentDir, name, Stores.ivfCentSchema)
          .select($"cluster", $"centroid").collect()
        if (rows.isEmpty) None
        else Some(rows.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toSeq).toSeq)
      }
    }

  /** Incremental postings + stats maintenance for an upserted batch: only
    * the batch tokenizes, and the postings store gets an O(batch) delta
    * segment whose `gone` sidecar claims every batch id (so replaced docs'
    * stale rows die even when the new content has no tokens) — the Spark
    * analogue of the reference's delete-stale-then-insert FTS maintenance
    * (core.py:505-514), without the O(postings) rewrite the pre-segment
    * layout paid per batch. The property that keeps `streamIngest`
    * micro-batches flat as the collection grows.
    */
  private def refreshIndexesDelta(batch: DataFrame): Unit = {
    val batchIds = batch.select("id")
    // Impact-sidecar state, probed BEFORE the postings/doclen deltas land.
    // Three regimes (gone-aware serving):
    //   EXACT  — watermark matches, df flag fresh, and the batch is a PURE
    //     INSERT (no batch id pre-exists — the skinny doclen store is the
    //     cheapest id inventory): O(batch) rows delta + per-term df
    //     increments; serving stays zero-postings-touch.
    //   MIRROR — watermark matches but the batch updates existing ids (its
    //     vanished terms are unknowable in O(batch)) or df already went
    //     stale earlier: O(batch) rows delta (ALL batch postings, gone
    //     claiming batch ids — the truncation-bound invariant) + a
    //     stale-flagged watermark; serving recounts df per query term.
    //   DROP   — watermark mismatch marks an earlier crash window; don't
    //     compound it — drop the meta, full-path fallback until
    //     compact()/maintain() re-derives.
    val impactWm: Option[(Long, Long)] =
      if (impactParams().isEmpty) None
      else impactWatermark().filter(_._1 == postingsSeg())
    val impactExact: Boolean = impactWm.exists(_._2 == 0L) &&
      (!Stores.partitionExists(spark, doclenDir, name) ||
        doclen().join(batchIds, Seq("id"), "left_semi").limit(1).isEmpty)
    if (useFts) {
      val freshBatch = PostingsIndex.build(batch, foldAccents).persist()
      try {
        // NO size hints on these deltas (r20, measured — see
        // Stores.appendDelta): the coalesce decision must come from each
        // delta frame's own estimate, or the unevaluated tokenize plan
        // lands single-task
        Stores.appendDelta(spark, postingsDir, name,
          freshBatch, gone = Some(batchIds), sortBy = Seq("term"))
        // O(batch) doclen delta (every batch id carries a row, so the data
        // rows alone claim the replacements), then the stats aggregate scans
        // the SKINNY doclen store — never the postings store, whose
        // resolution at 1M docs cost ~10 s per micro-batch
        appendDoclenDelta(doclenOfPostings(batchIds, freshBatch))
        impactParams().foreach { cap =>
          if (impactWm.isEmpty) {
            if (Stores.partitionExists(spark, impactMetaDir, name))
              Stores.dropPartition(spark, impactMetaDir, name)
          } else {
            // O(batch) sidecar delta for BOTH live regimes: ALL the batch's
            // postings rows go in (keeping the tf-bound invariant — nothing
            // new is ever truncated out), ids claimed like the postings
            // delta, so replaced docs' stale sidecar rows die at read …
            Stores.appendDelta(spark, impactDir, name,
              freshBatch.select($"term", $"id", $"tf", $"dl")
                .withColumn("cap", lit(cap)),
              gone = Some(batchIds), sortBy = Seq("term"))
            if (impactExact) {
              // … then per-term df increments (a pure insert adds exactly
              // its per-term doc counts; bounds are untouched — additions
              // live in the sidecar, so the build-time bound still covers
              // everything outside it) + the advanced watermark, LAST:
              // a crash before this line leaves the watermark behind the
              // postings segment, which reads as "fall back", never as
              // stale idf served silently
              val adds = freshBatch.groupBy($"term")
                .agg(org.apache.spark.sql.functions.count(lit(1)).as("__add"))
                .select($"term".as("id"), $"__add")
              val old = Stores.readPartition(spark, impactMetaDir, name,
                Stores.impactMetaSchema)
              Stores.appendDelta(spark, impactMetaDir, name,
                adds.join(old, Seq("id"), "left")
                  .select($"id", (coalesce($"df", lit(0L)) + $"__add").as("df"),
                    coalesce($"bound_tf", lit(0L)).as("bound_tf"))
                  .unionByName(impactWatermarkRow(postingsSeg())),
                sortBy = Seq("id"))
            } else {
              // … mirror regime: no df rows (serving recounts its query
              // terms), just the stale-flagged watermark, LAST — same
              // crash-window contract as above
              Stores.appendDelta(spark, impactMetaDir, name,
                impactWatermarkRow(postingsSeg(), staleDf = true),
                sortBy = Seq("id"))
            }
          }
        }
      } finally freshBatch.unpersist()
    } else {
      appendDoclenDelta(doclenOfBatch(batch))
    }
    refreshVectorIndexDelta(batch, batchIds)
    // dedup index: O(batch) delta — only the batch re-shingles/re-bands
    // (with the stored shape), the gone sidecar claims every batch id
    dedupParams().foreach { case (n, bands, rpb) =>
      Stores.appendDelta(spark, minhashDir, name,
        dedupIndexRows(batch, n, bands, rpb),
        gone = Some(batchIds), sortBy = Seq("band", "bh"))
    }
  }

  /** Small-collection delete index maintenance: anti-join rewrite of
    * postings and ann (the pre-segment shape — optimal when the partition
    * is small).
    */
  private def removeFromIndexesMerge(idsDf: DataFrame): Unit = {
    if (useFts) {
      val fresh = postings().join(idsDf, Seq("id"), "left_anti").persist()
      try {
        // a pure anti-join can only shrink the store: its segment bytes
        // bound the rewrite — no optimizer stats probe
        val (pb, pd) = Stores.segmentBytes(spark, postingsDir, name)
        Stores.overwritePartition(spark, postingsDir, name, fresh,
          sortBy = Seq("term"), rangeBy = Seq("term"),
          sizeHintBytes = Some(BigInt(pb) + BigInt(pd)))
        writeDoclenFull(doclen().join(idsDf, Seq("id"), "left_anti"))
        impactParams().foreach(rebuildImpact(_, fresh))
      } finally fresh.unpersist()
    } else {
      writeDoclenFull(doclen().join(idsDf, Seq("id"), "left_anti"))
    }
    maintainVectorIndex { ix =>
      Stores.overwritePartition(spark, annDir, name,
        ix.copy(buckets = ix.buckets.join(idsDf, Seq("id"), "left_anti")).toStoreFrame)
    }
    if (Stores.partitionExists(spark, ivfDir, name))
      Stores.overwritePartition(spark, ivfDir, name,
        Stores.readPartition(spark, ivfDir, name, Stores.ivfSchema)
          .join(idsDf, Seq("id"), "left_anti"), sortBy = Seq("cluster"))
    if (Stores.partitionExists(spark, pqDir, name))
      Stores.overwritePartition(spark, pqDir, name,
        Stores.readPartition(spark, pqDir, name, Stores.pqSchema)
          .join(idsDf, Seq("id"), "left_anti"))
    if (Stores.partitionExists(spark, ivfPqDir, name))
      Stores.overwritePartition(spark, ivfPqDir, name,
        Stores.readPartition(spark, ivfPqDir, name, Stores.ivfPqSchema)
          .join(idsDf, Seq("id"), "left_anti"), sortBy = Seq("cluster"))
    if (Stores.partitionExists(spark, minhashDir, name))
      Stores.overwritePartition(spark, minhashDir, name,
        Stores.readPartition(spark, minhashDir, name, Stores.minhashSchema)
          .join(idsDf, Seq("id"), "left_anti"), sortBy = Seq("band", "bh"))
  }

  /** Index maintenance for a delete: gone-only deltas (no tokenize, no
    * bucket work — the ids simply stop being claimed by any data row).
    */
  private def removeFromIndexes(idsDf: DataFrame): Unit = {
    if (useFts) {
      // impact sidecar, gone-aware: a delete's vanished terms are
      // unknowable in O(batch), so the exact-df meta can't be maintained —
      // but the rows store CAN stay complete: gone-claim the deleted ids
      // there too and flag the watermark stale, and serving stays
      // certified-exact with df re-counted per query term (deletions only
      // REMOVE postings, so the build-time truncation bound still covers
      // everything outside the resolved rows store). Watermark eligibility
      // is captured against the PRE-delete segment; the stale watermark is
      // written LAST, so any crash window reads as "fall back", never as
      // a silently-wrong serve. A mismatched watermark (earlier crash)
      // still drops the meta rather than compound.
      val mirrorable = Stores.partitionExists(spark, impactMetaDir, name) &&
        impactWatermark().exists(_._1 == postingsSeg())
      Stores.appendDelta(spark, postingsDir, name,
        emptyFrame(Stores.postingsSchema), gone = Some(idsDf))
      if (mirrorable) {
        Stores.appendDelta(spark, impactDir, name,
          emptyFrame(Stores.impactSchema), gone = Some(idsDf))
        Stores.appendDelta(spark, impactMetaDir, name,
          impactWatermarkRow(postingsSeg(), staleDf = true), sortBy = Seq("id"))
      } else if (Stores.partitionExists(spark, impactMetaDir, name))
        Stores.dropPartition(spark, impactMetaDir, name)
    }
    appendDoclenDelta(emptyFrame(Stores.doclenSchema), gone = Some(idsDf))
    if (Stores.partitionExists(spark, annDir, name))
      Stores.appendDelta(spark, annDir, name,
        emptyFrame(Stores.annSchema), gone = Some(idsDf))
    if (Stores.partitionExists(spark, ivfDir, name))
      Stores.appendDelta(spark, ivfDir, name,
        emptyFrame(Stores.ivfSchema), gone = Some(idsDf))
    if (Stores.partitionExists(spark, pqDir, name))
      Stores.appendDelta(spark, pqDir, name,
        emptyFrame(Stores.pqSchema), gone = Some(idsDf))
    if (Stores.partitionExists(spark, ivfPqDir, name))
      Stores.appendDelta(spark, ivfPqDir, name,
        emptyFrame(Stores.ivfPqSchema), gone = Some(idsDf))
    if (Stores.partitionExists(spark, minhashDir, name))
      Stores.appendDelta(spark, minhashDir, name,
        emptyFrame(Stores.minhashSchema), gone = Some(idsDf))
  }

  // -------------------------------------------------------------------------
  // doclen store + collection stats. The stats aggregate reads the SKINNY
  // (id, dl) doclen store — one 16-byte row per doc — never the postings
  // store: resolving O(Σ dl) postings rows per upsert cost ~10 s per
  // micro-batch at 1M docs (ProbeScale `microbatch_big`) and scans terabytes
  // at the 100 TB target, where doclen stays in gigabytes.
  // -------------------------------------------------------------------------

  /** Resolved doclen store. A store written before the doclen layout (or
    * whose doclen partition was lost) derives it once from postings + docs —
    * the old O(postings) path, paid a single time.
    */
  private def doclen(): DataFrame =
    if (Stores.partitionExists(spark, doclenDir, name))
      Stores.readPartition(spark, doclenDir, name, Stores.doclenSchema)
    else if (useFts && Stores.partitionExists(spark, postingsDir, name))
      doclenOfPostings(docs().select($"id"), postings())
    else doclenOfBatch(docs())

  /** (id, dl) of exactly `ids`, dl from the given postings rows; absent-from-
    * postings docs (zero tokens) get dl 0 via the left join.
    */
  private def doclenOfPostings(ids: DataFrame, fromPostings: DataFrame,
                               hintAgg: Boolean = false): DataFrame = {
    // ids is the OUTER-PRESERVED side of this left join, so it can never
    // be the broadcast build side — when the caller knows the batch is
    // small, the hint goes on the postings agg instead (grouped by id, so
    // its cardinality is bounded by the same batch-id set)
    val agg0 = fromPostings.groupBy($"id").agg(max($"dl").as("dl"))
    val agg = if (hintAgg) broadcast(agg0) else agg0
    ids.select($"id")
      .join(agg, Seq("id"), "left")
      .select($"id", coalesce($"dl", lit(0L)).as("dl"))
  }

  /** (id, dl) by tokenizing a batch directly (non-FTS collections — no
    * postings to derive from; still only the batch tokenizes).
    */
  private def doclenOfBatch(batch: DataFrame): DataFrame =
    batch.select($"id",
      coalesce(size(graft.functions.TextFunctions.tokens($"content", foldAccents)), lit(0))
        .cast("long").as("dl"))

  /** Full doclen rewrite + stats from the same frame (full-build and
    * merge-rewrite paths).
    */
  private def writeDoclenFull(dl: DataFrame): Unit = {
    val d = dl.persist()
    try {
      Stores.overwritePartition(spark, doclenDir, name, d)
      writeStatsFrom(d)
    } finally d.unpersist()
  }

  /** O(batch) doclen delta + stats from the resolved skinny store (delta
    * upsert / delete paths).
    */
  private def appendDoclenDelta(batchDl: DataFrame,
                                gone: Option[DataFrame] = None): Unit = {
    if (!Stores.partitionExists(spark, doclenDir, name))
      Stores.overwritePartition(spark, doclenDir, name, doclen()) // legacy store: materialize once
    Stores.appendDelta(spark, doclenDir, name, batchDl, gone)
    writeStatsFrom(doclen())
  }

  private def writeStatsFrom(dl: DataFrame): Unit = {
    // one aggregate job returning a single row; the one-row stats partition
    // is then written DRIVER-side (no distributed write job / committer
    // round — measurable fixed overhead on every upsert and delete)
    val r = dl.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
      coalesce(avg($"dl"), lit(0.0)).as("avg_dl")).head()
    Stores.writeCollStats(spark, statsDir, name, r.getLong(0), r.getDouble(1))
  }

  /** Full rebuild of the persisted vector index (if one exists) with its
    * stored plane parameters. A collection emptied of embedded docs loses
    * its params row and the index is dropped (rebuild with
    * `createVectorIndex` after re-adding).
    */
  private def refreshVectorIndexFull(): Unit = {
    maintainVectorIndex { ix =>
      Stores.overwritePartition(spark, annDir, name,
        LshIndex.build(docs(), "id", "embedding",
          ix.numTables, ix.numPlanes, ix.dim, ix.seed).toStoreFrame)
    }
    // IVF: re-assign everything against the STORED centroids (zero-shuffle
    // scan); centroid retraining is compact()'s staleness policy, not the
    // write path's job
    if (Stores.partitionExists(spark, ivfDir, name))
      ivfCentroidsRaw().foreach { cents =>
        Stores.overwritePartition(spark, ivfDir, name,
          graft.ext.Ivf.assign(docs(), cents), sortBy = Seq("cluster"))
      }
    // PQ: re-encode everything against the STORED codebooks (zero-shuffle
    // scan); codebook retraining is compact()'s staleness policy too
    pqCodebook().foreach { cb =>
      Stores.overwritePartition(spark, pqDir, name,
        graft.ext.Pq.encode(docs(), cb))
    }
    // IVF-PQ: one scan re-derives both the coarse list and the codes
    ivfPqParts().foreach { case (cents, cb) =>
      Stores.overwritePartition(spark, ivfPqDir, name,
        ivfPqRows(docs(), cents, cb, ivfPqResidual()), sortBy = Seq("cluster"))
    }
  }

  /** Delta-maintain the persisted vector index for an upserted batch: only
    * the batch re-buckets (with the stored plane parameters), written as an
    * O(batch) delta whose `gone` sidecar claims every batch id — same shape
    * as the postings delta.
    */
  private def refreshVectorIndexDelta(batch: DataFrame, batchIds: DataFrame): Unit = {
    maintainVectorIndex { ix =>
      val added = Ann.lshTables(batch.filter($"embedding".isNotNull),
        "id", "embedding", ix.numTables, ix.numPlanes, ix.dim, ix.seed)
      Stores.appendDelta(spark, annDir, name,
        ix.copy(buckets = added).toStoreFrame,
        gone = Some(batchIds), sortBy = Seq("table", "bucket"))
    }
    // IVF: O(batch) delta — the batch re-assigns against the stored
    // centroids (broadcast expression, zero shuffle); the gone sidecar
    // claims every batch id so replaced/unembedded docs leave the index
    if (Stores.partitionExists(spark, ivfDir, name))
      ivfCentroidsRaw().foreach { cents =>
        Stores.appendDelta(spark, ivfDir, name,
          graft.ext.Ivf.assign(batch, cents),
          gone = Some(batchIds), sortBy = Seq("cluster"))
      }
    // PQ: O(batch) delta — the batch re-encodes against the stored
    // codebooks (codebooks ride in the expression, zero shuffle); same
    // gone-sidecar contract
    pqCodebook().foreach { cb =>
      Stores.appendDelta(spark, pqDir, name,
        graft.ext.Pq.encode(batch, cb), gone = Some(batchIds))
    }
    // IVF-PQ: O(batch) delta — coarse list + codes in one zero-shuffle scan
    ivfPqParts().foreach { case (cents, cb) =>
      Stores.appendDelta(spark, ivfPqDir, name,
        ivfPqRows(batch, cents, cb, ivfPqResidual()),
        gone = Some(batchIds), sortBy = Seq("cluster"))
    }
  }

  // -------------------------------------------------------------------------
  // Read path (reference core.py:190-384)
  // -------------------------------------------------------------------------

  /** Full query pipeline. Empty `query` = scan (`get`, core.py:370-384).
    * `orderBy` takes a bare string or a list (reference core.py:306-311).
    * `limit=0` means unlimited (core.py:327-333). `total` is always the true
    * pre-limit match count (SURVEY §7.4 decision — the SQLite-vector
    * behavior; the PG offset-past-end `total=0` quirk is not replicated).
    *
    * One Spark action per call — the analogue of the reference's
    * `count(*) OVER()` beside its page (core.py:408). With `limit > 0` the
    * unordered match frame carries an observed row count (a fresh
    * [[org.apache.spark.sql.Observation]] per call) and the page is
    * collected through `orderBy.offset.limit`, which plans as ONE
    * `TakeOrderedAndProject`: each task keeps an (offset+limit)-row heap
    * while the metric counts every row it passes. No persist, no global
    * sort, no second count job. With `limit <= 0` every row is collected
    * anyway, so `total` is the collected row count and the offset drops
    * driver-side — a global sort re-runs its child for range sampling,
    * which would double an observed count.
    */
  def query(query: String = "", limit: Int = 0, offset: Int = 0,
            where: Map[String, Any] = Map.empty, orderBy: OrderBy = OrderBy.none,
            vectorSearch: Boolean = false): QueryResult = {
    val (matches, order, withRank) = plan(query, where, orderBy, vectorSearch)
    val shaped = hitColumns(matches, withRank)
    // past Spark's top-k threshold the page plans as a global sort (see
    // above) — that depth is a full collect either way
    val topK = limit > 0 && limit.toLong + math.max(offset, 0) <
      spark.conf.get("spark.sql.execution.topKSortFallbackThreshold").toLong
    if (topK) {
      val obs = org.apache.spark.sql.Observation()
      val page = Paginator(
        shaped.observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("total"))
          .orderBy(order: _*), limit, offset)
      val hits = collectHits(page)
      // the metric arrives through Spark's asynchronous listener bus, which
      // drops events when its queue is full: a lost event costs a recount,
      // never a hung read. A plan with zero partitions (absent or emptied
      // collection) reports an empty row: zero matches.
      val total =
        try {
          val row = scala.concurrent.Await.result(obs.future, Collection.ObservedTotalWait)
          if (row.length == 0) 0L else row.getLong(0)
        } catch { case _: java.util.concurrent.TimeoutException => shaped.count() }
      QueryResult(total, hits)
    } else {
      val hits = collectHits(shaped.orderBy(order: _*))
      QueryResult(hits.size, hits.drop(math.max(offset, 0)))
    }
  }

  /** The same query pipeline as a lazy, paginated DataFrame with columns
    * (id, content, metadata, rank) — the distributed-consumer API (no
    * driver-side collect; `query()`'s `limit=0` full collect reproduces the
    * reference's API-boundary cliff and is for parity only).
    */
  def queryFrame(query: String = "", limit: Int = 0, offset: Int = 0,
                 where: Map[String, Any] = Map.empty, orderBy: OrderBy = OrderBy.none,
                 vectorSearch: Boolean = false): DataFrame = {
    val (matches, order, withRank) = plan(query, where, orderBy, vectorSearch)
    Paginator(hitColumns(matches, withRank).orderBy(order: _*), limit, offset)
  }

  /** Phrase search: documents whose token stream contains the phrase's
    * tokens ADJACENTLY, in order — the fts5 `"quoted phrase"` semantics.
    * The reference's query language strips quotes to plain AND terms
    * (core.py:60, pinned by `q2_parser_golden`), so this is a strict
    * extension, surfaced as its own method rather than a parser change
    * (the parser's reference parity stays byte-exact).
    *
    * Scale: two stages. (1) Candidate gate — the flat-AND postings scan
    * over the phrase's DISTINCT terms (one skinny (term,id) shuffle, term
    * IN (…) prunable at the scan). (2) Adjacency verify — a zero-shuffle
    * [[graft.functions.ContainsSlice]] pass re-tokenizing only the
    * CANDIDATES' content. Rank = BM25 over the phrase's terms (how fts5
    * scores a phrase query). Returns the `queryFrame` shape
    * (id, content, metadata, rank), rank-desc / id-asc ordered.
    */
  def phraseSearch(phrase: String, limit: Int = 0, offset: Int = 0,
                   where: Map[String, Any] = Map.empty): DataFrame = {
    if (!useFts)
      throw new IllegalArgumentException("This collection does not support full-text search.")
    val folded = if (foldAccents) graft.functions.StringFold.fold(phrase) else phrase
    // Locale.ROOT on the query side; the INDEX side lowercases through
    // Spark's lower(), whose UTF8String fast path is ASCII-only and falls
    // back to default-locale String.toLowerCase for non-ASCII — so exotic
    // chars with locale-sensitive case maps (e.g. U+0130 on a tr JVM) can
    // still tokenize differently between query and index. Accepted residual
    // gap: closing it would mean a custom lowercase expression on the
    // indexing hot path for characters the corpus contract doesn't carry.
    val terms = folded.toLowerCase(java.util.Locale.ROOT).split(graft.functions.TextFunctions.SeparatorRegex)
      .filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "phrase must contain at least one token")
    val q = terms.distinct.map(BoolQuery.Term(_): BoolQuery)
      .reduceLeft(BoolQuery.And(_, _))
    val scored = Bm25.scoredIds(postings(), collStats(), q)
      .getOrElse(sys.error("flat AND over distinct terms is always fusable"))
    val needle = array(terms.map(lit): _*)
    // The verify predicate must NOT be pushed below the join: alone it only
    // references docs columns, so Catalyst would move it onto the docs scan
    // and re-tokenize the ENTIRE corpus instead of the candidates. Folding
    // the (always-true post-join) rank-not-null test into one conditional
    // makes the predicate reference both sides, pinning it above the join —
    // verified by the CollectionSpec plan assertion.
    val verify = when($"rank".isNotNull,
      graft.functions.TextFunctions.containsSlice(
        graft.functions.TextFunctions.tokens($"content", foldAccents), needle))
      .otherwise(lit(false))
    val hits = applyWhere(docs(), where)
      .join(scored, Seq("id"))
      .filter(verify)
      .select($"id", $"content", $"metadata", $"rank")
      .orderBy($"rank".desc, $"id".asc)
    Paginator(hits, limit, offset)
  }

  /** EXTENDED-syntax query: the reference grammar plus `"quoted phrase"`
    * (adjacency) and `near(a b, k)` (proximity window) leaves, composable
    * with and/or/implicit-AND anywhere in the boolean tree — the unified
    * form of [[phraseSearch]]/[[nearSearch]]
    * ([[graft.parse.QueryParser.parseExtended]]). The reference-parity
    * `query`/`queryFrame` grammar is untouched.
    *
    * Evaluation: match ids compose recursively (joins for AND, distinct
    * unions for OR); each extended leaf lowers to its flat-AND postings
    * gate plus a candidates-only ContainsSlice/TokenMinSpan verify (pinned
    * above the join, see [[phraseSearch]]). Rank = BM25 over the query
    * with extended leaves expanded to their terms, 0 for docs admitted
    * without a scoring term (same convention as the non-flat parity path).
    * Returns (id, content, metadata, rank), rank-desc / id-asc.
    *
    * Scale (measured twice at 2M docs, BENCH_scale_400x_r15ops.json):
    * total cost decomposes ADDITIVELY into the leaves — warm full
    * `"table hash" or near(slow key, 4)` ≤ phrase arm + near arm in both
    * runs (15.6 s vs 9.2+8.9 and 8.9 s vs 5.4+4.7 across two
    * noise-separated runs), and each verified arm ≈ its plain AND gate +
    * a candidates-only verify; union/distinct and the final score join
    * are marginal. No stage is superlinear in leaf count or corpus size
    * (the r14 probe's 5× extended-vs-AND ratio was host noise — unchanged
    * code reproduced 2.3×–3×, fully accounted by the two arms). The
    * remaining known redundancy is one docs-content join per verified
    * leaf; fusing arms would save only the candidate-set overlap and is
    * deliberately not done — per-leaf plans keep each verify pinned above
    * its own gate and let Catalyst prune each arm independently.
    */
  def extendedQueryFrame(query: String, limit: Int = 0, offset: Int = 0,
                         where: Map[String, Any] = Map.empty): DataFrame = {
    val folded = if (foldAccents) graft.functions.StringFold.fold(query) else query
    QueryParser.parseExtended(folded) match {
      case None => queryFrame("", limit, offset, where)
      // parity fallback only when the extended parse IS the reference
      // parse: a paren-grouped plain-boolean query (`(a or b) c`) has no
      // extended leaf but a DIFFERENT tree than parse()'s flat grammar
      // would build, so it must evaluate here, not through the byte-exact
      // parity path (which would re-parse parens as punctuation)
      case Some(ast) if !BoolQuery.hasExtended(ast) &&
          QueryParser.parse(folded).contains(ast) =>
        queryFrame(query, limit, offset, where)
      case Some(ast) =>
        if (!useFts)
          throw new IllegalArgumentException("This collection does not support full-text search.")
        val ids = extIds(ast)
        val expanded = expandExtended(ast)
        val hits = applyWhere(docs(), where)
          .join(ids, Seq("id"))
          .join(Bm25.scores(postings(), collStats(), expanded), Seq("id"), "left")
          .withColumn("rank", coalesce($"rank", lit(0.0)))
          .select($"id", $"content", $"metadata", $"rank")
          .orderBy($"rank".desc, $"id".asc)
        Paginator(hits, limit, offset)
    }
  }

  /** Match-id frame for an extended AST (ids distinct per subtree). */
  private def extIds(q: BoolQuery): DataFrame = q match {
    case BoolQuery.Phrase(ts) =>
      verifiedIds(ts.distinct, graft.functions.TextFunctions.containsSlice(
        graft.functions.TextFunctions.tokens($"content", foldAccents),
        array(ts.map(lit): _*)))
    case BoolQuery.Near(ts, k) =>
      verifiedIds(ts.distinct, graft.functions.TextFunctions.tokenMinSpan(
        graft.functions.TextFunctions.tokens($"content", foldAccents),
        array(ts.distinct.map(lit): _*)) <= k)
    case BoolQuery.And(l, r)  => extIds(l).join(extIds(r), Seq("id"))
    case BoolQuery.Or(l, r)   => extIds(l).union(extIds(r)).distinct()
    // NOT: keep side minus excluded side — a LEFT ANTI on the skinny
    // match-id frames (both already id-keyed; the anti join is the one
    // shuffle the exclusion costs, never a corpus scan)
    case BoolQuery.Diff(l, r) => extIds(l).join(extIds(r), Seq("id"), "left_anti")
    case leaf => FtsEval.matchingIds(postings(), leaf)
  }

  /** Gate on the terms' postings AND-match, then verify `pred` on the
    * candidates' content only. The marker-column conditional pins the
    * verify ABOVE the join (its pushdown would re-tokenize the whole
    * corpus — the [[phraseSearch]] plan guarantee).
    */
  private def verifiedIds(gateTerms: Seq[String], pred: org.apache.spark.sql.Column): DataFrame = {
    val gate = gateTerms.map(BoolQuery.Term(_): BoolQuery).reduceLeft(BoolQuery.And(_, _))
    // the marker must be a NULLABLE aggregate, not a literal or a count: a
    // lit() marker constant-folds, and count(*) is non-nullable so
    // NullPropagation folds `isnotnull(__g)` to true either way — the
    // conditional then collapses to the bare predicate and Catalyst pushes
    // it below the join onto the full docs scan (the re-tokenize-the-corpus
    // plan this guards against). sum() is nullable-typed, like the `rank`
    // guard in phraseSearch. The gate frame is already id-partitioned, so
    // the extra agg is shuffle-free in the AND path and one skinny
    // match-ids shuffle otherwise.
    val ids = FtsEval.matchingIds(postings(), gate)
      .groupBy($"id")
      .agg(sum(lit(1L)).as("__g"))
    docs().join(ids, Seq("id"))
      .filter(when($"__g".isNotNull, pred).otherwise(lit(false)))
      .select($"id")
  }

  /** Extended leaves -> AND of their (distinct) terms, for BM25 scoring.
    * A Diff scores only its kept side: the excluded side's terms are an
    * exclusion gate, not relevance signal (fts5 ranks `a NOT b` on a). */
  private def expandExtended(q: BoolQuery): BoolQuery = q match {
    case BoolQuery.Phrase(ts) =>
      ts.distinct.map(BoolQuery.Term(_): BoolQuery).reduceLeft(BoolQuery.And(_, _))
    case BoolQuery.Near(ts, _) =>
      ts.distinct.map(BoolQuery.Term(_): BoolQuery).reduceLeft(BoolQuery.And(_, _))
    case BoolQuery.And(l, r)  => BoolQuery.And(expandExtended(l), expandExtended(r))
    case BoolQuery.Or(l, r)   => BoolQuery.Or(expandExtended(l), expandExtended(r))
    case BoolQuery.Diff(l, _) => expandExtended(l)
    case leaf => leaf
  }

  /** One-call in-place collection dedup: run the corpus dedup pipeline
    * ([[graft.ext.Dedup.dedupCorpus]] — exact ∪ MinHash near-dup pairs →
    * connected components → min-id survivor per cluster) over THIS
    * collection, drop the losers, and rebuild postings/doclen/stats/ANN
    * from the survivors. Returns the number of documents removed.
    *
    * Scale: fully distributed end to end — the survivor frame is
    * materialized (persist + count) and swapped in via the write-temp
    * partition overwrite; the index rebuild is the same full path first
    * ingest uses. No id list ever collects to the driver (the `delete(ids)`
    * API would). Run on a quiesced collection, like [[maintain]].
    */
  def dedup(threshold: Double = 0.8): Long = {
    val before = count()
    val survivors = graft.ext.Dedup.dedupCorpus(docs(), threshold = threshold).persist()
    try {
      val after = survivors.count()
      if (after != before) {
        Stores.overwritePartition(spark, docsDir, name, survivors,
          sortBy = Seq("id"), rangeBy = Seq("id"))
        refreshIndexesFull(survivors)
      }
      before - after
    } finally survivors.unpersist()
  }

  /** Index introspection — the "EXPLAIN the index" admin surface (the
    * reference's stores are opaque SQLite/PG internals; here the postings
    * ARE a table, so the report is one aggregate over it). One row per
    * df-heaviest term (rn, term, df) with the corpus-level columns
    * repeated: n_docs, n_terms (distinct dictionary size), n_postings
    * ((term, doc) rows), avg_dl. Capacity planning, stopword auditing,
    * and index-health checks read from this.
    *
    * Scale: one postings scan feeds BOTH the dictionary aggregate and the
    * per-term df (map-side combine; identical subtrees reuse the
    * exchange); the top-k cut is TakeOrderedAndProject, never a full-vocab
    * window; stats join back as broadcast 1-row frames.
    */
  def indexStats(topK: Int = 10): DataFrame = {
    if (!useFts)
      throw new IllegalArgumentException("This collection does not support full-text search.")
    require(topK >= 1, "topK >= 1")
    val p = postings()
    // qualified: the class's own count() shadows functions.count here
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val dict = p.agg(countDistinct($"term").as("n_terms"), cnt.as("n_postings"))
    val byDf = p.groupBy($"term").agg(cnt.as("df")) // (term, id) unique
      .orderBy($"df".desc, $"term".asc).limit(topK)
    val w = Window.orderBy($"df".desc, $"term".asc) // ≤ topK rows — bounded window
    byDf.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(dict))
      .crossJoin(broadcast(collStats().select($"n_docs", $"avg_dl")))
      .select($"rn".cast("long").as("rn"), $"term", $"df",
        $"n_docs", $"n_terms", $"n_postings", round($"avg_dl", 6).as("avg_dl"))
  }

  /** Proximity (NEAR) search: documents where ALL of `phrase`'s tokens
    * occur within a token window of span ≤ `maxSpan` (max position − min
    * position; fts5 `NEAR(a b, k)` semantics, order-insensitive — the
    * looser cousin of [[phraseSearch]], whose ordered-adjacent match is
    * span = n−1 with order). Same two-stage shape: flat-AND postings gate
    * over the distinct terms, then a zero-shuffle
    * [[graft.functions.TokenMinSpan]] verify on the candidates only
    * (pinned above the join, see [[phraseSearch]]). Rank = BM25 over the
    * terms. Returns (id, content, metadata, rank), rank-desc ordered.
    */
  def nearSearch(phrase: String, maxSpan: Int, limit: Int = 0, offset: Int = 0,
                 where: Map[String, Any] = Map.empty): DataFrame = {
    if (!useFts)
      throw new IllegalArgumentException("This collection does not support full-text search.")
    require(maxSpan >= 1, "maxSpan >= 1")
    val folded = if (foldAccents) graft.functions.StringFold.fold(phrase) else phrase
    val terms = folded.toLowerCase(java.util.Locale.ROOT).split(graft.functions.TextFunctions.SeparatorRegex)
      .filter(_.nonEmpty).toSeq.distinct
    require(terms.size >= 2, "NEAR needs at least 2 distinct terms")
    val q = terms.map(BoolQuery.Term(_): BoolQuery).reduceLeft(BoolQuery.And(_, _))
    val scored = Bm25.scoredIds(postings(), collStats(), q)
      .getOrElse(sys.error("flat AND over distinct terms is always fusable"))
    val needle = array(terms.map(lit): _*)
    val verify = when($"rank".isNotNull,
      graft.functions.TextFunctions.tokenMinSpan(
        graft.functions.TextFunctions.tokens($"content", foldAccents), needle) <= maxSpan)
      .otherwise(lit(false))
    val hits = applyWhere(docs(), where)
      .join(scored, Seq("id"))
      .filter(verify)
      .select($"id", $"content", $"metadata", $"rank")
      .orderBy($"rank".desc, $"id".asc)
    Paginator(hits, limit, offset)
  }

  /** Builds the UNORDERED pre-limit match frame; returns (frame, page
    * order, hasRank). Callers sort it themselves — [[query]] observes its
    * row count below the sort, [[queryFrame]] stays lazy.
    */
  private def plan(query: String, where: Map[String, Any], ob: OrderBy,
                   vectorSearch: Boolean): (DataFrame, Seq[Column], Boolean) = {
    val orderBy = ob.keys
    if (vectorSearch && orderBy.nonEmpty)
      throw new IllegalArgumentException("Cannot use order_by with vector search.")
    if (vectorSearch && embedder.isEmpty)
      throw new IllegalArgumentException("Vector search requires an embedding function.")
    val ast = QueryParser.parse(
      if (foldAccents) graft.functions.StringFold.fold(query) else query)
    if (ast.nonEmpty && !vectorSearch && !useFts)
      throw new IllegalArgumentException("This collection does not support full-text search.")

    val filtered = applyWhere(docs(), where)
    val byRank = Seq($"rank".desc, $"id".asc)
    def byMeta = Sorter.sortColumns($"metadata", orderBy.map(SortKey.parse), Seq($"id".asc))

    if (vectorSearch) {
      val qvec = embedder.get.embed(Seq(query)).head.toSeq
      (VectorSearch.scored(filtered, "embedding", qvec), byRank, true)
    } else ast match {
      case Some(q) =>
        // Flat AND/OR (every parser shape except mixed `x AND y OR z`):
        // ONE postings scan produces (matching id, rank) fused — the same
        // (leaf, doc) aggregate that sums the score counts matched leaves
        // for the AND test. Non-flat falls back to match ids + rank join.
        // No broadcast hint either way: the match set is unbounded (a common
        // term can match most of the corpus); AQE broadcasts when small.
        val ranked = Bm25.scoredIds(postings(), collStats(), q) match {
          case Some(scored) => filtered.join(scored, Seq("id"))
          case None =>
            val ids = FtsEval.matchingIds(postings(), q)
            filtered.join(ids, Seq("id"))
              .join(Bm25.scores(postings(), collStats(), q), Seq("id"), "left")
              .withColumn("rank", coalesce($"rank", lit(0.0)))
        }
        // rank order is deterministic; the reference leaves it storage-ordered (SURVEY §7.4)
        (ranked, if (orderBy.nonEmpty) byMeta else byRank, true)
      case None =>
        // NULLS LAST on the never-null id changes no result, but keeps the
        // key from matching a child's id-ascending output ordering (the
        // sort-merge join that resolves delta segments): TakeOrderedAndProject
        // then cuts each task's input at the page size, and an observed
        // count below it would see only that cut
        (filtered, if (orderBy.nonEmpty) byMeta else Seq($"id".asc_nulls_last), false)
    }
  }

  /** Scan without search (reference `get`, core.py:370-384). */
  def get(limit: Int = 0, offset: Int = 0, where: Map[String, Any] = Map.empty,
          orderBy: OrderBy = OrderBy.none): QueryResult =
    query("", limit, offset, where, orderBy)

  private def applyWhere(df: DataFrame, where: Map[String, Any]): DataFrame = {
    val ops: Seq[(String, WhereOp)] = where.toSeq.flatMap {
      case (k, m: Map[_, _]) =>
        WhereOp.fromMap(m.asInstanceOf[Map[String, Any]]).map(k -> _)
      case (k, v) => Seq(k -> WhereOp.Eq(WhereVal(v)))
    }
    MetaFilter.combined($"metadata", ops).map(df.filter).getOrElse(df)
  }

  /** The (id, content, metadata, rank) hit shape; rank is NULL for scans. */
  private def hitColumns(df: DataFrame, withRank: Boolean): DataFrame =
    df.select($"id", $"content", $"metadata",
      (if (withRank) $"rank" else lit(null).cast("double")).as("rank"))

  private def collectHits(hits: DataFrame): Seq[SearchHit] =
    hits.collect().toSeq.map { r: Row =>
      SearchHit(r.getString(0), r.getString(1),
        Option(r.getMap[String, String](2)).map(_.toMap).orNull,
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
}

object Collection {
  /** Max docs per Embedder.embed call (bounded executor memory). */
  val EmbedBatchSize: Int = 256

  /** How long [[Collection.query]] waits for its observed total after the
    * page is collected before recounting (delivery normally takes ms). */
  private val ObservedTotalWait = scala.concurrent.duration.Duration(30, "s")

  /** (root, name, sidecar+stats fingerprint) -> (cap, watermark, stats);
    * see [[Collection.impactGate]]. Keyed by content fingerprint, so no
    * invalidation hooks — a changed store simply misses.
    */
  private[api] val impactGateCache =
    scala.collection.concurrent.TrieMap[(String, String, Long),
      (Option[Int], Option[(Long, Long)], (Long, Double))]()

  /** (root, name, postings fingerprint, term) -> exact resolved df, for
    * the gone-aware serving regime; see [[Collection!.staleDfFor]]. Keyed
    * by content fingerprint like [[impactGateCache]] — no invalidation
    * hooks, a changed store simply misses.
    */
  private[api] val staleDfCache =
    scala.collection.concurrent.TrieMap[(String, String, Long, String), Long]()

  /** Valid collection names, same charset as the reference (core.py:94-97). */
  private val NamePattern = "[-a-zA-Z0-9_\\+~#=/]+".r

  /** Open (or lazily create) a collection under `root` — the analogue of the
    * `Collection()` factory + `create_tables` (core.py:714-737, 108-115).
    */
  /** `foldAccents` folds diacritics in BOTH the index tokenizer and query
    * terms (fts5 `unicode61 remove_diacritics` parity, reference
    * core.py:461). `useFts`/`foldAccents` are persisted in a per-collection
    * manifest at first ingest and VALIDATED here on every later open — a
    * folded collection opened unfolded would silently stop matching
    * accented queries, and an upsert through it would append unfolded
    * postings into the folded index (pre-manifest stores skip the check).
    * `embedder` remains caller-carried (a function can't be persisted).
    */
  def apply(spark: SparkSession, root: String, name: String,
            embedder: Option[Embedder] = None, useFts: Boolean = true,
            foldAccents: Boolean = false): Collection = {
    require(name != null && NamePattern.matches(name),
      s"Invalid collection name: '$name'. Only letters, numbers, and -_+~#=/ are allowed.")
    Stores.readManifest(spark, root, name).foreach { m =>
      if (m.useFts != useFts || m.foldAccents != foldAccents)
        throw new IllegalArgumentException(
          s"Collection '$name' was created with useFts=${m.useFts}, " +
            s"foldAccents=${m.foldAccents}; this open passed useFts=$useFts, " +
            s"foldAccents=$foldAccents. Pass the original flags (or deleteAll() " +
            "to recreate with new ones).")
    }
    new Collection(spark, root, name, embedder, useFts, foldAccents)
  }

  /** Names of every collection persisted under `root`, sorted — the store
    * catalog (partition-directory listing, no Spark job). */
  def list(spark: SparkSession, root: String): Seq[String] =
    Stores.collections(spark, Stores.docsDir(root)).sorted

  /** Federated search: run one FTS query across EVERY collection of a
    * store root (each opened with its persisted manifest flags;
    * non-FTS collections are skipped) and union the per-collection ranked
    * frames with a `collection` column. Ranks are each collection's OWN
    * BM25 (its df/avg_dl) — comparable within a collection, indicative
    * across; callers needing cross-collection calibration re-rank the
    * union (e.g. [[graft.exec.Hybrid.linearFuse]] per arm).
    *
    * Scale: with `limit == 0` or a `where`, one postings-gated plan per
    * collection, partition-pruned to its own store slice, unioned lazily —
    * collections evaluate in parallel inside one job, nothing collects.
    * A BOUNDED unfiltered query (`limit > 0`, empty `where`) is the
    * federated SERVING shape and scatter-gathers instead: each collection
    * answers through [[Collection.searchTopK]], so members with a valid
    * impact sidecar serve their arm certified from O(cap) rows (collected
    * driver-side — that is the point of a top-k serving call), and
    * members without one contribute the same lazy full plan as before
    * (their gate check is two filesystem listings, no Spark job).
    *
    * EAGERNESS CONTRACT: on the `limit > 0 && where.isEmpty` serving path
    * the certified arms COLLECT at call time (and materialize as local
    * frames), so Spark jobs run — and failures surface — when
    * `searchAll` (or SQL `graft_search_all`) is CALLED, not when the
    * returned frame is executed. That is deliberate: a top-k serving call
    * exists to answer now, and deferring the O(cap) sidecar read would
    * just re-run it per downstream action. The `limit == 0` / filtered
    * shapes stay fully lazy.
    */
  def searchAll(spark: SparkSession, root: String, query: String,
                limit: Int = 0, where: Map[String, Any] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val frames = list(spark, root).flatMap { n =>
      val c = open(spark, root, n)
      if (!c.useFts) None
      // a bounded, unfiltered federated query is exactly searchTopK's
      // shape: any collection carrying a valid impact sidecar serves its
      // arm certified (O(cap) rows), the rest fall back to full scoring —
      // identical results either way (searchTopK's contract)
      else if (limit > 0 && where.isEmpty)
        Some(c.searchTopK(query, limit).withColumn("collection", lit(n)))
      else Some(c.queryFrame(query, limit = limit, where = where)
        .withColumn("collection", lit(n)))
    }
    require(frames.nonEmpty, s"no FTS-capable collections under $root")
    frames.reduce(_ unionByName _)
  }

  /** Federated VECTOR search — the ANN arm of [[searchAll]]: probe every
    * collection of a store root with one query-vector set and union the
    * per-collection (qid, rn, id, sim) top-k frames with a `collection`
    * column. Each collection serves through [[Collection.vectorTopKAuto]]
    * — its persisted index when one exists, the exact cosine top-k
    * otherwise — so mixed fleets (some indexed, some not) federate without
    * caller branching; collections with no embedded docs contribute zero
    * rows. Unlike BM25, cosine sims ARE comparable across collections, so
    * callers can re-rank the union by `sim` directly.
    *
    * Scale: one per-collection probe plan (index-pruned where persisted),
    * unioned lazily — collections evaluate in parallel inside one job,
    * nothing collects.
    */
  def vectorSearchAll(spark: SparkSession, root: String,
                      queries: Seq[(String, Seq[Float])], k: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val frames = list(spark, root).map { n =>
      open(spark, root, n).vectorTopKAuto(queries, k)
        .withColumn("collection", lit(n))
    }
    require(frames.nonEmpty, s"no collections under $root")
    frames.reduce(_ unionByName _)
  }

  /** Federated HYBRID search — per-collection RRF fusion of the BM25
    * full-text arm and the vector arm ([[Collection.hybridTopK]]: both
    * arms depth-truncated before fusion), unioned with a `collection`
    * column. Non-FTS collections are skipped like [[searchAll]]; a
    * collection with no embedded docs fuses to its FTS ranks alone
    * (rn_vec null), and one whose content misses every term fuses to its
    * vector ranks alone (rn_fts null) — the arms degrade independently.
    * Output per collection: (rn, id, rrf, rn_fts, rn_vec, collection),
    * ≤ k rows each.
    */
  def hybridAll(spark: SparkSession, root: String, query: String,
                qvec: Seq[Float], k: Int, depth: Int = 60, rrfK: Int = 60,
                where: Map[String, Any] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val frames = list(spark, root).flatMap { n =>
      val c = open(spark, root, n)
      if (!c.useFts) None
      else Some(c.hybridTopK(query, qvec, k, depth, rrfK, where)
        .withColumn("collection", lit(n)))
    }
    require(frames.nonEmpty, s"no FTS-capable collections under $root")
    frames.reduce(_ unionByName _)
  }

  /** Open an EXISTING store with its persisted flags (manifest; the
    * defaults for a pre-manifest store) — the read-only entry point for
    * callers that have no way to carry flags, e.g. the `graft_docs` /
    * `graft_search` SQL table functions.
    */
  def open(spark: SparkSession, root: String, name: String,
           embedder: Option[Embedder] = None): Collection = {
    val m = Stores.readManifest(spark, root, name)
      .getOrElse(Stores.Manifest(useFts = true, foldAccents = false))
    apply(spark, root, name, embedder, m.useFts, m.foldAccents)
  }
}
