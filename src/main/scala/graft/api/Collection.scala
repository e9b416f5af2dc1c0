package graft.api

import graft.exec._
import graft.ext.{Ann, LshIndex}
import graft.index.{PostingsIndex, Stores}
import graft.model._
import graft.parse.QueryParser
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  *
  * Every id-keyed store — docs, postings, doclen and the five secondary
  * indexes (LSH, IVF, PQ, IVF-PQ and the MinHash dedup index) — is
  * described once as a `StoreKind`: its dirs, schema, key and row
  * derivation from a mutation's [[Batch]]. A mutation picks its shape once
  * (full write, merge rewrite or delta append) and one loop writes every
  * live kind, docs first, like the reference's delete-stale-then-insert
  * inside one write (core.py:505-514); the collstats row and the impact
  * meta follow the loop. A store that exists but has no readable
  * parameters (emptied of rows, or a crash residue) is dropped by the
  * next write.
  */
final class Collection private (
    val spark: SparkSession,
    val root: String,
    val name: String,
    val embedder: Option[Embedder],
    val useFts: Boolean,
    val foldAccents: Boolean,
    sliceMaxRows: Int = Collection.SliceMaxRows) {

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
  private val impactMetaDir = Stores.impactMetaDir(root)

  /** One id-keyed store, described once for every write path. `dirs` is
    * the rows store followed by the parameter tables the kind owns; `key`
    * is the rows' file layout — each file holds a disjoint key range,
    * sorted by `order` (default: the key); `dense` = the kind's rows cover
    * every id of a batch's frame, so an upsert delta needs no gone
    * sidecar. `live` returns the kind's row derivation from a [[Batch]]
    * under its STORED parameters, None while the kind is absent (an index
    * never built, postings without FTS) or its store holds no readable
    * parameters. The index accessors and [[hasPersistedVectorIndex]] use
    * the same test. `stored` reads the current rows.
    */
  private class StoreKind(val dirs: Seq[String], val schema: StructType,
                          val key: Seq[String], val live: () => Option[Batch => DataFrame],
                          order: Seq[String] = Nil, val dense: Boolean = false) {
    def dir: String = dirs.head
    def sortBy: Seq[String] = if (order.isEmpty) key else order
    def stored(): DataFrame = Stores.readPartition(spark, dir, name, schema)
  }

  private val docsKind = new StoreKind(Seq(docsDir), Stores.docsSchema,
    key = Seq("id"), live = () => Some(_.frame), dense = true)
  // sorted by term, then tf, so a certified top-k's `term = t AND tf >
  // bound` read skips the hot term's low-tf row groups
  private val postingsKind = new StoreKind(Seq(postingsDir), Stores.postingsSchema,
    key = Seq("term"), live = () => if (useFts) Some(_.postings) else None,
    order = Seq("term", "tf"))
  private val doclenKind = new StoreKind(Seq(doclenDir), Stores.doclenSchema,
    key = Seq("id"), dense = true, live = () => Some(b =>
      if (useFts) doclenOfPostings(b.frame, b.postings, hintAgg = b.smallIds)
      else doclenOfBatch(b.frame))) {
    override def stored(): DataFrame = doclen()
  }
  private val lshKind = new StoreKind(Seq(annDir), Stores.annSchema,
    key = Seq("table", "bucket"),
    live = () => lshParams().map { case (t, p, d, s) => b => lshRows(t, p, d, s)(b.frame) })
  // IVF re-assigns and PQ re-encodes against the STORED centroids/codebooks
  // (zero-shuffle scans); retraining is compact()'s staleness policy
  private val ivfKind = new StoreKind(Seq(ivfDir, ivfCentDir), Stores.ivfSchema,
    key = Seq("cluster"),
    live = () =>
      if (!Stores.partitionExists(spark, ivfDir, name)) None
      else ivfCentroidsRaw().map(cents => b => graft.ext.Ivf.assign(b.frame, cents)))
  private val pqKind = new StoreKind(Seq(pqDir, pqBookDir), Stores.pqSchema,
    key = Seq("id"),
    live = () => pqCodebook().map(cb => b => graft.ext.Pq.encode(b.frame, cb)))
  private val ivfPqKind = new StoreKind(Seq(ivfPqDir, ivfCentDir, pqBookDir),
    Stores.ivfPqSchema, key = Seq("cluster"),
    live = () => ivfPqParts().map { case (cents, cb) =>
      b => ivfPqRows(b.frame, cents, cb, ivfPqResidual()) })
  private val minhashKind = new StoreKind(Seq(minhashDir), Stores.minhashSchema,
    key = Seq("band", "bh"),
    live = () => dedupParams().map { case (n, bands, rpb) =>
      b => dedupIndexRows(b.frame, n, bands, rpb) })

  /** The mutually exclusive vector-index kinds ([[createVectorIndex]]). */
  private val vectorKinds = Seq(lshKind, ivfKind, pqKind, ivfPqKind)
  /** Every kind, in write order: docs first, then what derives from it. */
  private val kinds = Seq(docsKind, postingsKind, doclenKind) ++ vectorKinds :+ minhashKind

  /** Every store this collection keeps a partition in — what
    * [[compact]]/[[maintain]] sweep and [[deleteAll]] drops. */
  private val storeDirs = (kinds.flatMap(_.dirs) ++ Seq(statsDir, impactMetaDir)).distinct

  /** One mutation's input, shared by every kind's derivation: `frame` holds
    * the new docs (none for a delete), `ids` every id the mutation claims
    * — broadcast-hinted in `antiIds` for the merge anti-joins when
    * `smallIds` — and `bare` says the batch only removes its ids (a
    * delete: `frame` is empty).
    * `est` is the frame's size estimate, None when no size hints apply.
    * The frame is tokenized once, on first use, for postings and doclen
    * alike; [[writeKinds]] unpersists it.
    */
  private final class Batch(val frame: DataFrame, val ids: DataFrame,
                            val smallIds: Boolean, val est: Option[BigInt],
                            val bare: Boolean) {
    def antiIds: DataFrame = if (smallIds) broadcast(ids) else ids
    private var tokenized = false
    lazy val postings: DataFrame = {
      val p = PostingsIndex.build(frame, foldAccents)
      // a delete's frame holds no rows: nothing to cache
      if (bare) p else { tokenized = true; p.persist() }
    }
    def release(): Unit = if (tokenized) postings.unpersist()
  }

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

  /** The stats row's (n_docs, avg_dl) as a driver value, memoized under
    * the stats partition's fingerprint (so any stats write, including
    * [[collStats]]'s self-heal, is seen by the next call). */
  private def collStatsValue(): (Long, Double) =
    Stores.memoizedMeta(spark, statsDir, name, "collStats") {
      val r = collStats().head()
      (r.getLong(0), r.getDouble(1))
    }

  /** This handle with the ranked read's driver bound set to `rows` postings
    * rows ([[Collection.SliceMaxRows]] by default); a negative bound forces
    * the distributed arm. */
  private[graft] def withSliceMaxRows(rows: Int): Collection =
    new Collection(spark, root, name, embedder, useFts, foldAccents, rows)

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

  /** Shared upsert core: lands an already last-wins-deduped batch in every
    * store through [[writeKinds]]; only the batch derives rows. Three write
    * shapes, picked by the docs partition's size (a filesystem stat, no
    * job):
    *
    *   - new collection → full base write;
    *   - partition ≤ [[directUpsertMaxBytes]] → DIRECT MERGE rewrite (one
    *     job per store rewrites the small partition; every read stays
    *     resolution-free) — rewriting a small store is cheaper than making
    *     all subsequent reads resolve deltas;
    *   - otherwise → O(batch) DELTA APPEND (the base is never rewritten;
    *     see [[graft.index.Stores]]' segment layout), with the size-ratio /
    *     count compaction policy behind it.
    *
    * The persist materializes the batch (embedding included) once for its
    * several consumers.
    */
  private def upsert(batch0: DataFrame, idsHint: Option[DataFrame] = None,
                     batchHints: Boolean = true): Unit = {
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
    val spread =
      if (est < BigInt(par.toLong * (4L << 20))) batch0.repartition(par)
      else batch0
    // est (already computed for the respread decision) rides along as the
    // write-size hint: each rangeBy write otherwise pays a fresh
    // analyze+optimize pass just to re-derive the same estimate. Not for
    // streamIngest micro-batches (measured, x140 at sf0.1): a stream
    // batch's estimate is far above its real size, so the hint landed the
    // postings rewrite at the shuffle-partition ceiling (4 files vs 1 on a
    // 4-core session, ~6% slower end to end) where the per-write probe of
    // the tokenized frame sees the real size.
    val batchEst = if (batchHints) Some(est) else None
    val shape = writeShape()
    val batch = spread.persist()
    // callers with a known-small (driver-side) id set mark it via idsHint;
    // the hint is applied per join, only where the ids are the build side
    // (a left_anti's right). Otherwise the unhinted frame lets AQE pick the
    // join strategy.
    try writeKinds(shape, new Batch(batch, idsHint.getOrElse(batch.select("id")),
      smallIds = idsHint.isDefined, est = batchEst, bare = false))
    finally batch.unpersist()
    // first ingest creates the collection: persist the open-time flags that
    // change what the stored bytes mean, so mismatched re-opens throw at
    // Collection() instead of silently mis-querying. Written LAST — a failed
    // first ingest must not leave a manifest pinning flags for a collection
    // that holds no data (a crash before this line degrades to a
    // pre-manifest store: validation skipped)
    if (shape == Collection.FullWrite)
      Stores.writeManifest(spark, root, name, Stores.Manifest(useFts, foldAccents))
  }

  /** How the next mutation lands, from the docs partition's size (a
    * filesystem stat, no job): see [[upsert]]. */
  private def writeShape(): Collection.Shape = {
    val (base, deltas) = Stores.segmentBytes(spark, docsKind.dir, name)
    if (!Stores.partitionExists(spark, docsKind.dir, name)) Collection.FullWrite
    else if (base + deltas <= directUpsertMaxBytes) Collection.MergeWrite
    else Collection.DeltaWrite
  }

  /** Partitions at or below this size take the direct merge-rewrite path;
    * larger ones get O(batch) delta appends. A "small table" by Spark
    * standards — one task rewrites it faster than reads can amortize delta
    * resolution.
    */
  private def directUpsertMaxBytes: Long = graft.GraftConf.directUpsertMaxBytes(spark)

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
  def addDf(df: DataFrame, posCol: Option[String] = None): Unit =
    ingestFrame(df, posCol, batchHints = true)

  private def ingestFrame(df: DataFrame, posCol: Option[String],
                          batchHints: Boolean): Unit = {
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
    upsert(d, batchHints = batchHints)
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
        if (!batch.isEmpty) ingestFrame(batch, None, batchHints = false)
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
      .map(n => n -> Stores.deltaDataFiles(spark, docsDir, n))
      .filter(_._2.nonEmpty)
      .map { case (n, files) =>
        spark.read.schema(Stores.docsSchema).parquet(files: _*)
          .select(lit(n).as("collection"), col("id"))
      }
    val touchedColls = deltaScans.foldLeft(baseScan)(_ unionByName _)
      .join(broadcast(idsDf), Seq("id"), "left_semi")
      .select("collection").distinct().collect().map(_.getString(0)).toSet
    collNames.filter(touchedColls).foreach(removeFrom(_, idsDf))
  }

  /** Removes `idsDf`'s ids from collection `coll` of this root: its docs
    * and every index. The per-collection body of [[delete]], shared with
    * [[dedup]], which removes from its own collection only. A small
    * partition takes an anti-join rewrite (reads stay flat), a large one
    * gone-only deltas (O(ids) bytes, the base is never rewritten).
    */
  private def removeFrom(coll: String, idsDf: DataFrame): Unit = {
    // useFts is decided PER TARGET collection (postings partition exists),
    // not inherited from the caller — a useFts=false caller must not
    // leave sibling collections' postings stale.
    val targetFts = Stores.partitionExists(spark, postingsKind.dir, coll)
    // foldAccents=false: a delete tokenizes nothing (its batch has no new
    // docs), and for non-FTS targets avg_dl is informational only
    val self = new Collection(spark, root, coll, None, targetFts, foldAccents = false)
    val noDocs = spark.createDataFrame(java.util.List.of[Row](), Stores.docsSchema)
    // est 0: a pure anti-join can only shrink each store, so its segment
    // bytes bound the rewrite — no per-write optimizer stats probe. The
    // collection holds docs (delete and dedup only remove from those), so
    // the shape is a merge or a delta.
    self.writeKinds(self.writeShape(), new self.Batch(noDocs, idsDf, smallIds = true,
      est = Some(BigInt(0)), bare = true))
  }

  /** Fold any accumulated delta segments of this collection's stores back
    * into flat bases — O(collection), run off the ingest path (or let the
    * [[Stores.MaxDeltas]] policy trigger it).
    */
  def compact(): Unit = {
    def outgrown(k: StoreKind) = {
      val (b, d) = Stores.segmentBytes(spark, k.dir, name)
      b > 0 && d * 2 > b
    }
    // IVF staleness check BEFORE the fold (deltas are the staleness signal):
    // when the delta-assigned mass rivals the base, the stored centroids were
    // trained on a minority of the current data — retrain from docs() with
    // the stored params; otherwise just fold the assignment deltas flat.
    val ivfStale = Stores.partitionExists(spark, ivfCentDir, name) && outgrown(ivfKind)
    // PQ shares the policy: delta-encoded mass rivaling the base means the
    // codebooks were trained on a minority of the current data
    val pqStale = Stores.partitionExists(spark, pqBookDir, name) && outgrown(pqKind)
    // crash-residue guard BEFORE the staleness math: an ivfpq codes
    // partition whose parameter tables are incomplete (a crash inside
    // writeIvfPq's codes→books→centroids window) can never serve or
    // retrain (ivfParams()/ivfPqParts() read None) — drop all three pieces
    // so the store returns cleanly to "no index" instead of carrying dead
    // residue forever. A healthy flat-pq (books, no ivfPqDir) or ivf
    // (centroids, no ivfPqDir) never matches: the guard keys on ivfPqDir.
    if (Stores.partitionExists(spark, ivfPqDir, name) &&
        (!Stores.partitionExists(spark, ivfCentDir, name) ||
         !Stores.partitionExists(spark, pqBookDir, name)))
      dropKind(ivfPqKind)
    val ivfPqStale = outgrown(ivfPqKind)
    // fold every store except the stale indexes retrained below
    val retrained = Seq(ivfKind -> ivfStale, pqKind -> pqStale, ivfPqKind -> ivfPqStale)
      .collect { case (k, true) => k }
    kinds.filterNot(retrained.contains).foreach(k =>
      Stores.compactPartition(spark, k.dir, name, k.schema, k.sortBy, k.key))
    if (ivfStale) ivfParams().foreach { case (nprobe, iters, maxSample, seed) =>
      val k = ivfCentroidsRaw().map(_.size).getOrElse(256)
      // a collection emptied of embedded docs can't retrain (k-means has no
      // sample) — drop the index like the LSH path does, instead of letting
      // Ivf.build throw from inside an auto-triggered compaction and wedge
      // every subsequent write
      if (docs().filter($"embedding".isNotNull).limit(1).isEmpty) dropKind(ivfKind)
      else
        writeIvf(graft.ext.Ivf.build(docs(), "id", "embedding",
          k, iters, 1.0, maxSample, seed), nprobe, iters, maxSample, seed)
    }
    if (pqStale) pqParams().foreach { case (candK, iters, maxSample, seed) =>
      pqCodebook() match {
        case Some(old) if !docs().filter($"embedding".isNotNull).limit(1).isEmpty =>
          writePq(graft.ext.Pq.train(docs(), "embedding",
            old.m, old.books.head.size, iters, maxSample, seed),
            candK, iters, maxSample, seed)
        case _ => dropKind(pqKind) // emptied of embedded docs, like the IVF branch
      }
    }
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
        case _ => dropKind(ivfPqKind) // emptied of embedded docs, like the other kinds
      }
    }
    // impact meta: re-derive exact df, bounds and watermark from the
    // just-folded postings — heals a stale-df or behind-watermark meta. A
    // collection emptied of postings drops the index, like the IVF branch.
    impactParams().foreach(rebuildImpact(_, empty = postings().limit(1).isEmpty))
    // sweep crash residue while we're off the ingest path anyway: orphaned
    // .tmp-* always, .old-* (crash-recovery copies) past their grace window
    storeDirs.foreach(Stores.sweep(spark, _))
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
    val swept = storeDirs
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
    if (!graft.GraftConf.compactAuto(spark)) return
    val (baseBytes, deltaBytes) = Stores.segmentBytes(spark, docsDir, name)
    if (deltaBytes * 2 > baseBytes ||
      Stores.deltaCount(spark, docsDir, name) > Stores.MaxDeltas) compact()
  }

  /** Drop every doc of THIS collection (reference core.py:386-400) — a
    * partition drop, no data rewrite.
    */
  def deleteAll(): Unit = {
    storeDirs.foreach(Stores.dropPartition(spark, _, name))
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
  // first-class partition of the store, built once, then kept current by the
  // write loop (writeKinds) on every write path, like the dedup index;
  // building, training and retraining stay per kind)
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
    * are mutually exclusive — building one first drops every vector store
    * the target kind does not own. Subsequent `add`/`update`/`delete`
    * maintain the built index incrementally (LSH batches re-bucket, IVF
    * batches re-assign and PQ batches re-encode against the STORED
    * planes/centroids/codebooks — zero-shuffle scans; `compact()` retrains
    * IVF/PQ when the delta mass rivals the base); `vectorTopK` probes it
    * without touching the corpus scan. An LSH index emptied of embedded
    * docs serves nothing (the auto paths take the exact fallback) and is
    * dropped by the next write.
    */
  def createVectorIndex(numTables: Int = 16, numPlanes: Int = 4,
                        dim: Int = 64, seed: Long = 42L,
                        kind: String = "lsh", numCentroids: Int = 256,
                        iters: Int = 10, maxSample: Int = 100000,
                        nprobe: Int = 8, m: Int = 8, candK: Int = 50): Unit = {
    import graft.plans.AnnCatalog
    val target = kind match {
      case "lsh" => lshKind
      case "ivf" =>
        require(nprobe >= 1 && nprobe <= numCentroids, "1 <= nprobe <= numCentroids")
        ivfKind
      case "pq" =>
        require(candK >= 1, "candK >= 1")
        pqKind
      case "ivfpq" =>
        require(nprobe >= 1 && nprobe <= numCentroids, "1 <= nprobe <= numCentroids")
        require(candK >= 1, "candK >= 1")
        ivfPqKind
      case other =>
        throw new IllegalArgumentException(
          s"Unknown vector index kind '$other' (expected \"lsh\", \"ivf\", \"pq\" or \"ivfpq\").")
    }
    // drop every vector dir the target kind does not own FIRST: a crash
    // mid-build then leaves no index (vectorTopK throws loudly) instead of
    // the stale other-kind index silently shadowing the one asked for
    vectorKinds.flatMap(_.dirs).distinct.filterNot(target.dirs.contains)
      .foreach(Stores.dropPartition(spark, _, name))
    val served: () => Option[AnnCatalog.Registered] = kind match {
      case "lsh" =>
        buildKind(lshKind, lshRows(numTables, numPlanes, dim, seed)(docs()))
        () => vectorIndex().map(AnnCatalog.LshRegistered(_))
      case "ivf" =>
        writeIvf(graft.ext.Ivf.build(docs(), "id", "embedding",
          numCentroids, iters, 1.0, maxSample, seed), nprobe, iters, maxSample, seed)
        () => ivfIndex().map(ix =>
          AnnCatalog.IvfRegistered(ix, ivfParams().map(_._1).getOrElse(8)))
      case "pq" =>
        writePq(graft.ext.Pq.train(docs(), "embedding",
          m, numCentroids, iters, maxSample, seed), candK, iters, maxSample, seed)
        () => pqIndex().map { case (cb, codes, candK) =>
          AnnCatalog.PqRegistered(codes, cb, candK) }
      case _ => // "ivfpq"
        // The FAISS IVFPQ composite: coarse IVF lists partition the corpus,
        // PQ codes compress it — a probe ADC-scans ~nprobe/numCentroids of
        // the codes instead of all of them (the flat "pq" kind's cost) and
        // reranks candK floats. The encoding — residual
        // (normalize(v) − centroid[cluster], the FAISS recipe) vs raw — is
        // CHOSEN BY MEASUREMENT on the training sample (chooseIvfPqCodebook);
        // residual serving restores the q·centroid[cluster] term per row
        // (Pq.adcTopKResidual), and the choice persists with the books.
        val (cents, cb, residual) = trainIvfPqTables(numCentroids, m, iters,
          maxSample, seed)
        writeIvfPq(cents, cb, nprobe, candK, iters, maxSample, seed, residual)
        () => ivfPqIndex().map { case (cents, cb, rows, nprobe, candK) =>
          AnnCatalog.IvfPqRegistered(rows, cents, cb, nprobe, candK, ivfPqResidual()) }
    }
    // Arm the cosine-top-k → ANN rewrite for direct scans of this
    // collection's docs store (the pgvector planner analogue,
    // core.py:319-321). Two-layer opt-in: this registration is INERT
    // unless the session also installed the rule (GraftExtensions or
    // AnnCatalog.install) — exact queries stay exact everywhere else.
    // Deferred: every rewrite re-reads the CURRENT persisted index
    // (maintained by add/update/delete), and a dropped index declines
    // instead of serving stale buckets.
    AnnCatalog.register(spark, Stores.partitionPath(docsDir, name),
      AnnCatalog.Entry("id", "embedding", AnnCatalog.Deferred(served)))
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
    buildKind(ivfKind, ix.assignments.select($"id", $"cluster"))
    overwriteParams(ivfCentDir, ix.centroidsFrame
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
    * raw-vs-residual codebook. When the sample fits the driver-train arm
    * ([[graft.ext.Ivf.driverTrainOk]], the [[graft.ext.Ivf.trainCentroids]]
    * policy), ONE boundedSample selection (a count + survivor-count +
    * bounded-sort collect over the docs scan) feeds both the coarse k-means
    * and the codebook choice. Results are bit-identical to running
    * Ivf.build and [[chooseIvfPqCodebook]] separately: the sample is
    * deterministic and both consumers see the same hash-ordered rows.
    * Above the driver bound the distributed trainer keeps its own sample
    * handling.
    */
  private def trainIvfPqTables(numCentroids: Int, m: Int, iters: Int,
                               maxSample: Int, seed: Long)
      : (Seq[Seq[Float]], graft.ext.PqCodebook, Boolean) = {
    import graft.ext.Ivf
    // shared dim-aware gate (vec-count AND byte bound) — keeps this arm
    // decision identical to trainCentroids' own
    if (Ivf.driverTrainOk(docs(), "embedding", maxSample)) {
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
    buildKind(ivfPqKind, ivfPqRows(docs(), cents, cb, residual))
    overwriteParams(pqBookDir, cb.toStoreFrame(spark)
      .withColumn("cand_k", lit(candK)).withColumn("iters", lit(iters))
      .withColumn("max_sample", lit(maxSample)).withColumn("seed", lit(seed))
      .withColumn("residual", lit(residual)))
    overwriteParams(ivfCentDir, cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cluster", "centroid")
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
    buildKind(pqKind, graft.ext.Pq.encode(docs(), cb))
    overwriteParams(pqBookDir, cb.toStoreFrame(spark)
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
    pqCodebook().map(cb => (cb, Stores.readPartition(spark, pqDir, name, Stores.pqSchema),
      pqParams().map(_._1).getOrElse(50)))

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
    * reads its books through [[ivfPqParts]]). BOTH stores: the codebook
    * table alone is shared with the IVF-PQ kind (whose codes live in
    * annivfpq, not annpq). */
  private def pqCodebook(): Option[graft.ext.PqCodebook] =
    if (!Stores.partitionExists(spark, pqDir, name)) None
    else pqCodebookRaw()

  /** (centroids, codebooks) of the stored IVF-PQ index, or None — the
    * maintenance-path accessor (both tables are driver-side bounded:
    * k×dim centroids, m×256×dsub codewords). */
  private def ivfPqParts(): Option[(Seq[Seq[Float]], graft.ext.PqCodebook)] =
    if (!Stores.partitionExists(spark, ivfPqDir, name)) None
    else for (cents <- ivfCentroidsRaw(); cb <- pqCodebookRaw()) yield (cents, cb)

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

  /** LSH store rows of `source`'s embedded docs under the given plane
    * parameters, which every row repeats as constant columns. */
  private def lshRows(numTables: Int, numPlanes: Int, dim: Int, seed: Long)(
      source: DataFrame): DataFrame =
    Ann.lshTables(source.filter($"embedding".isNotNull), "id", "embedding",
        numTables, numPlanes, dim, seed)
      .withColumn("num_tables", lit(numTables)).withColumn("num_planes", lit(numPlanes))
      .withColumn("dim", lit(dim)).withColumn("seed", lit(seed))

  // -------------------------------------------------------------------------
  // Persisted dedup-screening index: banded MinHash signatures, stored and
  // maintained by the same loop as the vector indexes (an emptied
  // store is dropped by the next write). The serving story —
  // "is this batch of texts a near-duplicate of anything in the corpus?" —
  // is the recrawl/contamination screen: WITHOUT the index each screen
  // re-shingles and re-bands the WHOLE corpus (graft.ext.Dedup.dedupAgainst
  // recomputes reference signatures per call); with it, a probe computes
  // signatures for the probe texts only and joins ~bands skinny rows/doc.
  // [[dedup]] reads its candidate buckets from the same rows.
  // -------------------------------------------------------------------------

  /** Build (or rebuild) the persisted MinHash dedup index over the current
    * corpus. Shape parameters are stored with the rows — probes and
    * maintenance re-read them, so callers never re-supply (a mismatched
    * shape would hash to disjoint buckets and silently match nothing).
    */
  def createDedupIndex(n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4): Unit = {
    require(n >= 1 && bands >= 1 && rowsPerBand >= 1,
      "n, bands, rowsPerBand must all be >= 1")
    buildKind(minhashKind, dedupIndexRows(docs(), n, bands, rpb = rowsPerBand))
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
  // Certified impact top-k over the postings store: per term, the EXACT df
  // plus a tf bound (the tf at rank `cap`, 0 when the term has at most
  // `cap` postings) — the ranked-FTS early-termination index (FTS5 gets
  // this pruning from its own internals, core.py:408-414; the full Bm25
  // path scores every posting of every query leaf). Serving reads only the
  // postings with tf above their term's bound and is CERTIFIED-exact: the
  // candidate top-k is returned only when its k-th score provably beats
  // every non-candidate (see graft.exec.ImpactTopK); anything unprovable
  // falls back to full scoring. The bound holds for every postings state
  // by construction, so only the df half is maintained: pure-insert
  // batches add per-term df increments in O(batch); updates/deletes flag
  // the meta's df stale and serving recounts df for just its query terms,
  // until compact()/maintain() re-derives the exact meta. A watermark
  // (the postings fingerprint the meta reflects) turns every crash window
  // into a fallback, never a wrong serve.
  // -------------------------------------------------------------------------

  /** Build (or rebuild) the impact meta: per term, exact df and the tf
    * bound at rank `cap`. Requires FTS and a non-empty index (an empty
    * collection has nothing to rank; call after ingest). `cap` trades
    * candidate-read size for certificate strength — it must comfortably
    * exceed the k you serve (top-10 serving with cap 128 certifies unless
    * the corpus is pathologically tf-flat).
    */
  def createImpactIndex(cap: Int = 128): Unit = {
    require(useFts, s"Collection '$name' does not support full-text search.")
    require(cap >= 1, "cap >= 1")
    require(!postings().limit(1).isEmpty,
      s"Collection '$name' has no postings to index; ingest before createImpactIndex().")
    rebuildImpact(cap, empty = false)
  }

  /** The stored cap of the impact index, if one was built. */
  def impactIndex(): Option[Int] = impactParams()

  /** Certified-exact ranked top-k search — the serving-path API: documents
    * matching `query` (reference grammar, exact terms only for the fast
    * path), ordered rank DESC / id ASC, rows `offset+1 … offset+k`, shaped
    * (id, content, metadata, rank) like [[queryFrame]]. With a current
    * impact meta and a provable certificate the answer reads only the
    * query terms' postings above their tf bounds (about `cap` rows per
    * term) plus a k-row docs join; every other case — prefix/wildcard or
    * mixed-boolean queries, a meta behind the postings, failed
    * certificate — is the byte-identical full path
    * [[queryFrame]](query, k, offset). Results are ALWAYS exact; the index
    * only changes the cost.
    */
  def searchTopK(query: String, k: Int, offset: Int = 0): DataFrame = {
    require(k >= 1, "k >= 1")
    require(offset >= 0, "offset >= 0")
    impactCertifiedTopK(query, k, offset).getOrElse(
      queryFrame(query, limit = k, offset = offset))
  }

  /** The certified arm of [[searchTopK]]: Some(frame) only when the impact
    * index served (and certified) the answer — exposed for tests and
    * probes that pin WHICH path ran; callers use [[searchTopK]].
    */
  private[graft] def impactCertifiedTopK(query: String, k: Int,
                                         offset: Int): Option[DataFrame] = {
    if (!useFts) return None
    val (cap, wm, (nDocs, avgDl)) = impactGate()
    if (cap.isEmpty) return None
    val postingsFp = Stores.partitionFingerprint(spark, postingsDir, name)
    if (!wm.exists(_._1 == postingsFp)) return None
    // a stale-df watermark means updates/deletes landed since the meta was
    // derived — still certified-exact, with df re-counted per query term
    // from the resolved postings (cached under the postings fingerprint,
    // so hot terms pay the recount once per store state)
    val dfStale = wm.exists(_._2 != 0L)
    val folded = if (foldAccents) graft.functions.StringFold.fold(query) else query
    // k + offset in Int can wrap negative (k = Int.MaxValue, offset > 0) —
    // that page depth is full-path territory, not a crash
    if (k.toLong + offset.toLong > Int.MaxValue) return None
    for {
      ast <- QueryParser.parse(folded)
      (isAnd, terms) <- Bm25.flatExactTerms(ast)
      dfOverride = if (dfStale) Some(staleDfFor(terms, postingsFp)) else None
      top <- graft.exec.ImpactTopK.certifiedTopK(impactMetaRows(), postings(),
        nDocs, avgDl, terms, isAnd, k + offset, dfOverride = dfOverride)
    } yield docsOf(top.drop(offset), Map.empty)
      .select($"id", $"content", $"metadata", $"rank")
      .orderBy($"rank".desc, $"id".asc)
  }

  /** The docs rows of the driver-side `hits` (id, rank) that pass
    * `where`, rank attached: a broadcast join of the hits to the docs
    * store. Up to [[Collection.InFetchMaxIds]] hits, the docs read also
    * carries a PUSHED `id IN (…)` predicate: with the id-range-clustered
    * docs layout the parquet footer skips every file outside the ids'
    * ranges, so a page never joins the whole store. More hits keep the
    * plain broadcast join (a thousands-wide In bloats codegen and degrades
    * to a min/max range in the reader anyway). Hits without a docs row
    * (crash residue in postings) drop out.
    */
  private def docsOf(hits: Seq[(String, Double)], where: Map[String, Any]): DataFrame = {
    val fetched =
      if (hits.size <= Collection.InFetchMaxIds) docs().filter($"id".isin(hits.map(_._1): _*))
      else docs()
    applyWhere(fetched, where).join(broadcast(hits.toDF("id", "rank")), Seq("id"))
  }

  /** Re-derive the meta from the current postings (already written):
    * exact df and bounds plus the cap and watermark rows, in one partition
    * swap. `empty` = the postings hold no rows (e.g. a merge-path delete of
    * every doc): the meta is dropped instead, mirroring the IVF branch of
    * compact().
    */
  private def rebuildImpact(cap: Int, empty: Boolean): Unit = {
    if (empty) {
      Stores.dropPartition(spark, impactMetaDir, name)
      return
    }
    val from = postings()
    // one meta row per term, and every term has a posting: the postings'
    // segment bytes bound the meta — no optimizer stats probe
    val (pb, pd) = Stores.segmentBytes(spark, postingsDir, name)
    Stores.overwritePartition(spark, impactMetaDir, name,
      graft.exec.ImpactTopK.metaFromRanked(from,
          graft.exec.ImpactTopK.ranked(from, cap), cap)
        .unionByName(impactWatermarkRow())
        .unionByName(Seq((graft.exec.ImpactTopK.CapKey, cap.toLong, 0L))
          .toDF("id", "df", "bound_tf")),
      sortBy = Seq("id"), rangeBy = Seq("id"), sizeHintBytes = Some(BigInt(pb) + pd))
  }

  /** The serving gate's (cap, watermark, (n_docs, avg_dl)): the meta's
    * sentinel rows and the stats row, each memoized under its partition's
    * fingerprint — a warm [[searchTopK]] pays filesystem listings, zero
    * Spark jobs, before the real query. No index (the common case for
    * collections that never built one): no stats read at all.
    */
  private def impactGate(): (Option[Int], Option[(Long, Long)], (Long, Double)) = {
    val (cap, wm) = impactSentinels()
    if (cap.isEmpty) (None, None, (0L, 0.0)) else (cap, wm, collStatsValue())
  }

  /** Stored cap, None without an impact index (or with a meta written
    * before the cap moved into it, which serves nothing until
    * [[createImpactIndex]] runs again). */
  private def impactParams(): Option[Int] = impactSentinels()._1

  /** (postings fingerprint the meta claims to reflect, df-staleness flag)
    * — the flag rides the watermark row's otherwise-unused bound_tf slot:
    * 0 = the meta's df column is exact (serve straight from it), 1 = some
    * update/delete landed since the last build/compact, so serving must
    * recount df for its query terms (see
    * [[graft.exec.ImpactTopK.certifiedTopK]]'s `dfOverride`).
    */
  private def impactWatermark(): Option[(Long, Long)] = impactSentinels()._2

  /** The meta's (cap, watermark) sentinel rows, fingerprint-memoized like
    * [[ivfParams]]. */
  private def impactSentinels(): (Option[Int], Option[(Long, Long)]) =
    Stores.memoizedMeta(spark, impactMetaDir, name, "impactSentinels") {
      if (!Stores.partitionExists(spark, impactMetaDir, name)) (None, None)
      else {
        val rows = impactMetaRows()
          .filter($"id".isin(graft.exec.ImpactTopK.CapKey,
            graft.exec.ImpactTopK.WatermarkKey))
          .select($"id", $"df", $"bound_tf").collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        (rows.get(graft.exec.ImpactTopK.CapKey).map(_._1.toInt),
          rows.get(graft.exec.ImpactTopK.WatermarkKey))
      }
    }

  private def impactMetaRows(): DataFrame =
    Stores.readPartition(spark, impactMetaDir, name, Stores.impactMetaSchema)

  /** Exact per-term df in the stale-df serving regime: terms missing from
    * the cache pay ONE term-pruned count over the resolved postings; every
    * hit is free until the next write changes `postingsFp`, the postings
    * fingerprint (recursive listing — delta and gone files included, so
    * staleness is impossible, like [[Stores.memoizedMeta]]). Dead terms
    * cache as 0 — they stay dead until the store changes.
    */
  private def staleDfFor(terms: Seq[String], postingsFp: Long): Map[String, Long] = {
    val cached = terms.flatMap(t =>
      Collection.staleDfCache.get((root, name, postingsFp, t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val counted = postings().filter($"term".isin(missing: _*))
      .groupBy($"term")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    missing.foreach { t =>
      // bounded without wholesale wipes: dropping ONE arbitrary entry keeps
      // every other collection's hot terms cached
      if (Collection.staleDfCache.size > 4096)
        Collection.staleDfCache.headOption.foreach(kv =>
          Collection.staleDfCache.remove(kv._1))
      Collection.staleDfCache.put((root, name, postingsFp, t),
        counted.getOrElse(t, 0L))
    }
    cached ++ missing.map(t => t -> counted.getOrElse(t, 0L))
  }

  /** The watermark row for the postings as they are NOW — written after
    * the postings write it reflects, so a crash between the two leaves
    * the meta behind (fallback), never ahead. */
  private def impactWatermarkRow(staleDf: Boolean = false): DataFrame =
    Seq((graft.exec.ImpactTopK.WatermarkKey,
        Stores.partitionFingerprint(spark, postingsDir, name),
        if (staleDf) 1L else 0L))
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

  /** True iff some persisted vector index can actually SERVE: a kind is
    * live ([[StoreKind]]), the test its accessor and every write path use.
    * A store that exists without readable parameters — an LSH store
    * emptied of embedded docs, or writeIvfPq's crash window (codes+books
    * present, centroids not yet written) — reads None in the accessors, so
    * routing it to vectorTopK would throw instead of taking the documented
    * exact fallback.
    */
  private def hasPersistedVectorIndex: Boolean = vectorKinds.exists(_.live().isDefined)

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

  /** The hybrid FTS arm: a certified impact serve of the top-`depth`
    * when provable (`where` must be empty — the index cannot pre-filter),
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

  /** The one write path of [[upsert]] and [[removeFrom]]: lands batch `b`
    * in every kind in one loop, docs first, then writes the collstats row
    * from the resolved doclen store and brings the impact meta along. Per
    * live kind, by `shape`:
    *
    *   - full: overwrite with the batch's rows;
    *   - merge: the stored rows anti-joined on the batch ids ∪ the batch's
    *     rows (which also folds any accumulated deltas back flat);
    *   - delta: an O(batch) segment of the batch's rows whose gone sidecar
    *     claims every batch id, so replaced, deleted or row-less docs leave
    *     — the Spark analogue of the reference's delete-stale-then-insert
    *     (core.py:505-514). A dense kind's rows already claim an upsert's
    *     ids, so it writes no sidecar then; a delete writes the sidecar
    *     alone.
    *
    * A kind that is not live but whose store exists is dropped. A rewrite's
    * size hint is the kind's segment bytes (none for a full write) plus the
    * batch estimate — its output is at most both — so no write pays an
    * optimizer stats probe; no hint when the batch has no estimate.
    */
  private def writeKinds(shape: Collection.Shape, b: Batch): Unit = {
    val delta = shape == Collection.DeltaWrite
    // Impact-meta state, probed BEFORE any store moves. Only df needs
    // maintaining (every bound stays valid, see graft.exec.ImpactTopK); a
    // rewrite re-derives the meta, a delta keeps one of two regimes while
    // the watermark is current:
    //   EXACT — df flag fresh and the batch is a PURE INSERT (no batch id
    //     pre-exists — the skinny doclen store is the cheapest id
    //     inventory): per-term df increments, O(batch).
    //   STALE — the batch updates or deletes existing ids (vanished terms
    //     are unknowable in O(batch)) or df already went stale earlier: a
    //     stale-flagged watermark; serving recounts df per query term.
    // A watermark already behind the postings (an earlier crash window) is
    // left behind: serving falls back until compact() re-derives.
    val impactWm = if (!delta) None else impactWatermark()
      .filter(_._1 == Stores.partitionFingerprint(spark, postingsDir, name))
    val impactExact = impactWm.exists(_._2 == 0L) && !b.bare &&
      (!Stores.partitionExists(spark, doclenDir, name) ||
        doclen().join(b.ids, Seq("id"), "left_semi").limit(1).isEmpty)
    try {
      kinds.foreach { k =>
        k.live() match {
          case None =>
            if (Stores.partitionExists(spark, k.dir, name)) dropKind(k)
          case Some(rows) if shape == Collection.FullWrite =>
            overwriteKind(k, rows(b), b.est)
          case Some(rows) if !delta =>
            val (base, deltas) = Stores.segmentBytes(spark, k.dir, name)
            overwriteKind(k, k.stored().join(b.antiIds, Seq("id"), "left_anti")
              .unionByName(rows(b)), b.est.map(BigInt(base) + deltas + _))
          case Some(rows) =>
            // a kind without a base partition (the doclen of a store written
            // before the doclen layout) materializes its resolved rows once
            if (!Stores.partitionExists(spark, k.dir, name)) overwriteKind(k, k.stored())
            // a delete has no rows to add: its gone sidecar alone
            if (b.bare) Stores.appendGone(spark, k.dir, name, b.ids)
            else Stores.appendDelta(spark, k.dir, name, rows(b),
              gone = if (k.dense) None else Some(b.ids), sortBy = k.sortBy)
        }
      }
      val avgDl = writeStatsFrom(doclen())
      // the watermark goes in LAST, in the same delta as any df rows: a
      // crash before it leaves the watermark behind the postings, which
      // reads as "fall back", never as stale idf served. avg_dl is 0 just
      // when no doc has a token, so it tells an emptied postings store.
      if (!delta) impactParams().foreach(rebuildImpact(_, empty = avgDl == 0.0))
      else if (impactExact) {
        // a pure insert adds exactly its per-term doc counts; a term born
        // here gets bound 0
        val adds = b.postings.groupBy($"term")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("__add"))
          .select($"term".as("id"), $"__add")
        Stores.appendDelta(spark, impactMetaDir, name,
          adds.join(impactMetaRows(), Seq("id"), "left")
            .select($"id", (coalesce($"df", lit(0L)) + $"__add").as("df"),
              coalesce($"bound_tf", lit(0L)).as("bound_tf"))
            .unionByName(impactWatermarkRow()),
          sortBy = Seq("id"))
      } else if (impactWm.nonEmpty)
        Stores.appendDelta(spark, impactMetaDir, name,
          impactWatermarkRow(staleDf = true), sortBy = Seq("id"))
    } finally b.release()
    if (delta) maybeCompact()
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

  /** Writes the collstats row of `dl`; returns its avg_dl. */
  private def writeStatsFrom(dl: DataFrame): Double = {
    // one aggregate job returning a single row; the one-row stats partition
    // is then written DRIVER-side (no distributed write job / committer
    // round — measurable fixed overhead on every upsert and delete)
    val r = dl.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
      coalesce(avg($"dl"), lit(0.0)).as("avg_dl")).head()
    Stores.writeCollStats(spark, statsDir, name, r.getLong(0), r.getDouble(1))
    r.getDouble(1)
  }

  private def dropKind(k: StoreKind): Unit =
    k.dirs.foreach(Stores.dropPartition(spark, _, name))

  /** Overwrite kind `k`'s store with `rows`, in the kind's file layout. */
  private def overwriteKind(k: StoreKind, rows: DataFrame,
                            sizeHint: Option[BigInt] = None): Unit =
    Stores.overwritePartition(spark, k.dir, name, rows, k.sortBy, k.key, sizeHint)

  /** Build kind `k`'s store from `rows`, derived from the whole docs
    * store: its segment bytes are the size hint, as a full write's batch
    * estimate is. */
  private def buildKind(k: StoreKind, rows: DataFrame): Unit = {
    val (base, deltas) = Stores.segmentBytes(spark, docsDir, name)
    overwriteKind(k, rows, Some(BigInt(base) + deltas))
  }

  /** Overwrite a parameter table (k rows, driver-sized) as one file. */
  private def overwriteParams(dir: String, table: DataFrame): Unit =
    Stores.overwritePartition(spark, dir, name, table.coalesce(1))

  // -------------------------------------------------------------------------
  // Read path (reference core.py:190-384)
  // -------------------------------------------------------------------------

  /** Full query pipeline. Empty `query` = scan (`get`, core.py:370-384).
    * `orderBy` takes a bare string or a list (reference core.py:306-311).
    * `limit=0` means unlimited (core.py:327-333). `total` is always the true
    * pre-limit match count (SURVEY §7.4 decision — the SQLite-vector
    * behavior; the PG offset-past-end `total=0` quirk is not replicated).
    *
    * A ranked query first collects its postings slice — the rows of the
    * query's terms and prefixes, at most [[Collection.SliceMaxRows]] — in
    * one bounded action and scores it in the driver
    * ([[graft.exec.Bm25.driverScores]]); the matched (id, rank) set is
    * broadcast-joined to the docs store, with a pushed `id IN (…)` when it
    * is small. A larger slice takes the distributed arm: BM25 as column
    * arithmetic joined to the docs store. Either way the page is ONE more
    * Spark action — the analogue of the reference's `count(*) OVER()`
    * beside its page (core.py:408). With `limit > 0` the unordered match
    * frame carries an observed row count (a fresh
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
    * collect of the result; `query()`'s `limit=0` full collect reproduces
    * the reference's API-boundary cliff and is for parity only). A ranked
    * query runs its one bounded postings-slice job when the frame is
    * BUILT (see [[query]]); the frame then holds the matched (id, rank)
    * set as a local relation. Over the slice bound the frame is the
    * distributed arm's plan and runs nothing until executed; the SQL
    * table functions and [[Collection.searchAll]] plan that arm directly.
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

  /** One-call in-place collection dedup: exact ∪ MinHash near-duplicate
    * pairs (word 3-shingles, 32 bands × 4 rows, Jaccard ≥ `threshold`) →
    * connected components → the min id of each duplicate cluster
    * survives; the same clusters as [[graft.ext.Dedup.dedupCorpus]].
    * Returns the number of documents removed.
    *
    * Candidates come from the stored [[createDedupIndex]] rows when the
    * index has that shape, else the docs are banded on the fly. The losers
    * leave through [[delete]]'s removal path, scoped to THIS collection: a
    * merge rewrite of docs and every index below
    * `spark.graft.store.directUpsertMaxBytes`, gone-deltas above it.
    *
    * Scale: one window over the band rows finds the multi-member buckets;
    * those rows and their members' content hashes and shingle sets are
    * collected to the driver, which verifies the pairs and runs
    * union-find, as long as they fit [[graft.ext.Dedup.DriverClusterMaxBytes]]
    * (64 MB). Above that bound (logged at INFO) verification and
    * components stay distributed. Run on a quiesced collection, like
    * [[maintain]].
    */
  def dedup(threshold: Double = 0.8): Long =
    dedupBounded(threshold, graft.ext.Dedup.DriverClusterMaxBytes)

  /** [[dedup]] with the driver bound as a parameter (tests force the
    * distributed arm with it).
    */
  private[graft] def dedupBounded(threshold: Double, maxDriverBytes: Long): Long = {
    require(threshold > 0.0 && threshold <= 1.0, "0 < threshold <= 1")
    val (n, bands, rpb) = (3, 32, 4)
    val banded =
      if (dedupParams().contains((n, bands, rpb)))
        Stores.readPartition(spark, minhashDir, name, Stores.minhashSchema)
      else dedupIndexRows(graft.ext.WorkingColumns.respread(docs()), n, bands, rpb)
    val (losers, removed) = graft.ext.Dedup.bandedClusters(docs(), banded, n, threshold,
        maxDriverBytes = maxDriverBytes) match {
      case Left(clusters) =>
        val ids = clusters.collect { case (id, root) if id != root => id }.toSeq
        (ids.toDF("id"), ids.size.toLong)
      case Right((clusters, nonRoots)) =>
        (clusters.filter($"id" =!= $"cluster").select($"id"), nonRoots)
    }
    if (removed > 0) removeFrom(name, losers)
    removed
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

    lazy val filtered = applyWhere(docs(), where)
    val byRank = Seq($"rank".desc, $"id".asc)
    def byMeta = Sorter.sortColumns($"metadata", orderBy.map(SortKey.parse), Seq($"id".asc))

    if (vectorSearch) {
      val qvec = embedder.get.embed(Seq(query)).head.toSeq
      (VectorSearch.scored(filtered, "embedding", qvec), byRank, true)
    } else ast match {
      case Some(q) =>
        // Driver arm: the query's postings slice, collected in one bounded
        // job and scored in the driver; only the matched ids' docs rows
        // are read (late materialization). A slice over the bound (seen
        // now or remembered, see driverHits) takes the distributed arm: for
        // flat AND/OR (every parser shape except mixed `x AND y OR z`) ONE
        // postings scan produces (matching id, rank) fused — the same
        // (leaf, doc) aggregate that sums the score counts matched leaves
        // for the AND test; non-flat falls back to match ids + rank join. No broadcast hint on that arm: its match
        // set is unbounded (a common term can match most of the corpus);
        // AQE broadcasts when small.
        val ranked = driverHits(q)
          .map(docsOf(_, where))
          .getOrElse(Bm25.scoredIds(postings(), collStats(), q) match {
            case Some(scored) => filtered.join(scored, Seq("id"))
            case None =>
              val ids = FtsEval.matchingIds(postings(), q)
              filtered.join(ids, Seq("id"))
                .join(Bm25.scores(postings(), collStats(), q), Seq("id"), "left")
                .withColumn("rank", coalesce($"rank", lit(0.0)))
          })
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

  /** The driver arm's (id, rank) hits of `q` ([[graft.exec.Bm25.driverScores]]),
    * None when its postings slice is over the bound. An over-bound slice
    * is remembered under the postings fingerprint
    * ([[Collection.overBoundSlices]]), so a repeated hot query takes the
    * distributed arm at once instead of collecting `sliceMaxRows + 1` rows
    * again to learn the same thing; any postings write changes the key.
    */
  private def driverHits(q: BoolQuery): Option[Seq[(String, Double)]] = {
    if (sliceMaxRows < 0) return None
    val key = (root, name, Stores.partitionFingerprint(spark, postingsDir, name),
      BoolQuery.leaves(q).toSet)
    if (Collection.overBoundSlices.get(key).exists(_ >= sliceMaxRows)) return None
    val (nDocs, avgDl) = collStatsValue()
    val hits = Bm25.driverScores(postings(), q, nDocs, avgDl, sliceMaxRows)
    if (hits.isEmpty) {
      if (Collection.overBoundSlices.size > 4096)
        Collection.overBoundSlices.headOption.foreach(kv =>
          Collection.overBoundSlices.remove(kv._1))
      Collection.overBoundSlices.put(key,
        math.max(sliceMaxRows, Collection.overBoundSlices.getOrElse(key, 0)))
    }
    hits
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

  /** How a mutation lands in the stores ([[Collection.writeKinds]]): a full
    * write of a new collection, a merge rewrite of a small partition, or
    * an O(batch) delta segment. */
  private sealed trait Shape
  private case object FullWrite extends Shape
  private case object MergeWrite extends Shape
  private case object DeltaWrite extends Shape

  /** How long [[Collection.query]] waits for its observed total after the
    * page is collected before recounting (delivery normally takes ms). */
  private val ObservedTotalWait = scala.concurrent.duration.Duration(30, "s")

  /** Driver heap one postings-slice row holds at the driver arm's peak,
    * measured by `Test/runMain graft.SliceFootprint` (JDK 17, compressed
    * oops, 11-char ids, one score entry per row, the most a row carries):
    * the collected Row 165 B, its per-doc tf/dl array 85 B and its
    * (id, rank) pair 72 B live together while scoring, 322 B; the collect
    * before it peaks lower (its UnsafeRow copies 125 B + the Row). Each
    * id char beyond 11 adds about 2 B (two copies of the id string).
    */
  private val SliceRowBytes = 322

  /** Most postings rows a ranked read collects to the driver to score
    * there ([[graft.exec.Bm25.driverScores]]); a larger slice takes the
    * distributed arm. The budget is the driver bound dedup's cluster
    * collect already takes ([[graft.ext.Dedup.DriverClusterMaxBytes]],
    * 64 MB) at [[SliceRowBytes]] per row: 2^26 / 322 = 208,412 rows.
    */
  private[graft] val SliceMaxRows: Int =
    (graft.ext.Dedup.DriverClusterMaxBytes / SliceRowBytes).toInt

  /** (root, name, postings fingerprint, distinct query leaves) -> the
    * largest driver bound that query's postings slice was seen to exceed;
    * see [[Collection!.driverHits]]. Keyed by content fingerprint like
    * [[staleDfCache]]: a changed store simply misses.
    */
  private[api] val overBoundSlices =
    scala.collection.concurrent.TrieMap[(String, String, Long, Set[BoolQuery]), Int]()

  /** Most ids a docs fetch pushes down as an `id IN (…)` literal list
    * ([[Collection!.docsOf]]). */
  private val InFetchMaxIds = 1000

  /** (root, name, postings fingerprint, term) -> exact resolved df, for
    * the stale-df serving regime; see [[Collection!.staleDfFor]]. Keyed
    * by content fingerprint — no invalidation hooks, a changed store
    * simply misses.
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
    * Scale: with `limit == 0` or a `where`, one ranked frame per
    * collection — [[Collection.queryFrame]]'s distributed arm, the
    * postings-gated plan, never the driver slice job — unioned lazily:
    * the members evaluate in parallel inside one job.
    * A BOUNDED unfiltered query (`limit > 0`, empty `where`) is the
    * federated SERVING shape and scatter-gathers instead: each collection
    * answers through [[Collection.searchTopK]], so members with a valid
    * impact index serve their arm certified from O(cap) rows (collected
    * driver-side — that is the point of a top-k serving call), and
    * members without one contribute the same lazy full plan as before
    * (their gate check is two filesystem listings, no Spark job).
    *
    * EAGERNESS CONTRACT: on the `limit > 0 && where.isEmpty` serving path
    * the certified arms COLLECT at call time (and materialize as local
    * frames), so Spark jobs run — and failures surface — when
    * `searchAll` (or SQL `graft_search_all`) is CALLED, not when the
    * returned frame is executed. That is deliberate: a top-k serving call
    * exists to answer now, and deferring the O(cap) candidate read would
    * just re-run it per downstream action. The `limit == 0` / filtered
    * shapes and the members without a certified arm run nothing until
    * the frame is executed.
    */
  def searchAll(spark: SparkSession, root: String, query: String,
                limit: Int = 0, where: Map[String, Any] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val frames = list(spark, root).flatMap { n =>
      // each member's ranked frame is its distributed arm: a lazy plan, so
      // the union evaluates in one job and a SQL call runs no job while
      // Catalyst analyzes it
      val c = open(spark, root, n).withSliceMaxRows(-1)
      if (!c.useFts) None
      // a bounded, unfiltered federated query is exactly searchTopK's
      // shape: any collection carrying a valid impact index serves its
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
