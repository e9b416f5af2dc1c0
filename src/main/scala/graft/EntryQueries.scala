package graft

import graft.api.{Collection, Embedder}
import graft.exec.Sorter
import graft.ext.{Ann, Bpe, ByteStatsDecoder, CrawlPipeline, Dedup, Expectations, Graphs, Html, Ivf, Joins, Json, Layout, Multimodal, Pipeline, Pq, Quantize, TextStats, Web}
import graft.functions.TextFunctions
import graft.model.SortKey
import graft.parse.QueryParser
import graft.streaming.EventStreams
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-harness wiring: one entry per operator of SURVEY.md §2 plus the
  * ext/ training-data operators, each with a DuckDB oracle over the same
  * parquet tables (TESTDATA.md). Conventions that make the hash compare
  * stable:
  *   - no MAP/STRUCT output columns — scalars only, names matched to the SQL
  *   - every floating-point output rounded to 6 (or 5) decimals on BOTH sides
  *   - counts are BIGINT on both sides
  *   - where row ORDER is the semantics under test, a window `rn` column
  *     pins it; otherwise results compare as sets
  */
object EntryQueries {

  // --- fixtures --------------------------------------------------------------

  /** Temp dir deleted at JVM exit — repeated Verify/Bench runs must not
    * accumulate corpus-sized fixture/JSONL trees under /tmp. Exit-time (not
    * eager) cleanup keeps the entries lazy: the dir stays readable for the
    * whole run, including re-reads of a shared fixture.
    */
  private def tempDirCleanedOnExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }))
    dir.toString
  }

  private val roots = scala.collection.concurrent.TrieMap[String, String]()

  /** One shared store root per sf dir, built on first use: collection "main"
    * = documents.parquet (metadata {lang, source, n_chars, opt?}), collection
    * "vecs" = embeddings.parquet.
    */
  private def fixtureRoot(spark: SparkSession, sfDir: String): String =
    roots.getOrElseUpdate(sfDir, {
      val root = tempDirCleanedOnExit("graft-entry-")
      val docs = docsFrame(spark, sfDir)
      Collection(spark, root, "main").addDf(docs)
      val vecs = readPar(spark, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          concat(lit("label "), col("label")).as("content"),
          map(lit("label"), col("label").cast("string")).as("metadata"),
          col("embedding"))
      Collection(spark, root, "vecs", embedder = Some(CsvVecEmbedder)).addDf(vecs)
      bulkInputPath(spark, sfDir) // staged here so a1 absorbs the generation
      root
    })

  private val bulkInputs = scala.collection.concurrent.TrieMap[String, String]()

  /** The a2 bulk-upsert input (~100k docs, distinct ids per copy) staged to
    * parquet ONCE per sf dir — fixture generation lands in a1's shared
    * fixture build, so a2's timed region is the pure `addDf` ingest, the
    * same region the reference's add timer measures
    * (tests/profiling_sqlite.py:174-175 times `engine.add` alone, with
    * contents/ids/metadata pre-generated).
    */
  private def bulkInputPath(spark: SparkSession, sfDir: String): String =
    bulkInputs.getOrElseUpdate(sfDir, {
      val base = docsFrame(spark, sfDir)
      val n = base.count()
      val copies = math.max(1, (100000 / math.max(1L, n)).toInt)
      val out = tempDirCleanedOnExit("graft-bulkin-") + "/bulk.parquet"
      // repartition: the broadcast-range crossJoin otherwise emits ~1
      // partition and the whole staging write serializes onto one core
      spark.range(copies).withColumnRenamed("id", "copy").crossJoin(base)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(concat(col("id"), lit("_"), col("copy")).as("id"),
          col("content"), col("metadata"))
        .write.parquet(out)
      out
    })

  /** documents.parquet -> the Collection doc shape. `opt` metadata key is
    * present only for n_chars >= 250 (exercises NULL semantics in $nin and
    * sort-NULLS placement).
    */
  private def docsFrame(spark: SparkSession, sfDir: String): DataFrame =
    readPar(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
        map_concat(
          map(lit("lang"), col("lang"), lit("source"), col("source"),
            lit("n_chars"), col("n_chars").cast("string")),
          when(col("n_chars") >= 250,
            map(lit("opt"), (col("n_chars") % 7).cast("string")))
            .otherwise(map())
        ).as("metadata"))

  private def mainColl(spark: SparkSession, sfDir: String): Collection =
    Collection(spark, fixtureRoot(spark, sfDir), "main")

  private val bulkRoots = scala.collection.concurrent.TrieMap[String, String]()

  /** Ingest the ~100k-doc bulk input into a FRESH root and make it the root
    * a2b reads back. Called by a2 on EVERY invocation — the timed region
    * always pays a full addDf, so repeated or warmed-up bench iterations
    * measure the add itself, never a cached count (benchmark-integrity
    * contract vs the reference timer, which pays a full add per run).
    */
  private def bulkIngestFresh(spark: SparkSession, sfDir: String): Collection = {
    val r = tempDirCleanedOnExit("graft-bulk-")
    Collection(spark, r, "bulk").addDf(spark.read.parquet(bulkInputPath(spark, sfDir)))
    // delete the superseded root (entries run sequentially; nothing reads it
    // after this put) — repeated timed iterations would otherwise leak one
    // ~100k-doc store per run
    bulkRoots.put(sfDir, r).foreach { prev =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(prev))
    }
    Collection(spark, r, "bulk")
  }

  /** The bulk collection a2 last ingested — a2b's read-back target. Run
    * standalone (filtered runs), it pays its own one-time ingest.
    */
  private def bulkColl(spark: SparkSession, sfDir: String): Collection = {
    val root = bulkRoots.getOrElseUpdate(sfDir, {
      val r = tempDirCleanedOnExit("graft-bulk-")
      Collection(spark, r, "bulk").addDf(spark.read.parquet(bulkInputPath(spark, sfDir)))
      r
    })
    Collection(spark, root, "bulk")
  }

  private val foldedRoots = scala.collection.concurrent.TrieMap[String, String]()

  /** Lazily-built accented fixture for the fold entry: every 10th doc, with
    * a -> á and e -> é injected (deterministic, replayable in DuckDB with
    * translate), indexed under foldAccents=true. Its OWN root — kept out of
    * the shared fixture so a1's timed build doesn't absorb a third ingest.
    */
  private def foldedColl(spark: SparkSession, sfDir: String): Collection = {
    val root = foldedRoots.getOrElseUpdate(sfDir, {
      val r = tempDirCleanedOnExit("graft-folded-")
      val docs = docsFrame(spark, sfDir)
        .filter(col("id").cast("long") % 10 === 0)
        .withColumn("content", translate(col("content"), "ae", "áé"))
      Collection(spark, r, "folded", foldAccents = true).addDf(docs)
      r
    })
    Collection(spark, root, "folded", foldAccents = true)
  }

  private def vecsColl(spark: SparkSession, sfDir: String): Collection =
    Collection(spark, fixtureRoot(spark, sfDir), "vecs", embedder = Some(CsvVecEmbedder))

  private val hybRoots = scala.collection.concurrent.TrieMap[String, String]()

  /** A collection carrying BOTH searchable text and an embedding per doc
    * (documents ⋈ embeddings, 1:1 by id in the fixture) — the hybrid-search
    * fixture. Built once per sf dir in its own root so the shared a1 fixture
    * build's timed region is unchanged.
    */
  private def hybColl(spark: SparkSession, sfDir: String): Collection = {
    val root = hybRoots.getOrElseUpdate(sfDir, {
      val r = tempDirCleanedOnExit("graft-hyb-")
      val e = readPar(spark, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      Collection(spark, r, "hyb")
        .addDf(docsFrame(spark, sfDir).join(e, Seq("id")))
      r
    })
    Collection(spark, root, "hyb")
  }

  /** Query-time embedder: parses "f,f,f,…" into the vector — deterministic,
    * no model dependency (the Embedder surface itself is exercised by
    * CollectionSpec with a real batch embedder).
    */
  private object CsvVecEmbedder extends Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] =
      texts.map(t => t.split(",").map(_.trim.toFloat))
  }

  /** First embedding of the sf dir as a query vector (driver-side, tiny). */
  /** Parquet read that SPREADS a narrow scan across the session's cores
    * (r19 opt, guide §2 "make partitioning scale-adaptive"): the sf test
    * files are single-row-group parquet, so a bare read is ONE partition
    * and every tokenize/shingle/cosine kernel directly above it runs on 1
    * of the 32 cores (measured: the x83 key-tokenize scans, the dedup
    * MinHash pass, the N² cosine joins — all single-task). A real
    * deployment's scan has ≥ cores splits, where this is a no-op — the
    * repartition fires only when the scan is narrower than the session's
    * parallelism, and costs one shuffle of the (small, by construction)
    * narrow input. Row order is not part of any entry's contract (ids are
    * unique; writes sort; ranks tie-break explicitly).
    */
  private def readPar(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    // Narrowness from FILE BYTES, driver-side (one FS stat): probing the
    // DataFrame's RDD partition count costs a full physical-planning pass
    // per call (measured up to 1.2 s on map-typed plans). Spark packs
    // ~openCostInBytes (4 MB) per split floor, so a scan cannot reach
    // `par` splits unless it has ~par x 4 MB of input.
    val par = spark.sparkContext.defaultParallelism
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    if (bytes < par.toLong * (4L << 20)) df.repartition(par) else df
  }

  private def queryVec(spark: SparkSession, sfDir: String, vecId: Int = 0): Seq[Float] =
    // plain read: a 1-row head() gains nothing from a respread shuffle
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === vecId).select("embedding")
      .head().getSeq[Float](0).toSeq

  /** The first `n` query vectors as (qid, vec) in vec_id order — ONE collect
    * instead of n head() jobs (r19 opt: the per-call form cost one full job
    * per vector inside 3-5-query loops across ~20 entries). Values are
    * byte-identical to n queryVec calls.
    */
  private def queryVecs(spark: SparkSession, sfDir: String, n: Int): Seq[(String, Seq[Float])] =
    // plain read: an n-row collect gains nothing from a respread shuffle
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < n).select("vec_id", "embedding")
      .collect().sortBy(_.getAs[Number]("vec_id").intValue())
      .map(r => r.getAs[Number]("vec_id").intValue().toString ->
        r.getSeq[Float](r.fieldIndex("embedding")).toSeq).toSeq

  /** The driver has shipped two events.parquet layouts across rounds:
    * int64-nanos `ts` (needs the nanosAsLong legacy conf to even load) and
    * native timestamp[us] (loads as TIMESTAMP_NTZ). Branch on the read
    * schema so both parse, and only touch the global legacy conf when the
    * legacy layout actually forces it.
    */
  private def eventsFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val df =
      try spark.read.parquet(path)
      catch {
        // INT64(TIMESTAMP(NANOS)) is an illegal Parquet type for Spark
        // unless the legacy conf maps it to plain LongType
        case e: Exception if Option(e.getMessage).exists(_.contains("NANOS")) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path)
      }
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))  // integer div: double division loses micros at 1e18 nanos
      case _ =>
        // NTZ wall-clock -> instant in the session zone (all harness
        // sessions pin UTC), matching DuckDB's naive-timestamp oracle
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  // --- shared DuckDB SQL fragments ------------------------------------------

  /** The engine tokenizer in DuckDB — the same Unicode separator class as
    * TextFunctions.SeparatorRegex, so term/position oracle arms agree with
    * the engine on non-ASCII text too (hash-identical to the former
    * ASCII-only class on this corpus; verified with a full-corpus compare).
    */
  private def toksOf(c: String): String =
    s"list_filter(regexp_split_to_array(lower($c), '[^\\p{L}\\p{N}]+'), t -> t <> '')"
  private val Toks = toksOf("text")

  /** SQL-escape a string for a single-quoted DuckDB literal. */
  private def sqlQuote(s: String): String = s.replace("'", "''")
  private val DocId = "CAST(doc_id AS VARCHAR)"
  /** The fixture's conditional metadata key. */
  private val OptVal = "CASE WHEN n_chars >= 250 THEN CAST(n_chars % 7 AS VARCHAR) END"

  private def hasTerm(t: String) = s"list_contains($Toks, '$t')"

  /** DuckDB host expression matching [[urlDocs]]'s synthesized URL (what
    * Spark's parse_url(…, 'HOST') extracts from it). */
  private val UrlHost =
    "('www.' || source || CAST(doc_id % 23 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END))"

  /** ≤3 docs per registrable domain by md5(id) rank — shared by the batch
    * (x99b) and streaming (x103) cap entries, which must agree exactly. */
  private lazy val DomainCapOracle =
    s"""WITH dom AS (SELECT $DocId AS id, CASE
       |    WHEN array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') = 'co.uk'
       |    THEN array_to_string((string_split(${UrlHost}, '.'))[-3:], '.')
       |    ELSE array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') END AS domain
       |  FROM documents),
       | r AS (SELECT id, ROW_NUMBER() OVER (
       |    PARTITION BY domain ORDER BY md5(id), id) AS rn FROM dom)
       |SELECT id FROM r WHERE rn <= 3""".stripMargin

  /** documents + a deterministic URL column: ~20 sources × 23 ids/source
    * registrable domains, every 5th doc on a multi-part .co.uk suffix (the
    * public-suffix-lite rule's three-label arm).
    */
  /** documents + the x124 planted-dup URL fixture, five arms per doc_id%5:
    * (0) uppercased host, default port, tracking params, fragment; (1) its
    * clean canonical twin — 0 and 1 collide after canonicalization; (2)
    * per-id site pages over 11 domains; (3) tracker.net with click ids;
    * (4) no scheme (canonical passthrough, NULL host). ONE definition
    * shared by x124 and x130 so the two entries (and their oracles' arm
    * arithmetic) cannot drift.
    */
  private def dupUrlDocs(spark: SparkSession, sfDir: String,
                         pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    // pred filters on the NUMERIC doc_id (never a string cast — the
    // x125b ANSI/self-join lesson)
    val d = readPar(spark, s"$sfDir/documents.parquet")
      .filter(pred)
      .select(col("doc_id").cast("string").as("id"),
        col("doc_id").cast("long").as("n"), col("text"))
    val url =
      when(col("n") % 5 === 0, concat(lit("HTTP://WWW.Example.COM:80/Path/"),
          floor(col("n") / 5).cast("string"), lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("n") % 5 === 1, concat(lit("http://www.example.com/Path/"),
          floor(col("n") / 5).cast("string"), lit("?b=2&a=1")))
        .when(col("n") % 5 === 2, concat(lit("https://Site"),
          (col("n") % 11).cast("string"), lit(".ORG:443/p/"), col("id"), lit("#x")))
        .when(col("n") % 5 === 3, concat(lit("http://tracker.net/p/"), col("id"),
          lit("?gclid=abc&utm_campaign=z")))
        .otherwise(concat(lit("no-scheme-url-"), col("id")))
    d.select(col("id"), col("text").as("content"), url.as("url"))
  }

  private def urlDocs(spark: SparkSession, sfDir: String): DataFrame =
    readPar(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
        concat(lit("https://www."), col("source"),
          (col("doc_id") % 23).cast("string"),
          when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
          lit("/doc/"), col("doc_id").cast("string")).as("url"))

  // --- the registry ----------------------------------------------------------

  /** (name, query, oracle). Oracle None -> driver records rows-only check. */
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // =========================================================================
    // S2-S8: DDL / DML / ingestion (reference core.py:108-188, 457-525)
    // =========================================================================

    // Sorts first in the bench (alphabetical) so the shared fixture build —
    // full ingest + postings + stats for both collections — is attributed to
    // the index-build entry instead of whichever query runs first. Also the
    // S2 correctness entry: pins the collection-stats store (N, avg_dl).
    ("a1_build_index", (s: SparkSession, sfDir: String) => {
      val root = fixtureRoot(s, sfDir)
      val stats = graft.index.Stores.readPartition(s, graft.index.Stores.collStatsDir(root),
        "main", graft.index.Stores.collStatsSchema)
      stats.select(col("n_docs"), round(col("avg_dl"), 6).as("avg_dl"))
    }, Some(s"""SELECT COUNT(*) AS n_docs,
               |  -- COALESCE: a null-content doc is an EMPTY doc (dl 0) in the
               |  -- average, matching both engine stats paths
               |  round(AVG(COALESCE(len($Toks), 0)), 6) AS avg_dl
               |FROM documents""".stripMargin)),

    // Bench-scale bulk upsert: ~100k docs (the baseline harness's headline
    // op, profiling_sqlite.py:150) derived from the sf documents replicated
    // under distinct ids, staged to parquet by the a1 fixture build — the
    // timed region here is scan + addDf + count, matching the reference
    // timer's pure-add region (profiling_sqlite.py:174-175). The content
    // checksum read-back lives in its OWN entry (a2b) so the add timing the
    // driver compares against the reference's add isn't charged ~1 s of
    // oracle read-back the reference timer doesn't pay.
    ("a2_add_bulk", (s: SparkSession, sfDir: String) => {
      val c = bulkIngestFresh(s, sfDir)
      c.docs().groupBy().agg(count(lit(1)).as("n_docs"))
    }, Some("""SELECT COUNT(*) * (SELECT GREATEST(1, 100000 // COUNT(*)) FROM documents) AS n_docs
              |FROM documents""".stripMargin)),

    // Order-independent content checksum of the bulk store a2 built (sum of
    // a 60-bit md5 prefix over id|content) replayed by DuckDB over the same
    // replication — pins that the bulk upsert landed every row unmangled.
    ("a2b_bulk_checksum", (s: SparkSession, sfDir: String) =>
      bulkColl(s, sfDir).docs().groupBy().agg(
        sum(conv(substring(md5(concat(col("id"), lit("|"), col("content"))), 1, 15), 16, 10)
          .cast("decimal(38,0)")).cast("string").as("checksum")),
      Some("""WITH b AS (
              |  SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(g.c AS VARCHAR) AS id, text AS content
              |  FROM documents
              |  CROSS JOIN (SELECT unnest(range((SELECT GREATEST(1, 100000 // COUNT(*)) FROM documents))) AS c) g)
              |SELECT CAST(SUM(CAST(CAST(('0x' || substr(md5(id || '|' || content), 1, 15)) AS UBIGINT) AS HUGEINT)) AS VARCHAR) AS checksum
              |FROM b""".stripMargin)),

    ("s3_add_upsert", (s: SparkSession, _: String) => {
      val root = tempDirCleanedOnExit("graft-s3-")
      val c = Collection(s, root, "t")
      c.add(Seq("alpha beta", "gamma delta"), ids = Some(Seq("x1", "x2")))
      // last-wins within the batch AND against the base (core.py:496-499)
      c.add(Seq("first", "second", "third"), ids = Some(Seq("x2", "x3", "x2")))
      c.docs().select("id", "content")
    }, Some("SELECT * FROM (VALUES ('x1','alpha beta'),('x2','third'),('x3','second')) AS t(id, content)")),

    ("s4_update", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-s4-")
      val c = Collection(s, root, "t")
      c.addDf(docsFrame(s, sfDir).filter(col("id").cast("long") < 20))
      c.update(Seq("5", "7"), Seq("updated five", "updated seven"))
      c.docs().select("id", "content")
    }, Some("""SELECT CAST(doc_id AS VARCHAR) AS id,
              |  CASE doc_id WHEN 5 THEN 'updated five' WHEN 7 THEN 'updated seven' ELSE text END AS content
              |FROM documents WHERE doc_id < 20""".stripMargin)),

    ("s5_delete_cross", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-s5-")
      val a = Collection(s, root, "A")
      val b = Collection(s, root, "B")
      val base = docsFrame(s, sfDir)
      a.addDf(base.filter(col("id").cast("long") < 20))
      b.addDf(base.filter(col("id").cast("long").between(10, 29)))
      // cross-collection delete by design (reference core.py:184-188)
      a.delete(Seq("3", "12", "15"))
      a.docs().select(lit("A").as("coll"), col("id"))
        .unionByName(b.docs().select(lit("B").as("coll"), col("id")))
    }, Some("""SELECT 'A' AS coll, CAST(doc_id AS VARCHAR) AS id FROM documents
              |WHERE doc_id < 20 AND doc_id NOT IN (3, 12, 15)
              |UNION ALL
              |SELECT 'B' AS coll, CAST(doc_id AS VARCHAR) AS id FROM documents
              |WHERE doc_id BETWEEN 10 AND 29 AND doc_id NOT IN (3, 12, 15)""".stripMargin)),

    ("s6_delete_all", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-s6-")
      val a = Collection(s, root, "A")
      val b = Collection(s, root, "B")
      val base = docsFrame(s, sfDir)
      a.addDf(base.filter(col("id").cast("long") < 20))
      b.addDf(base.filter(col("id").cast("long").between(10, 29)))
      a.deleteAll() // partition drop scoped to A only (core.py:386-400)
      a.docs().select(lit("A").as("coll"), col("id"))
        .unionByName(b.docs().select(lit("B").as("coll"), col("id")))
    }, Some("SELECT 'B' AS coll, CAST(doc_id AS VARCHAR) AS id FROM documents WHERE doc_id BETWEEN 10 AND 29")),

    // Continuous ingestion (S8-stream): two MemoryStream micro-batches through
    // streamIngest — cross-batch upsert (b rewritten), intra-batch duplicate
    // id (d twice, last wins), and DELTA postings maintenance pinned by
    // querying a term the update REMOVED ('stale' must match nothing) and
    // terms the batches introduced.
    ("s9_stream_upsert", (s: SparkSession, _: String) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = tempDirCleanedOnExit("graft-s9-")
      val c = Collection(s, root, "st")
      val mem = MemoryStream[(String, String)]
      val q = c.streamIngest(mem.toDF().toDF("id", "content")).start()
      mem.addData(("a", "alpha common"), ("b", "beta stale common"), ("c", "gamma common"))
      q.processAllAvailable()
      mem.addData(("b", "beta updated common"), ("d", "delta first"), ("d", "delta last"))
      q.processAllAvailable()
      q.stop()
      val docsOut = c.docs().select(lit("doc").as("kind"), col("id"), col("content"))
      def m(kind: String, fts: String) = c.queryFrame(fts)
        .select(lit(kind).as("kind"), col("id"), lit(null).cast("string").as("content"))
      docsOut
        .unionByName(m("match_updated", "updated"))
        .unionByName(m("match_stale", "stale"))
        .unionByName(m("match_last", "last"))
        .unionByName(m("match_common", "common"))
    }, Some("""SELECT * FROM (VALUES
              | ('doc','a','alpha common'), ('doc','b','beta updated common'),
              | ('doc','c','gamma common'), ('doc','d','delta last'),
              | ('match_updated','b',NULL),
              | ('match_last','d',NULL),
              | ('match_common','a',NULL), ('match_common','b',NULL), ('match_common','c',NULL)
              |) AS t(kind, id, content)""".stripMargin)),

    ("s7_count", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      Seq(mainColl(s, sfDir).count()).toDF("cnt")
    }, Some("SELECT COUNT(*) AS cnt FROM documents")),

    ("s8_ingest", (s: SparkSession, sfDir: String) => {
      val d = mainColl(s, sfDir).docs()
      d.select(col("id"), col("content"),
        element_at(col("metadata"), "lang").as("lang"),
        element_at(col("metadata"), "source").as("source"),
        element_at(col("metadata"), "n_chars").as("n_chars_str"),
        element_at(col("metadata"), "opt").as("opt"))
    }, Some(s"""SELECT $DocId AS id, text AS content, lang, source,
               |  CAST(n_chars AS VARCHAR) AS n_chars_str, $OptVal AS opt
               |FROM documents""".stripMargin)),

    // =========================================================================
    // Q1-Q16: the query pipeline (reference core.py:190-384)
    // =========================================================================

    ("q1_fts_and", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("table scan").select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE ${hasTerm("table")} AND ${hasTerm("scan")}")),

    ("q2_fts_or", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("vector or stream").select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE ${hasTerm("vector")} OR ${hasTerm("stream")}")),

    ("q2_parser_golden", (s: SparkSession, _: String) => {
      import s.implicits._
      val inputs = Seq("Lorem", "lorem IPSUM", "a or b", "x AND y or z", "don't",
        "Lor*", "'quoted'", "  spaced   words  ", "and", "or a",
        "te*m", "a*b*c", "*fix", "don't*")
      inputs.map(q => (q, QueryParser.parse(q).map(QueryParser.print).getOrElse("<empty>")))
        .toDF("q", "ast")
    }, Some("""SELECT * FROM (VALUES
              | ('Lorem','lorem'), ('lorem IPSUM','lorem & ipsum'), ('a or b','(a) | (b)'),
              | ('x AND y or z','(x & y) | (z)'), ('don''t','don & t'), ('Lor*','lor:*'),
              | ('''quoted''','quoted'), ('  spaced   words  ','spaced & words'),
              | ('and','<empty>'), ('or a','a'),
              | ('te*m','te*m'), ('a*b*c','a*b*c'), ('*fix','*fix'), ('don''t*','don & t:*')
              |) AS t(q, ast)""".stripMargin)),

    ("q3_fts_prefix", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("sca*").select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE len(list_filter($Toks, t -> t LIKE 'sca%')) > 0")),

    // mid-token wildcard (SQLite-parity: `*` anywhere in the term; the
    // trailing-only form is the PG subset, reference README.md:69)
    ("q3b_fts_midtoken", (s: SparkSession, sfDir: String) =>
      // multi-star mid-token wildcard (s*m*l -> small) OR-composed with a
      // second wildcard (c*er -> customer)
      mainColl(s, sfDir).queryFrame("s*m*l or c*er").select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE len(list_filter($Toks, t -> t LIKE 's%m%l')) > 0
              |   OR len(list_filter($Toks, t -> t LIKE 'c%er')) > 0""".stripMargin)),

    ("q4_bm25_rank", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("customer stream")
        .select(col("id"), round(col("rank"), 6).as("rank")),
      Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | lens AS (SELECT id, len(w) AS dl FROM toks),
              | stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n, (SELECT AVG(len(w)) FROM toks) AS avgdl),
              | tf AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
              | dfp AS (SELECT t, COUNT(*) AS df FROM tf WHERE t IN ('customer','stream') GROUP BY 1),
              | m AS (SELECT id FROM tf WHERE t IN ('customer','stream') GROUP BY id HAVING COUNT(DISTINCT t) = 2),
              | sc AS (SELECT tf.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
              |          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
              |        FROM tf JOIN dfp USING(t) JOIN lens USING(id) CROSS JOIN stats
              |        WHERE tf.t IN ('customer','stream') GROUP BY tf.id)
              |SELECT m.id AS id, round(sc.r, 6) AS rank FROM m JOIN sc ON m.id = sc.id""".stripMargin)),

    // fts5-style prefix expansion in the ranker: the prefix leaf scores as
    // ONE query term — per-doc tf summed over matching dictionary terms, df =
    // its distinct matching docs (decision pinned per VERDICT r4 #7; the
    // reference never asserts rank values, SURVEY §2 Q4)
    ("q4b_bm25_prefix_rank", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("customer str*")
        .select(col("id"), round(col("rank"), 6).as("rank")),
      Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | lens AS (SELECT id, len(w) AS dl FROM toks),
              | stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n, (SELECT AVG(len(w)) FROM toks) AS avgdl),
              | tf AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
              | leaves(leaf, pat) AS (VALUES ('customer', 'customer'), ('*1', 'str%')),
              | tfl AS (SELECT l.leaf, tf.id, SUM(tf.tf) AS tf
              |         FROM tf JOIN leaves l ON tf.t LIKE l.pat GROUP BY 1, 2),
              | dfl AS (SELECT leaf, COUNT(*) AS df FROM tfl GROUP BY 1),
              | m AS (SELECT id FROM tfl GROUP BY id HAVING COUNT(DISTINCT leaf) = 2),
              | sc AS (SELECT tfl.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
              |          * (tfl.tf * 2.2) / (tfl.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
              |        FROM tfl JOIN dfl USING(leaf) JOIN lens USING(id) CROSS JOIN stats
              |        GROUP BY tfl.id)
              |SELECT m.id AS id, round(sc.r, 6) AS rank FROM m JOIN sc ON m.id = sc.id""".stripMargin)),

    ("q5_vector_topk", (s: SparkSession, sfDir: String) => {
      val q = queryVec(s, sfDir).mkString(",")
      val page = vecsColl(s, sfDir).queryFrame(q, limit = 10, vectorSearch = true)
      page.withColumn("rn", row_number().over(
          Window.orderBy(col("rank").desc, col("id").asc)))
        .select(col("rn").cast("long").as("rn"), col("id"), round(col("rank"), 6).as("rank"))
    }, Some("""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | sc AS (SELECT CAST(vec_id AS VARCHAR) AS id,
              |          list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
              |        FROM embeddings, q)
              |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rn,
              |       id, round(sim, 6) AS rank
              |FROM sc ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin)),

    // vector search COMBINED with a metadata filter (reference supports
    // both in one query, core.py:506-516: where filters the scored set) —
    // the filter applies BEFORE ranking, so the page fills with qualifying
    // neighbors instead of dropping filtered ones from a pre-cut top-k
    ("q5b_vector_where", (s: SparkSession, sfDir: String) => {
      val q = queryVec(s, sfDir).mkString(",")
      val page = vecsColl(s, sfDir).queryFrame(q, limit = 10, vectorSearch = true,
        where = Map("label" -> Map("$gte" -> 5)))
      page.withColumn("rn", row_number().over(
          Window.orderBy(col("rank").desc, col("id").asc)))
        .select(col("rn").cast("long").as("rn"), col("id"), round(col("rank"), 6).as("rank"))
    }, Some("""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | sc AS (SELECT CAST(vec_id AS VARCHAR) AS id,
              |          list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
              |        FROM embeddings, q
              |        WHERE TRY_CAST(CAST(label AS VARCHAR) AS DOUBLE) >= 5)
              |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rn,
              |       id, round(sim, 6) AS rank
              |FROM sc ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin)),

    ("q6_meta_eq", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame(where = Map("lang" -> "de")).select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE lang = 'de'")),

    ("q7_meta_cmp_num", (s: SparkSession, sfDir: String) =>
      // numeric OPERAND -> numeric compare of the string metadata (core.py:272-287)
      mainColl(s, sfDir).queryFrame(where = Map("n_chars" -> Map("$gt" -> 300))).select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) > 300")),

    ("q7_meta_cmp_str", (s: SparkSession, sfDir: String) =>
      // string OPERAND -> lexicographic compare
      mainColl(s, sfDir).queryFrame(where = Map("source" -> Map("$gte" -> "src15"))).select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE source >= 'src15'")),

    ("q8_meta_in", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame(where = Map("lang" -> Map("$in" -> Seq("en", "zh")))).select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE lang IN ('en', 'zh')")),

    ("q8_meta_nin", (s: SparkSession, sfDir: String) =>
      // docs WITHOUT the key are excluded too: NULL NOT IN (...) -> NULL -> dropped
      // (reference test_sqlite.py:310-316 semantics)
      mainColl(s, sfDir).queryFrame(where = Map("opt" -> Map("$nin" -> Seq("1", "2")))).select("id"),
      Some(s"SELECT $DocId AS id FROM documents WHERE ($OptVal) NOT IN ('1', '2')")),

    ("q9_where_conj", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame("table",
        where = Map("lang" -> "en", "n_chars" -> Map("$gt" -> 300))).select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE ${hasTerm("table")} AND lang = 'en' AND n_chars > 300""".stripMargin)),

    ("q10_sort_nulls", (s: SparkSession, sfDir: String) => {
      // DESC => NULLS FIRST, ASC => NULLS LAST (core.py:312-315); both are the
      // OPPOSITE of Spark's defaults. rn pins the order (string compare!) of a
      // BOUNDED 250-row page — it crosses the null/non-null `opt` boundary at
      // every test sf (201/500 docs lack the key at sf0.01), so both NULLS
      // placements are exercised, and the rank filter lets Spark 4's
      // WindowGroupLimit keep the unpartitioned window off the full frame.
      val keys = Seq("-opt", "n_chars").map(SortKey.parse)
      val d = mainColl(s, sfDir).docs()
      d.withColumn("rn", row_number().over(
          Window.orderBy(Sorter.sortColumns(col("metadata"), keys, Seq(col("id").asc)): _*)))
        .filter(col("rn") <= 250)
        .select(col("rn").cast("long").as("rn"), col("id"))
    }, Some(s"""SELECT rn, id FROM (
               |  SELECT CAST(row_number() OVER (ORDER BY ($OptVal) DESC NULLS FIRST,
               |           CAST(n_chars AS VARCHAR) ASC NULLS LAST, $DocId ASC) AS BIGINT) AS rn,
               |         $DocId AS id
               |  FROM documents) WHERE rn <= 250""".stripMargin)),

    // Full-ordering checksum companion to q10 (ADVICE r5): the 250-row page
    // above keeps the WindowGroupLimit plan benefit; this entry pins the
    // COMPLETE ordering — including the pure non-null string-compare tail
    // the page no longer covers — as one order-sensitive aggregate (rn rides
    // inside each hash, so any permutation changes the checksum) without
    // emitting every row.
    ("q10b_sort_checksum", (s: SparkSession, sfDir: String) => {
      val keys = Seq("-opt", "n_chars").map(SortKey.parse)
      val d = mainColl(s, sfDir).docs()
      d.withColumn("rn", row_number().over(
          Window.orderBy(Sorter.sortColumns(col("metadata"), keys, Seq(col("id").asc)): _*)))
        .groupBy().agg(
          sum(conv(substring(md5(concat(col("rn").cast("string"), lit("|"), col("id"))),
            1, 15), 16, 10).cast("decimal(38,0)")).cast("string").as("checksum"))
    }, Some(s"""WITH r AS (
               |  SELECT CAST(row_number() OVER (ORDER BY ($OptVal) DESC NULLS FIRST,
               |           CAST(n_chars AS VARCHAR) ASC NULLS LAST, $DocId ASC) AS BIGINT) AS rn,
               |         $DocId AS id
               |  FROM documents)
               |SELECT CAST(SUM(CAST(CAST(('0x' || substr(md5(CAST(rn AS VARCHAR) || '|' || id), 1, 15)) AS UBIGINT) AS HUGEINT)) AS VARCHAR) AS checksum
               |FROM r""".stripMargin)),

    ("q11_limit_offset", (s: SparkSession, sfDir: String) =>
      // deterministic slice through the REAL pagination path (limit/offset
      // after sort with id tiebreak; limit=0 would mean unlimited, core.py:327-333)
      mainColl(s, sfDir).queryFrame(orderBy = Seq("-n_chars"), limit = 7, offset = 5).select("id"),
      Some(s"""SELECT id FROM (
              |  SELECT $DocId AS id FROM documents
              |  ORDER BY CAST(n_chars AS VARCHAR) DESC NULLS FIRST, $DocId ASC
              |  LIMIT 7 OFFSET 5)""".stripMargin)),

    ("q12_total", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      // total = PRE-limit match count even when the page is smaller (SURVEY §7.4)
      val r = mainColl(s, sfDir).query("table", limit = 3)
      Seq((r.total, r.results.size.toLong)).toDF("total", "page_rows")
    }, Some(s"SELECT COUNT(*) AS total, CAST(3 AS BIGINT) AS page_rows FROM documents WHERE ${hasTerm("table")}")),

    ("q13_projection", (s: SparkSession, sfDir: String) =>
      // fixed projection id/content/metadata, metadata decoded (core.py:346-358);
      // scan path => rank IS NULL for every row
      mainColl(s, sfDir).queryFrame(limit = 5)
        .select(col("id"), col("content"),
          element_at(col("metadata"), "lang").as("lang"), col("rank").isNull.as("rank_absent")),
      Some(s"""SELECT $DocId AS id, text AS content, lang, true AS rank_absent
              |FROM documents ORDER BY $DocId ASC LIMIT 5""".stripMargin)),

    ("q14_get_scan", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).queryFrame(
        where = Map("lang" -> "fr"), orderBy = Seq("-n_chars"), limit = 5).select("id"),
      Some(s"""SELECT id FROM (
              |  SELECT $DocId AS id FROM documents WHERE lang = 'fr'
              |  ORDER BY CAST(n_chars AS VARCHAR) DESC NULLS FIRST, $DocId ASC
              |  LIMIT 5)""".stripMargin)),

    ("q15_fts_join", (s: SparkSession, sfDir: String) =>
      // the FTS⋈docs join surface: match set reunited with doc attributes
      mainColl(s, sfDir).queryFrame("customer")
        .select(col("id"), element_at(col("metadata"), "n_chars").as("n_chars_str")),
      Some(s"SELECT $DocId AS id, CAST(n_chars AS VARCHAR) AS n_chars_str FROM documents WHERE ${hasTerm("customer")}")),

    ("q16_validation", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      def msg(f: => Any): String =
        try { f; "NO ERROR" } catch { case e: Exception => e.getMessage }
      val c = mainColl(s, sfDir)
      val root = tempDirCleanedOnExit("graft-q16-")
      val noFts = Collection(s, root, "nofts", useFts = false)
      noFts.add(Seq("doc"), ids = Some(Seq("a")))
      Seq(
        ("order_by_with_vector", msg(c.query("x", vectorSearch = true, orderBy = Seq("k")))),
        ("vector_without_embedder", msg(c.query("x", vectorSearch = true))),
        ("fts_disabled", msg(noFts.query("word"))),
        ("invalid_operator", msg(c.query(where = Map("k" -> Map("$bad" -> 1))))),
        ("invalid_collection_name", msg(Collection(s, root, "bad name")))
      ).toDF("vcase", "message")
    }, Some("""SELECT * FROM (VALUES
              | ('order_by_with_vector', 'Cannot use order_by with vector search.'),
              | ('vector_without_embedder', 'Vector search requires an embedding function.'),
              | ('fts_disabled', 'This collection does not support full-text search.'),
              | ('invalid_operator', 'Invalid operator $bad. Valid operators are $eq, $gt, $lt, $gte, $lte, $in, $nin.'),
              | ('invalid_collection_name', 'requirement failed: Invalid collection name: ''bad name''. Only letters, numbers, and -_+~#=/ are allowed.')
              |) AS t(vcase, message)""".stripMargin)),

    // Diacritic folding (fts5 `unicode61 remove_diacritics` parity,
    // reference core.py:461): the corpus gets accents injected
    // deterministically (translate a->á, e->é), the collection indexes with
    // foldAccents=true, and an accented QUERY ('cüstomer') must match — the
    // oracle replays the fold with DuckDB strip_accents over the same
    // accented text. Exercises both sides: index tokenizer and query terms.
    ("q17_fts_fold", (s: SparkSession, sfDir: String) =>
      foldedColl(s, sfDir).queryFrame("cüstomer").select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE doc_id % 10 = 0 AND len(list_filter(
              |    list_filter(regexp_split_to_array(
              |      lower(strip_accents(translate(text, 'ae', 'áé'))), '[^a-z0-9]+'),
              |      t -> t <> ''),
              |    t -> t = 'customer')) > 0""".stripMargin)),

    // =========================================================================
    // ext/: dedup, ANN, text analysis, multimodal, streaming
    // =========================================================================

    // SQL surface: the same native expressions reached through spark.sql
    // after GraftFunctions.register (the SparkSessionExtensions path for
    // pre-existing sessions). Oracle replays the MD5 SimHash bit-for-bit.
    ("f1_sql_simhash", (s: SparkSession, sfDir: String) => {
      graft.plans.GraftFunctions.register(s)
      docsFrame(s, sfDir)
        .select(col("id"), graft.functions.TextFunctions.tokens(col("content")).as("toks"))
        .createOrReplaceTempView("graft_docs_v")
      s.sql("""SELECT id, lpad(lower(hex(graft_simhash64(toks))), 16, '0') AS simhash_hex
              |FROM graft_docs_v""".stripMargin)
    }, Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | th AS (SELECT id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h
              |        FROM (SELECT id, unnest(w) AS t FROM toks)),
              | bits AS (SELECT id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              |          FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2)
              |SELECT id, lpad(lower(to_hex(CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS UBIGINT) << i) ELSE 0 END) AS UBIGINT))), 16, '0') AS simhash_hex
              |FROM bits GROUP BY id""".stripMargin)),

    ("x1_dedup_exact", (s: SparkSession, sfDir: String) => {
      // inject exact copies of doc_id < 50 under ids 'd<id>'
      val d = docsFrame(s, sfDir).select("id", "content")
      val dups = d.filter(col("id").cast("long") < 50)
        .select(concat(lit("d"), col("id")).as("id"), col("content"))
      Dedup.exactDupPairs(d.unionByName(dups))
    }, Some("""SELECT CAST(doc_id AS VARCHAR) AS keep_id, 'd' || CAST(doc_id AS VARCHAR) AS dup_id
              |FROM documents WHERE doc_id < 50""".stripMargin)),

    ("x1b_dedup_apply", (s: SparkSession, sfDir: String) => {
      // apply step: injected copies dropped, originals (smallest ids) kept
      val d = docsFrame(s, sfDir).select("id", "content")
      val dups = d.filter(col("id").cast("long") < 50)
        .select(concat(lit("d"), col("id")).as("id"), col("content"))
      Dedup.dropExactDups(d.unionByName(dups)).select("id")
    }, Some(s"SELECT $DocId AS id FROM documents")),

    ("x2_dedup_minhash", (s: SparkSession, sfDir: String) =>
      Dedup.minHashDupPairs(docsFrame(s, sfDir), threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Some(ngramJaccardOracle(0.8))),

    ("x4_dedup_ngram", (s: SparkSession, sfDir: String) =>
      Dedup.ngramJaccardPairs(docsFrame(s, sfDir), threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Some(ngramJaccardOracle(0.8))),

    ("x3_dedup_simhash", (s: SparkSession, sfDir: String) =>
      Dedup.simHashDupPairs(docsFrame(s, sfDir), maxHamming = 3),
      Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | th AS (SELECT id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h
              |        FROM (SELECT id, unnest(w) AS t FROM toks)),
              | bits AS (SELECT id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              |          FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
              | sh AS (SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS UBIGINT) << i) ELSE 0 END) AS UBIGINT) AS sim
              |        FROM bits GROUP BY 1)
              |SELECT a.id AS id_a, b.id AS id_b,
              |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.id < b.id
              |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin)),

    ("x2b_dedup_pipeline", (s: SparkSession, sfDir: String) =>
      // the one-call pipeline: exact ∪ minhash pairs → clusters → keep the
      // min-id root per cluster (oracle replays exact Jaccard + recursive
      // CTE clustering; this corpus has no byte-identical docs, so the
      // exact-pair arm is ∅ here — its semantics are pinned by ExtSpec)
      Dedup.dedupCorpus(docsFrame(s, sfDir)).select("id"),
      Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
              | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
              | reach AS (SELECT s, d FROM edges
              |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),
              | cl AS (SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s)
              |SELECT $DocId AS id FROM documents
              |WHERE $DocId NOT IN (SELECT id FROM cl WHERE id <> cluster)""".stripMargin)),

    ("x2c_dedup_keep_best", (s: SparkSession, sfDir: String) =>
      // quality-aware cluster dedup: keep the LONGEST doc per duplicate
      // cluster (score = n_chars) instead of the arbitrary min-id root —
      // same recursive-CTE cluster replay as x2b plus the winner window
      Dedup.dedupCorpusBy(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"),
            col("text").as("content"), col("n_chars")),
        scoreCol = "n_chars").select("id", "n_chars"),
      Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
              | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
              | reach AS (SELECT s, d FROM edges
              |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),
              | cl AS (SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s),
              | sc AS (SELECT cl.id, cl.cluster, d.n_chars FROM cl
              |   JOIN (SELECT $DocId AS id, n_chars FROM documents) d ON cl.id = d.id),
              | losers AS (SELECT id FROM (SELECT id, ROW_NUMBER() OVER (
              |     PARTITION BY cluster ORDER BY n_chars DESC, id ASC) AS rn FROM sc)
              |   WHERE rn > 1)
              |SELECT $DocId AS id, n_chars FROM documents
              |WHERE $DocId NOT IN (SELECT id FROM losers)""".stripMargin)),

    ("x4b_dedup_clusters", (s: SparkSession, sfDir: String) => {
      // cluster-level dedup: connected components (min reachable id) over
      // the exact near-dup pair graph
      val pairs = Dedup.ngramJaccardPairs(docsFrame(s, sfDir), threshold = 0.8)
      Dedup.dupClusters(pairs)
    }, Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
               | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
               | reach AS (SELECT s, d FROM edges
               |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s)
               |SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s""".stripMargin)),

    ("x5_dedup_cosine", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      // numTables=0 => exact all-pairs baseline (the oracle-checkable variant;
      // x5b runs the LSH-bucketed scale path)
      Dedup.embeddingDupPairs(e, threshold = 0.46, numTables = 0)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }, Some("""SELECT a.id AS id_a, b.id AS id_b, round(c, 6) AS cos FROM (
              |  SELECT CAST(a.vec_id AS VARCHAR) AS id, a.embedding FROM embeddings a) a
              |JOIN (SELECT CAST(vec_id AS VARCHAR) AS id, embedding FROM embeddings) b ON a.id < b.id
              |CROSS JOIN LATERAL (SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c)
              |WHERE c >= 0.46""".stripMargin)),

    // LSH recall < 1 by design, so the pair set itself is not oracle-able —
    // instead gate the two properties that ARE exact: no false positives
    // (LSH pairs ⊆ the exact-cosine pair set) and recall ≥ 0.8 at these
    // (numTables, numPlanes) on this corpus.
    ("x5b_dedup_cosine_lsh", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val lsh = Dedup.embeddingDupPairs(e, threshold = 0.46, numTables = 16, numPlanes = 4)
        .select("id_a", "id_b").persist()
      val exact = Dedup.embeddingDupPairs(e, threshold = 0.46, numTables = 0)
        .select("id_a", "id_b").persist()
      try {
        val falsePos = lsh.join(exact, Seq("id_a", "id_b"), "left_anti").count()
        val hits = lsh.join(exact, Seq("id_a", "id_b"), "left_semi").count()
        val total = exact.count()
        Seq(("no_false_positives", falsePos == 0L),
          ("recall_ge_0.8", total == 0L || hits.toDouble / total >= 0.8))
          .toDF("metric", "ok")
      } finally { lsh.unpersist(); exact.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('no_false_positives', true), ('recall_ge_0.8', true)
              |) AS t(metric, ok)""".stripMargin)),

    // Prebuilt (persistable) LSH index: the store-frame roundtrip must probe
    // identically to the per-call Ann.lshTopK path — same planes, same
    // candidates, same rerank.
    ("x7b_ann_index", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      val direct = Ann.lshTopK(e, qs, k = 10, numTables = 16, numPlanes = 4, dim = 64)
      val ix = graft.ext.LshIndex.fromStoreFrame(
        graft.ext.LshIndex.build(e, numTables = 16, numPlanes = 4, dim = 64).toStoreFrame).get
      val via = ix.topK(e, qs, k = 10)
      val sym = via.unionByName(direct).distinct().count()
      val eq = sym == direct.count() && via.count() == direct.count()
      Seq(("prebuilt_equals_percall", eq)).toDF("metric", "ok")
    }, Some("SELECT 'prebuilt_equals_percall' AS metric, true AS ok")),

    // F2: the ANN planner rewrite (plans/AnnRewrite.scala) as a driver-
    // checkable gate. Registering an LSH index for a corpus parquet path
    // must (a) rewrite the exact cosine-top-k plan into a candidate semi
    // join, (b) return exactly the prebuilt index's own topK (same
    // candidate set, same exact rerank, same tie-break), and (c) keep
    // recall >= 0.9 vs the unrewritten exact ranking (x7's gate, same LSH
    // params). The unregistered plan must stay semi-join-free.
    ("f2_ann_rewrite", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      import graft.plans.AnnCatalog
      AnnCatalog.install(s)
      val path = tempDirCleanedOnExit("graft-f2-") + "/corpus.parquet"
      readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
        .write.mode("overwrite").parquet(path)
      val corpus = s.read.parquet(path)
      val qs = queryVecs(s, sfDir, 5)
      def topK(q: Seq[Float], k: Int): DataFrame = corpus
        .withColumn("sim", graft.functions.VectorFunctions.cosine(
          col("embedding"), graft.functions.VectorFunctions.vecLit(q)))
        .orderBy(col("sim").desc, col("id").asc)
        .limit(k)
      def hasSemi(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.exists {
        case j: LJoin => j.joinType == LeftSemi
        case _ => false
      }
      val exact = Ann.exactTopK(corpus, qs, k = 10)
        .select("qid", "rn", "id").persist()
      val cleanPlan = !hasSemi(topK(qs.head._2, 10))
      val ix = graft.ext.LshIndex.build(corpus, numTables = 16, numPlanes = 4, dim = 64)
      AnnCatalog.register(s, path,
        AnnCatalog.Entry("id", "embedding", AnnCatalog.LshRegistered(ix)))
      try {
        val perQuery = qs.map { case (qid, q) => (qid, topK(q, 10)) }
        val applied = perQuery.forall { case (_, df) => hasSemi(df) }
        // bounded: 5 queries x 10 rows driver-side
        val rewritten = perQuery.flatMap { case (qid, df) =>
          df.select("id").as[String].collect().toSeq.zipWithIndex
            .map { case (id, i) => (qid, (i + 1).toLong, id) }
        }.toDF("qid", "rn", "id").persist()
        val viaIx = ix.topK(corpus, qs, k = 10).select("qid", "rn", "id").persist()
        try {
          val eqIx = rewritten.exceptAll(viaIx).isEmpty &&
            rewritten.count() == viaIx.count()
          val rec = Ann.recallAtK(exact, rewritten)
          Seq(("clean_plan_before_register", cleanPlan),
            ("rewrite_applied", applied),
            ("equals_index_topk", eqIx),
            ("recall_ge_0.9", rec >= 0.9)).toDF("metric", "ok")
        } finally { rewritten.unpersist(); viaIx.unpersist(); exact.unpersist() }
      } finally AnnCatalog.unregister(s, path)
    }, Some("""SELECT * FROM (VALUES ('clean_plan_before_register', true),
              |  ('rewrite_applied', true), ('equals_index_topk', true),
              |  ('recall_ge_0.9', true)) AS t(metric, ok)""".stripMargin)),

    // F3: SQL table functions — the persisted store queried from plain SQL
    // (graft_search composes with an outer join + metadata predicate inside
    // one Catalyst plan). Oracle replays the FTS match + lang filter.
    ("f3_sql_table_fn", (s: SparkSession, sfDir: String) => {
      graft.plans.GraftFunctions.registerTables(s)
      val root = fixtureRoot(s, sfDir)
      s.sql(
        s"""SELECT s.id, d.content FROM graft_search('$root', 'main', 'customer') s
           |JOIN graft_docs('$root', 'main') d ON s.id = d.id
           |WHERE element_at(d.metadata, 'lang') = 'en'""".stripMargin)
    }, Some(s"""SELECT $DocId AS id, text AS content FROM documents
               |WHERE ${hasTerm("customer")} AND lang = 'en'""".stripMargin)),

    // X98: phrase search — token-adjacency semantics (fts5 quoted phrase;
    // the reference parser strips quotes to AND terms). Oracle replays
    // adjacency as a separator-run regex on the normalized text: tokens are
    // adjacent iff only non-letter/digit chars lie between them. The
    // separator class mirrors the engine tokenizer's [^\p{L}\p{N}]
    // (TextFunctions.SeparatorRegex) so the gate holds on non-ASCII text too.
    ("x98_phrase_search", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).phraseSearch("table hash").select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE regexp_matches(lower(text),
              |  '(^|[^\\p{L}\\p{N}])table[^\\p{L}\\p{N}]+hash([^\\p{L}\\p{N}]|$$)')""".stripMargin)),

    // X106: extended query language — phrase/near leaves composed with
    // or/and inside ONE boolean query; oracle replays each leaf
    // independently (regex adjacency, position-window, token membership).
    ("x106_extended_query", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).extendedQueryFrame("\"table hash\" or customer").select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE regexp_matches(lower(text),
              |    '(^|[^\\p{L}\\p{N}])table[^\\p{L}\\p{N}]+hash([^\\p{L}\\p{N}]|$$)')
              |  OR ${hasTerm("customer")}""".stripMargin)),

    // X106c: NOT + parentheses in the extended grammar — a paren-grouped OR
    // under a binary NOT whose excluded side is a phrase leaf. The oracle
    // replays both leaves (token membership; regex adjacency) and the
    // boolean shape ((customer | small) NOT "table hash") in DuckDB.
    ("x106c_extended_not", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir)
        .extendedQueryFrame("(customer or small) not \"table hash\"").select("id"),
      Some(s"""SELECT $DocId AS id FROM documents
              |WHERE (${hasTerm("customer")} OR ${hasTerm("small")})
              |  AND NOT regexp_matches(lower(text),
              |    '(^|[^\\p{L}\\p{N}])table[^\\p{L}\\p{N}]+hash([^\\p{L}\\p{N}]|$$)')""".stripMargin)),

    ("x106b_extended_near", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).extendedQueryFrame("near(table hash, 3) and small").select("id"),
      Some(s"""WITH toks AS (SELECT doc_id, $Toks AS w FROM documents),
              | pa AS (SELECT doc_id, i FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
              |   WHERE w[i] = 'table'),
              | pb AS (SELECT doc_id, i FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
              |   WHERE w[i] = 'hash'),
              | sp AS (SELECT pa.doc_id, min(abs(pa.i - pb.i)) AS span
              |   FROM pa JOIN pb USING (doc_id) GROUP BY 1)
              |SELECT $DocId AS id FROM documents
              |WHERE doc_id IN (SELECT doc_id FROM sp WHERE span <= 3)
              |  AND ${hasTerm("small")}""".stripMargin)),

    // X105: index introspection — df-heaviest terms + dictionary/corpus
    // stats; oracle recomputes the whole report from the documents table.
    ("x105_index_stats", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).indexStats(topK = 10),
      Some(s"""WITH toks AS (SELECT doc_id, $Toks AS w FROM documents),
              | td AS (SELECT DISTINCT doc_id, t FROM (SELECT doc_id, unnest(w) AS t FROM toks)),
              | df AS (SELECT t, count(*) AS df FROM td GROUP BY 1),
              | tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
              |   (SELECT count(DISTINCT t) FROM td) AS n_terms,
              |   (SELECT count(*) FROM td) AS n_postings,
              |   (SELECT avg(len(w)) FROM toks) AS avg_dl),
              | top AS (SELECT t AS term, df,
              |   ROW_NUMBER() OVER (ORDER BY df DESC, t ASC) AS rn FROM df)
              |SELECT rn, term, df, n_docs, n_terms, n_postings, round(avg_dl, 6) AS avg_dl
              |FROM top, tot WHERE rn <= 10""".stripMargin)),

    // X104: proximity search — NEAR(table hash, 3): both terms within a
    // 3-token window, order-insensitive. Oracle replays positions via
    // unnest(range) and min |pa − pb|.
    ("x104_near_search", (s: SparkSession, sfDir: String) =>
      mainColl(s, sfDir).nearSearch("table hash", maxSpan = 3).select("id"),
      Some(s"""WITH toks AS (SELECT doc_id, $Toks AS w FROM documents),
              | pa AS (SELECT doc_id, i FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
              |   WHERE w[i] = 'table'),
              | pb AS (SELECT doc_id, i FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
              |   WHERE w[i] = 'hash'),
              | sp AS (SELECT pa.doc_id, min(abs(pa.i - pb.i)) AS span
              |   FROM pa JOIN pb USING (doc_id) GROUP BY 1)
              |SELECT CAST(doc_id AS VARCHAR) AS id FROM sp WHERE span <= 3""".stripMargin)),

    // X99: web-provenance — registrable-domain report over synthesized URLs
    // (source × doc_id%23 domains, every 5th on a multi-part .co.uk suffix).
    // Oracle re-derives the domain with DuckDB list slicing.
    ("x99_domain_report", (s: SparkSession, sfDir: String) =>
      Web.domainReport(urlDocs(s, sfDir))
        .select(col("domain"), col("n_docs"), col("n_chars"),
          round(col("share"), 6).as("share")),
      Some(s"""WITH dom AS (SELECT CASE
              |    WHEN array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') = 'co.uk'
              |    THEN array_to_string((string_split(${UrlHost}, '.'))[-3:], '.')
              |    ELSE array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') END AS domain,
              |  len(text) AS chars FROM documents)
              |SELECT domain, count(*) AS n_docs, CAST(sum(chars) AS BIGINT) AS n_chars,
              |  round(count(*) / (SELECT count(*) FROM documents), 6) AS share
              |FROM dom GROUP BY 1""".stripMargin)),

    // X101: time-travel read — base + one upsert delta, both eras readable;
    // the oracle re-derives each era's contents from the documents table.
    // directUpsertMaxBytes=0 forces the delta path (a direct merge would
    // fold history by design); compact.auto=false pins the layout.
    ("x101_time_travel", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-tt-")
      s.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
      s.conf.set("spark.graft.compact.auto", "false")
      try {
        val c = Collection(s, root, "tt")
        c.addDf(docsFrame(s, sfDir).select("id", "content"))
        c.addDf(docsFrame(s, sfDir).filter(col("id").cast("long") % 7 === 0)
          .select(col("id"), concat(col("content"), lit(" v2")).as("content")))
        c.docsAsOf(0).select(lit("v0").as("era"), col("id"), md5(col("content")).as("h"))
          .unionByName(c.docs()
            .select(lit("latest").as("era"), col("id"), md5(col("content")).as("h")))
      } finally {
        s.conf.unset("spark.graft.store.directUpsertMaxBytes")
        s.conf.set("spark.graft.compact.auto", "true")
      }
    }, Some(s"""SELECT 'v0' AS era, $DocId AS id, md5(text) AS h FROM documents
               |UNION ALL
               |SELECT 'latest' AS era, $DocId AS id,
               |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
               |FROM documents""".stripMargin)),

    // X102: distribution drift between two corpus halves — top-20 tokens by
    // probability shift plus their JS terms; oracle replays the whole
    // derivation (per-side top-vocab, OOV lump, probabilities, JS).
    ("x102_distribution_drift", (s: SparkSession, sfDir: String) => {
      val docs = docsFrame(s, sfDir)
      val a = docs.filter(col("id").cast("long") % 2 === 0)
      val b = docs.filter(col("id").cast("long") % 2 === 1)
      val drift = TextStats.tokenDistributionDrift(a, b, vocabSize = 100)
      val w = Window.orderBy(abs(col("shift")).desc, col("token").asc)
      drift.withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
        .select(col("rn").cast("long").as("rn"), col("token"),
          round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
          round(col("shift"), 6).as("shift"), round(col("js_contrib"), 6).as("js_contrib"))
    }, Some(s"""WITH ta AS (SELECT unnest($Toks) AS token FROM documents WHERE doc_id % 2 = 0),
               | tb AS (SELECT unnest($Toks) AS token FROM documents WHERE doc_id % 2 = 1),
               | ca AS (SELECT token, count(*) AS cnt FROM ta GROUP BY 1),
               | cb AS (SELECT token, count(*) AS cnt FROM tb GROUP BY 1),
               | v AS (SELECT token FROM (SELECT token FROM ca ORDER BY cnt DESC, token LIMIT 100)
               |   UNION SELECT token FROM (SELECT token FROM cb ORDER BY cnt DESC, token LIMIT 100)),
               | j AS (SELECT v.token, coalesce(ca.cnt, 0) AS cnt_a, coalesce(cb.cnt, 0) AS cnt_b
               |   FROM v LEFT JOIN ca USING (token) LEFT JOIN cb USING (token)),
               | tot AS (SELECT (SELECT sum(cnt) FROM ca) AS tot_a, (SELECT sum(cnt) FROM cb) AS tot_b),
               | allr AS (SELECT * FROM j UNION ALL
               |   SELECT '__oov', (SELECT tot_a FROM tot) - (SELECT sum(cnt_a) FROM j),
               |     (SELECT tot_b FROM tot) - (SELECT sum(cnt_b) FROM j)),
               | p AS (SELECT token, cnt_a / (SELECT tot_a FROM tot) AS p_a,
               |   cnt_b / (SELECT tot_b FROM tot) AS p_b FROM allr),
               | q AS (SELECT token, p_a, p_b, p_b - p_a AS shift,
               |   (CASE WHEN p_a > 0 THEN 0.5 * p_a * ln(p_a / ((p_a + p_b) / 2)) ELSE 0 END +
               |    CASE WHEN p_b > 0 THEN 0.5 * p_b * ln(p_b / ((p_a + p_b) / 2)) ELSE 0 END) AS js
               |   FROM p),
               | r AS (SELECT q.*, ROW_NUMBER() OVER (ORDER BY abs(shift) DESC, token ASC) AS rn FROM q)
               |SELECT rn, token, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
               |  round(shift, 6) AS shift, round(js, 6) AS js_contrib
               |FROM r WHERE rn <= 20""".stripMargin)),

    // X107: snapshot diff over time travel — base, an upsert of the 7s, a
    // delete of the 13s; diff(0, latest) classifies every id. Same
    // forced-delta fixture discipline as x101.
    ("x107_snapshot_diff", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-sd-")
      s.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
      s.conf.set("spark.graft.compact.auto", "false")
      try {
        val c = Collection(s, root, "sd")
        c.addDf(docsFrame(s, sfDir).select("id", "content"))
        c.addDf(docsFrame(s, sfDir).filter(col("id").cast("long") % 7 === 0)
          .select(col("id"), concat(col("content"), lit(" v2")).as("content")))
        import s.implicits._
        c.delete(docsFrame(s, sfDir).filter(col("id").cast("long") % 13 === 0)
          .select("id").as[String].collect().toSeq)
        c.diffSnapshots(0, Long.MaxValue)
      } finally {
        s.conf.unset("spark.graft.store.directUpsertMaxBytes")
        s.conf.set("spark.graft.compact.auto", "true")
      }
    }, Some(s"""SELECT $DocId AS id, CASE
               |    WHEN doc_id % 13 = 0 THEN 'removed'
               |    WHEN doc_id % 7 = 0 THEN 'changed'
               |    ELSE 'unchanged' END AS status
               |FROM documents""".stripMargin)),

    // X108: in-place collection dedup — inject exact copies (d<id> of
    // doc_id<50), run c.dedup(), read back survivors. Injected copies sit
    // in their originals' clusters (digits sort before 'd', so the numeric
    // min-id survives), leaving exactly the x2b survivor set.
    ("x108_collection_dedup", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-cd-")
      val c = Collection(s, root, "cd")
      val d = docsFrame(s, sfDir).select("id", "content")
      val dups = d.filter(col("id").cast("long") < 50)
        .select(concat(lit("d"), col("id")).as("id"), col("content"))
      c.addDf(d.unionByName(dups))
      c.dedup()
      c.docs().select("id")
    }, Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
               | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
               | reach AS (SELECT s, d FROM edges
               |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),
               | cl AS (SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s)
               |SELECT $DocId AS id FROM documents
               |WHERE $DocId NOT IN (SELECT id FROM cl WHERE id <> cluster)""".stripMargin)),

    // X111: federated search across every collection of the fixture root —
    // 'main' matches on content, 'vecs' (contents "label N") contributes
    // nothing for this term; the collection column tags provenance.
    ("x111_federated_search", (s: SparkSession, sfDir: String) =>
      Collection.searchAll(s, fixtureRoot(s, sfDir), "customer")
        .select("collection", "id"),
      Some(s"""SELECT 'main' AS collection, $DocId AS id FROM documents
              |WHERE ${hasTerm("customer")}""".stripMargin)),

    // X111b: federated VECTOR search across the fixture root — 'main' has
    // no embedded docs (contributes zero rows through the exact arm);
    // 'vecs' has no persisted index, so vectorTopKAuto serves the exact
    // cosine top-k, which the oracle replays per query.
    ("x111b_federated_vector", (s: SparkSession, sfDir: String) => {
      val qs = queryVecs(s, sfDir, 3)
      Collection.vectorSearchAll(s, fixtureRoot(s, sfDir), qs, k = 5)
        .select(col("collection"), col("qid"), col("rn").cast("long").as("rn"),
          col("id"), round(col("sim"), 6).as("sim"))
    }, Some("""WITH q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS qe
              |   FROM embeddings WHERE vec_id < 3),
              | sc AS (SELECT q.qid, CAST(c.vec_id AS VARCHAR) AS id,
              |     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS sim
              |   FROM embeddings c CROSS JOIN q),
              | r AS (SELECT qid, id, sim,
              |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rn FROM sc)
              |SELECT 'vecs' AS collection, qid, CAST(rn AS BIGINT) AS rn, id,
              |  round(sim, 6) AS sim FROM r WHERE rn <= 5""".stripMargin)),

    // X111c: federated HYBRID search — per-collection RRF fusion, arms
    // degrading independently: 'main' has no embeddings (fuses to FTS
    // ranks alone, rn_vec NULL), 'vecs' content matches no query term
    // (fuses to vector ranks alone, rn_fts NULL). The oracle replays
    // BM25 + cosine + RRF for both collections.
    ("x111c_federated_hybrid", (s: SparkSession, sfDir: String) => {
      val q = queryVec(s, sfDir)
      Collection.hybridAll(s, fixtureRoot(s, sfDir), "customer", q,
          k = 10, depth = 50)
        .select(col("collection"), col("rn"), col("id"),
          round(col("rrf"), 6).as("rrf"),
          col("rn_fts").cast("long").as("rn_fts"),
          col("rn_vec").cast("long").as("rn_vec"))
    }, Some(s"""WITH toks AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | lens AS (SELECT id, len(w) AS dl FROM toks),
              | stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n, (SELECT AVG(len(w)) FROM toks) AS avgdl),
              | tf AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
              | dfp AS (SELECT t, COUNT(*) AS df FROM tf WHERE t = 'customer' GROUP BY 1),
              | sc AS (SELECT tf.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
              |          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
              |        FROM tf JOIN dfp USING(t) JOIN lens USING(id) CROSS JOIN stats
              |        WHERE tf.t = 'customer' GROUP BY tf.id),
              | fts AS (SELECT id, row_number() OVER (ORDER BY r DESC, id ASC) AS rn
              |         FROM sc ORDER BY r DESC, id ASC LIMIT 50),
              | mainf AS (SELECT 'main' AS collection,
              |     CAST(row_number() OVER (ORDER BY CAST(1.0 AS DOUBLE) / (60 + rn) DESC, id ASC) AS BIGINT) AS rn,
              |     id, round(CAST(1.0 AS DOUBLE) / (60 + rn), 6) AS rrf,
              |     CAST(rn AS BIGINT) AS rn_fts, CAST(NULL AS BIGINT) AS rn_vec
              |   FROM fts ORDER BY rrf DESC, id ASC LIMIT 10),
              | q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | vsc AS (SELECT CAST(vec_id AS VARCHAR) AS id,
              |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
              |         FROM embeddings, q),
              | vec AS (SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rn
              |         FROM vsc ORDER BY sim DESC, id ASC LIMIT 50),
              | vecf AS (SELECT 'vecs' AS collection,
              |     CAST(row_number() OVER (ORDER BY CAST(1.0 AS DOUBLE) / (60 + rn) DESC, id ASC) AS BIGINT) AS rn,
              |     id, round(CAST(1.0 AS DOUBLE) / (60 + rn), 6) AS rrf,
              |     CAST(NULL AS BIGINT) AS rn_fts, CAST(rn AS BIGINT) AS rn_vec
              |   FROM vec ORDER BY rrf DESC, id ASC LIMIT 10)
              |SELECT * FROM mainf UNION ALL SELECT * FROM vecf""".stripMargin)),

    // X107b: store catalog listing (the shared fixture root holds exactly
    // the 'main' and 'vecs' collections).
    ("x107b_list_collections", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      Collection.list(s, fixtureRoot(s, sfDir)).toDF("name")
    }, Some("SELECT * FROM (VALUES ('main'), ('vecs')) AS t(name)")),

    // X100: count-min-sketch frequency probes — CMS guarantees (no
    // underestimate; overestimate ≤ eps·N) checked against the exact counts
    // both engines compute. The sketch is seed-deterministic, so the gate
    // is stable run-to-run.
    ("x100_freq_sketch", (s: SparkSession, sfDir: String) => {
      val d = docsFrame(s, sfDir)
      val probes = Seq("table", "hash", "customer", "join", "vector", "zz9qq8notatoken")
      val est = TextStats.freqSketchProbe(d, probes, eps = 0.001, confidence = 0.99)
      val exact = d.select(explode(TextFunctions.tokens(col("content"))).as("token"))
        .filter(col("token").isin(probes: _*))
        .groupBy("token").agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("token"), "left")
        .select(col("token"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"),
          (col("est_count") >= coalesce(col("exact_count"), lit(0L))).as("ge_exact"),
          (col("est_count") <= coalesce(col("exact_count"), lit(0L))
            + ceil(lit(0.001) * col("n_tokens")).cast("long")).as("within_bound"))
    }, Some(s"""WITH t AS (SELECT unnest($Toks) AS token FROM documents),
               | c AS (SELECT token, count(*) AS exact_count FROM t GROUP BY 1)
               |SELECT p.token, CAST(coalesce(c.exact_count, 0) AS BIGINT) AS exact_count,
               |  true AS ge_exact, true AS within_bound
               |FROM (VALUES ('table'),('hash'),('customer'),('join'),('vector'),
               |  ('zz9qq8notatoken')) p(token)
               |LEFT JOIN c ON p.token = c.token""".stripMargin)),

    // X99b: per-domain cap (RefinedWeb-style) — keep ≤ 3 docs/domain by
    // deterministic md5(id) rank; both engines replay the same rank.
    ("x99b_domain_cap", (s: SparkSession, sfDir: String) =>
      Web.capPerDomain(urlDocs(s, sfDir), maxPerDomain = 3).select("id"),
      Some(DomainCapOracle)),

    // X99c: registrable domains under a LOADED public-suffix list — the
    // loader's file-format parse (plain/wildcard/exception/deep rules) and
    // the PSL longest-match precedence, against an INDEPENDENT rule-level
    // oracle (the expected domain per synthesized family, not a replay of
    // the engine's label algebra). Families: exact 2-label private rule
    // (github.io) at two host depths, a 2-label ccTLD rule (co.kr), a
    // wildcard (*.ck), its exception (!www.ck), a 4-label rule
    // (pvt.k12.ma.us), and the take-2 default.
    ("x99c_psl_domains", (s: SparkSession, sfDir: String) => {
      val pslDir = tempDirCleanedOnExit("graft-x99c-")
      val psl = java.nio.file.Paths.get(pslDir, "psl.dat")
      java.nio.file.Files.write(psl, java.util.Arrays.asList(
        "// fixture in the publicsuffix.org list format",
        "com", "io", "kr", "ck", "us",
        "co.kr", "github.io", "pvt.k12.ma.us",
        "*.ck", "!www.ck"))
      val rules = Web.loadSuffixes(psl.toString)
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("doc_id").cast("long").as("n"))
      val url = when(col("n") % 7 === 0,
          concat(lit("https://user"), col("id"), lit(".github.io/p")))
        .when(col("n") % 7 === 1,
          concat(lit("https://a.user"), col("id"), lit(".github.io/x")))
        .when(col("n") % 7 === 2,
          concat(lit("https://shop"), (col("n") % 50).cast("string"),
            lit(".daum.co.kr/item")))
        .when(col("n") % 7 === 3,
          concat(lit("http://x"), col("id"), lit(".foo.ck/p")))
        .when(col("n") % 7 === 4,
          concat(lit("http://a"), col("id"), lit(".www.ck/p")))
        .when(col("n") % 7 === 5,
          concat(lit("https://x"), col("id"), lit(".school.pvt.k12.ma.us/")))
        .otherwise(concat(lit("https://www.example"),
          (col("n") % 30).cast("string"), lit(".com/a")))
      d.select(col("id"),
        Web.registrableDomain(url, rules).as("domain"))
    }, Some("""SELECT CAST(doc_id AS VARCHAR) AS id,
              |  CASE
              |    WHEN doc_id % 7 = 0 THEN 'user' || CAST(doc_id AS VARCHAR) || '.github.io'
              |    WHEN doc_id % 7 = 1 THEN 'user' || CAST(doc_id AS VARCHAR) || '.github.io'
              |    WHEN doc_id % 7 = 2 THEN 'daum.co.kr'
              |    WHEN doc_id % 7 = 3 THEN 'x' || CAST(doc_id AS VARCHAR) || '.foo.ck'
              |    WHEN doc_id % 7 = 4 THEN 'www.ck'
              |    WHEN doc_id % 7 = 5 THEN 'school.pvt.k12.ma.us'
              |    ELSE 'example' || CAST(doc_id % 30 AS VARCHAR) || '.com'
              |  END AS domain
              |FROM documents""".stripMargin)),

    // X103: the STREAMING per-key quota in its batch/backfill mode — same
    // md5 admission rank, so the survivor set equals the batch cap's
    // exactly (the multi-micro-batch path is pinned stream-vs-batch in
    // ExtSpec, the dedupStream convention).
    ("x103_stream_cap", (s: SparkSession, sfDir: String) =>
      EventStreams.capPerKeyStream(
        urlDocs(s, sfDir).select(Web.registrableDomain(col("url")).as("domain"), col("id")),
        "domain", "id", cap = 3).select("id"),
      Some(DomainCapOracle)),

    ("x6_ann_exact", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      Ann.exactTopK(e, qs, k = 10)
        .select(col("qid"), col("rn").cast("long").as("rn"), col("id"),
          round(col("sim"), 6).as("sim"))
    }, Some("""WITH q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS e FROM embeddings WHERE vec_id < 5),
              | sc AS (SELECT q.qid, CAST(c.vec_id AS VARCHAR) AS id,
              |          list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.e AS DOUBLE[])) AS sim
              |        FROM embeddings c CROSS JOIN q),
              | rk AS (SELECT qid, id, sim,
              |          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS BIGINT) AS rn
              |        FROM sc)
              |SELECT qid, rn, id, round(sim, 6) AS sim FROM rk WHERE rn <= 10""".stripMargin)),

    // IVF recall gate: on this corpus's isotropic-random embeddings (the
    // ANN worst case — no cluster structure to exploit; intra-label cosine
    // ≈ inter ≈ 0) recall tracks the scanned fraction, so the gate pins the
    // PLUMBING (train → assign → probe → rerank yields true neighbors at
    // the expected rate), like x5b/x7. Measured: 0.84 @ sf0.01, 0.86 @
    // sf0.1 with k=16, nprobe=10.
    ("x6b_ann_ivf_recall", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      val exact = Ann.exactTopK(e, qs, k = 10)
      val ix = Ivf.build(e, k = 16, iters = 5, maxSample = 20000)
      val approx = ix.topK(e, qs, k = 10, nprobe = 10)
      val rec = Ann.recallAtK(exact, approx)
      // store round-trip is part of the pinned surface: the persisted
      // assignments + centroid frames must reconstruct an equivalent index
      val rt = graft.ext.IvfIndex.fromStoreFrames(ix.toStoreFrame, ix.centroidsFrame)
      // SYMMETRIC equality: one-directional exceptAll alone would pass a
      // roundtrip that silently lost rows (subset, or empty, of the direct
      // result); multiset-equal = one direction empty AND counts equal
      val rtF = rt.topK(e, qs, k = 10, nprobe = 10).select("qid", "rn", "id")
      val apF = approx.select("qid", "rn", "id")
      val rtSame = rtF.exceptAll(apF).isEmpty && rtF.count() == apF.count()
      Seq(("recall_at_10", rec >= 0.8), ("store_roundtrip", rtSame))
        .toDF("metric", "ok")
    }, Some("SELECT 'recall_at_10' AS metric, true AS ok UNION ALL SELECT 'store_roundtrip', true ORDER BY metric")),

    // Collection-level IVF index (the data-adaptive sibling of x7b):
    // createVectorIndex(kind="ivf") must probe identically to the per-call
    // Ivf path on the same corpus; delta maintenance must keep the resolved
    // assignments EXACTLY equal to a fresh assignment of the current docs
    // against the stored centroids; and the recall gate must survive the
    // maintained upsert.
    ("x6c_ivf_index", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val root = tempDirCleanedOnExit("graft-x6c-")
      val c = Collection(s, root, "vecs", useFts = false)
      c.addDf(e.withColumn("content", lit("")))
      c.createVectorIndex(kind = "ivf", numCentroids = 16, iters = 5,
        maxSample = 20000, nprobe = 10)
      val qs = queryVecs(s, sfDir, 5)
      val via = c.vectorTopK(qs, 10).select("qid", "rn", "id").persist()
      val direct = Ivf.build(e, k = 16, iters = 5, maxSample = 20000)
        .topK(e, qs, k = 10, nprobe = 10).select("qid", "rn", "id").persist()
      try {
        val eq1 = via.exceptAll(direct).isEmpty && via.count() == direct.count()
        // upsert 50 duplicated vectors under new ids — the O(batch) delta
        // re-assigns them against the STORED centroids
        c.addDf(e.limit(50).select(concat(lit("dup_"), col("id")).as("id"),
          lit("").as("content"), col("embedding")))
        val ix = c.ivfIndex().get
        val resolved = ix.assignments.persist()
        val fresh = Ivf.assign(c.docs(), ix.centroids).persist()
        try {
          val eq2 = resolved.exceptAll(fresh).isEmpty &&
            fresh.exceptAll(resolved).isEmpty
          val rec = Ann.recallAtK(Ann.exactTopK(c.docs(), qs, k = 10),
            c.vectorTopK(qs, 10))
          Seq(("delta_assignments_exact", eq2),
            ("prebuilt_equals_percall", eq1),
            ("recall_after_delta_ge_0.8", rec >= 0.8)).toDF("metric", "ok")
        } finally { resolved.unpersist(); fresh.unpersist() }
      } finally { via.unpersist(); direct.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('delta_assignments_exact', true),
              |  ('prebuilt_equals_percall', true),
              |  ('recall_after_delta_ge_0.8', true)) AS t(metric, ok)""".stripMargin)),

    // Collection-level IVF-PQ composite index (the FAISS IVFPQ shape —
    // coarse lists partition the PQ codes so a probe ADC-scans
    // ~nprobe/numCentroids of them): delta maintenance must keep the
    // resolved (id, cluster, codes) rows EXACTLY equal to a fresh
    // assign+encode of the current docs against the STORED centroids and
    // codebooks; candidates must come only from probed lists (implied by
    // the row equality + probe construction); and the recall gate must
    // survive the maintained upsert.
    ("x6d_ivfpq_index", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val root = tempDirCleanedOnExit("graft-x6d-")
      val c = Collection(s, root, "vecs", useFts = false)
      c.addDf(e.withColumn("content", lit("")))
      c.createVectorIndex(kind = "ivfpq", numCentroids = 16, nprobe = 10,
        m = 16, candK = 100, iters = 5, maxSample = 20000)
      val qs = queryVecs(s, sfDir, 5)
      // ONE recall evaluation, post-delta (the r18 bench-tail trim): the
      // post-delta gate transitively requires a good BUILD too — 50 dup
      // vectors cannot lift a broken index over 0.8 — so the pre-delta
      // recall pass (a second full-corpus exact top-k + probe) bought no
      // extra oracle coverage; build-quality-only recall runs in x6c/x50b
      // and the ExtSpec lifecycle suites
      // upsert 50 duplicated vectors under new ids — the O(batch) delta
      // re-derives list + codes against the STORED tables in one scan.
      // (FULL-corpus delta parity runs once in ExtSpec "persisted
      // PQ/IVF-PQ lifecycle parity"; here only the delta-born rows pay
      // the fresh re-derivation — the bench-tail trim)
      c.addDf(e.limit(50).select(concat(lit("dup_"), col("id")).as("id"),
        lit("").as("content"), col("embedding")))
      val (cents, cb, rows, _, _) = c.ivfPqIndex().get
      val newRows = rows.filter(col("id").startsWith("dup_")).persist()
      // fresh derivation mirrors the STORED encoding flag (r14: the build
      // measures raw-vs-residual on the training sample and persists the
      // winner; maintenance must re-encode under that flag, never a guess)
      val dupDocs = c.docs().filter(col("id").startsWith("dup_"))
      val fresh = graft.ext.Ivf.assign(dupDocs, cents)
        .join(dupDocs.select(col("id"), col("embedding")), Seq("id"))
        .select(col("id"), col("cluster"),
          Pq.encodeFor(col("embedding"), col("cluster"), cents, cb,
            c.ivfPqResidual()).as("codes")).persist()
      try {
        val eq = newRows.exceptAll(fresh).isEmpty &&
          fresh.exceptAll(newRows).isEmpty
        val counts = rows.count() == e.count() + 50
        val rec = Ann.recallAtK(Ann.exactTopK(c.docs(), qs, k = 10),
          c.vectorTopK(qs, 10))
        Seq(("delta_rows_exact", eq && counts),
          ("recall_after_delta_ge_0.8", rec >= 0.8)).toDF("metric", "ok")
      } finally { newRows.unpersist(); fresh.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('delta_rows_exact', true),
              |  ('recall_after_delta_ge_0.8', true)) AS t(metric, ok)""".stripMargin)),

    // X115: filtered ANN — metadata where + vector top-k. Indexed arm =
    // post-filter over-fetch (index top-overfetch*k candidates, filter on
    // the skinny id join, keep k): gates pin zero filter violations and
    // the DETERMINISTIC over-fetch contract — the result must equal
    // rank-k of (index candidates ∩ filter) exactly. (Absolute recall
    // under a selective filter is bounded by the index's coverage at the
    // over-fetch depth — a parameter trade-off the API documents, not an
    // invariant to gate.) Index-less arm must EQUAL the exact filtered
    // top-k (same frame, same tie-breaks).
    ("x115_filtered_ann", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"),
          col("label").cast("string").as("label"))
      val docsShape = e.select(col("id"), lit("").as("content"),
        map(lit("label"), col("label")).as("metadata"), col("embedding"))
      val qs = queryVecs(s, sfDir, 3)
      val flt = Map[String, Any]("label" -> "3")
      val root = tempDirCleanedOnExit("graft-x115-")
      val c = Collection(s, root, "vecs", useFts = false)
      c.addDf(docsShape)
      val exactFiltered = Ann.exactTopK(
        c.docs().filter(element_at(col("metadata"), "label") === "3"),
        qs, k = 10).persist()
      // index-less arm: identical to the exact filtered ranking
      val noIx = c.vectorTopKWhere(qs, 10, flt).persist()
      try {
        val eqNoIx = noIx.exceptAll(exactFiltered).isEmpty &&
          exactFiltered.exceptAll(noIx).isEmpty
        c.createVectorIndex(kind = "ivf", numCentroids = 16, iters = 5,
          maxSample = 20000, nprobe = 10)
        val got = c.vectorTopKWhere(qs, 10, flt, overfetch = 20).persist()
        // the contract composition, replayed from the public probe API
        val byHand = c.vectorTopK(qs, 10 * 20)
          .join(c.docs().filter(element_at(col("metadata"), "label") === "3")
            .select("id"), Seq("id"))
          .withColumn("rn2", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id").asc)))
          .filter(col("rn2") <= 10)
          .select(col("qid"), col("rn2").cast("int").as("rn"), col("id"), col("sim"))
          .persist()
        try {
          val violations = got.join(
            c.docs().filter(element_at(col("metadata"), "label") =!= "3")
              .select("id"), Seq("id"), "left_semi").count()
          val eqComp = got.exceptAll(byHand).isEmpty &&
            byHand.exceptAll(got).isEmpty
          Seq(("filter_respected", violations == 0L),
            ("noindex_equals_exact", eqNoIx),
            ("overfetch_contract_exact", eqComp)).toDF("metric", "ok")
        } finally { got.unpersist(); byHand.unpersist() }
      } finally { noIx.unpersist(); exactFiltered.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('filter_respected', true),
              |  ('noindex_equals_exact', true),
              |  ('overfetch_contract_exact', true)) AS t(metric, ok)""".stripMargin)),

    ("x7_ann_lsh_recall", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      val exact = Ann.exactTopK(e, qs, k = 10)
      val approx = Ann.lshTopK(e, qs, k = 10, numTables = 16, numPlanes = 4, dim = 64)
      val rec = Ann.recallAtK(exact, approx)
      Seq(("recall_at_10", rec >= 0.9)).toDF("metric", "ok")
    }, Some("SELECT 'recall_at_10' AS metric, true AS ok")),

    // X116: deflate compression ratio (the CCNet/Gopher-family quality
    // signal). Exact deflate bytes are zlib-version-dependent, so the
    // oracle gates the signal's defining properties instead: ratios in
    // range, self-concatenation strictly improves per-byte compression
    // (the second copy is one back-reference — holds for every >= 50-byte
    // doc inside the 32 KB window), and repetitive text compresses far
    // below natural prose on average.
    ("x116_compression_ratio", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val d = docsFrame(s, sfDir).select(col("id"), col("content"))
      val single = TextStats.compressionRatio(d).persist()
      val doubled = TextStats.compressionRatio(
        d.select(col("id"), concat(col("content"), col("content")).as("content"))).persist()
      try {
        val bad = single.filter(col("n_bytes") > 0 &&
          (col("ratio") <= 0.0 || col("ratio") > 1.5)).count()
        val viol = single.as("s").filter(col("n_bytes") >= 50)
          .join(doubled.as("d"), "id")
          .filter(col("d.ratio") >= col("s.ratio")).count()
        val meanNat = single.agg(avg(col("ratio"))).head().getDouble(0)
        val meanRep = TextStats.compressionRatio(
            d.select(col("id"),
              concat_ws(" ", array_repeat(lit("spam"), 64)).as("content")))
          .agg(avg(col("ratio"))).head().getDouble(0)
        Seq(("all_ratios_in_range", bad == 0L),
          ("doubling_compresses_every_doc", viol == 0L),
          ("repetition_compresses_more", meanRep < meanNat))
          .toDF("metric", "ok")
      } finally { single.unpersist(); doubled.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('all_ratios_in_range', true),
              |  ('doubling_compresses_every_doc', true),
              |  ('repetition_compresses_more', true)) AS t(metric, ok)""".stripMargin)),

    // X117: the one-pass signal sweep — gopher + quality + langid fused
    // over a single scan with the composite keep. Each arm's math is
    // pinned by its own entry (x8/x9/x36); this entry pins the FUSION:
    // all families off one frame, plus the composite decision.
    ("x117_signal_sweep", (s: SparkSession, sfDir: String) =>
      TextStats.signalSweep(docsFrame(s, sfDir), minWords = 30, minStopwordHits = 1)
        .select(col("id"), col("n_words"), col("n_tokens"),
          round(col("quality"), 6).as("quality"), col("pred_lang"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"),
          col("gopher_keep"), col("keep")),
      Some(signalSweepOracle)),

    // X118: bucketed co-located join — pay one shuffle at write, join with
    // ZERO exchange forever after (plan pinned in ExtSpec). The oracle
    // pins the RESULT; bucketing must be invisible to it.
    ("x118_bucketed_join", (s: SparkSession, sfDir: String) => {
      val wh = tempDirCleanedOnExit("graft-x118-")
      Layout.writeBucketed(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "x118_docs", wh + "/docs", Seq("doc_id"), 8)
      Layout.writeBucketed(
        readPar(s, s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("label")),
        "x118_emb", wh + "/emb", Seq("doc_id"), 8)
      Layout.coLocatedJoin(s, "x118_docs", "x118_emb", Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
          sum("label").as("sum_label"))
    }, Some(
      """SELECT d.lang, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(e.label) AS BIGINT) AS sum_label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1""".stripMargin)),

    // X119: mojibake repair round-trip — corrupt the corpus with the
    // inverse table, repair with fixMojibake, pin per-doc inflation and
    // restoration. Both directions replay as nested replace() chains in
    // DuckDB from the SAME derived table, so the entry pins the full
    // table contents and application order, not just one example.
    ("x119_fix_mojibake", (s: SparkSession, sfDir: String) => {
      val corrupt = TextStats.MojibakeTable.foldLeft(col("content")) {
        case (acc, (moji, ch)) => replace(acc, lit(ch), lit(moji))
      }
      TextStats.fixMojibake(
          docsFrame(s, sfDir).select(col("id"), col("content"),
            corrupt.as("corrupted")),
          contentCol = "corrupted")
        .select(col("id"),
          (length(col("corrupted")) - length(col("content"))).as("n_inflate"),
          col("had_mojibake"),
          (col("fixed") === col("content")).as("roundtrip_ok"))
    }, Some(mojibakeOracle)),

    // X120: persisted dedup-screening index — ingest the corpus, build the
    // MinHash index, upsert a batch of perturbed near-dups (maintenance
    // re-bands ONLY the batch), then probe every 50th doc's text. The
    // oracle replays the whole story as exact shingle Jaccard over
    // documents ∪ the same synthetic batch: banding must be invisible at
    // these similarities (P[miss] < 1e-7 at s ≥ 0.8 with 32×4), and the
    // verify arm is exact, so the served pair set IS the exact pair set.
    ("x120_dedup_index", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-x120-")
      val c = Collection(s, root, "dx")
      c.addDf(docsFrame(s, sfDir).select(col("id"), col("content")))
      c.createDedupIndex()
      c.addDf(docsFrame(s, sfDir).filter(col("id").cast("long") % 25 === 0)
        .select(concat(lit("dup_"), col("id")).as("id"),
          concat(col("content"), lit(" zzextratoken")).as("content")))
      val probes = docsFrame(s, sfDir).filter(col("id").cast("long") % 50 === 0)
        .select(concat(lit("q"), col("id")).as("qid"), col("content"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      c.nearDuplicates(probes, threshold = 0.8)
        .select(col("qid"), col("id"), round(col("jaccard"), 6).as("jaccard"))
    }, Some(dedupIndexOracle(0.8))),

    // X121: continuous screening through the persisted dedup index — the
    // stream result over two micro-batches must equal the one-shot batch
    // probe of the same texts (x120 pins the values; this pins the
    // stream ≡ batch contract, like x80 does for streamDedupAgainst).
    ("x121_stream_screen", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("n"),
          col("doc_id").cast("string").as("id"), col("text").as("content"))
      val root = tempDirCleanedOnExit("graft-x121-")
      val c = Collection(s, root, "scr")
      c.addDf(d.filter(col("n") % 3 === 0).select("id", "content"))
      c.createDedupIndex()
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Set[(String, String)]()
      val q = c.streamScreen(mem.toDF().toDF("n", "qid", "content")) { out =>
        got ++= out.select("qid", "id").collect()
          .map(r => (r.getString(0), r.getString(1)))
      }.start()
      val rows = d.filter(col("n") % 5 === 0).collect()
        .map(r => (r.getLong(0), "q" + r.getString(1), r.getString(2)))
      try {
        mem.addData(rows.filter(_._1 % 2 == 0).toSeq: _*); q.processAllAvailable()
        mem.addData(rows.filter(_._1 % 2 != 0).toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val batch = c.nearDuplicates(rows.map(r => r._2 -> r._3).toSeq)
        .select("qid", "id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      Seq(("stream_equals_batch", got.toSet == batch && got.nonEmpty))
        .toDF("metric", "ok")
    }, Some("SELECT 'stream_equals_batch' AS metric, true AS ok")),

    // X122: certified impact top-k over postings — certified-exact ranked top-k
    // serving (Collection.searchTopK / exec.ImpactTopK). The synthetic corpus
    // is tf-flat (max tf 9), so high-tf docs are PLANTED deterministically
    // (repeat-'customer' bodies keyed off doc_id — DuckDB replays them with
    // repeat()). Five cases, each (rank DESC, id ASC) with a pinned rn:
    //   single — bounded certificate over a high-df term (non-trivial at
    //            sf0.1: df > cap, the k-th score must beat the tf bound);
    //   and    — UNDER-FULL completeness certificate: k=25 > the 18 matches
    //            at sf0.01, provable because 'needle' is fully stored (every
    //            AND match is in its complete prefix);
    //   bound0 — fully-stored term, bound == 0;
    //   prefix — wildcard query MUST take the full path (asserted), values
    //            replayed with q4b's prefix-leaf arithmetic;
    //   upsert — after a pure-insert batch the O(batch)-maintained meta
    //            must still serve, with the UPDATED exact df, and the new
    //            docs must enter the top-k.
    // WHICH-PATH is asserted in-entry (certified serve vs fallback), so a
    // silently regressed certificate fails the entry even when values match.
    ("x122_impact_topk", (s: SparkSession, sfDir: String) => {
      val root = tempDirCleanedOnExit("graft-x122-")
      val c = Collection(s, root, "imp")
      val raw = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("n"), col("text"))
      def heavy(tag: String, modulo: Int, tfMod: Int, extra: String): DataFrame =
        raw.filter(col("n") % modulo === 0)
          .select(concat(lit(tag), col("n").cast("string")).as("id"),
            concat(concat_ws(" ",
                array_repeat(lit("customer"), (lit(40) + col("n") % tfMod).cast("int"))),
              lit(extra)).as("content"))
      c.addDf(raw.select(col("n").cast("string").as("id"), col("text").as("content"))
        .unionByName(heavy("p", 29, 97, " needle")))
      c.createImpactIndex(cap = 512)
      // cases are FROZEN to local rows before the upsert mutates the store —
      // a lazy frame would otherwise re-scan the post-upsert corpus at
      // Verify's write time
      def freeze(df: DataFrame, label: String): DataFrame = {
        val shaped = df.withColumn("rn", row_number().over(
            Window.orderBy(col("rank").desc, col("id").asc)))
          .select(lit(label).as("qcase"), col("rn").cast("long").as("rn"),
            col("id"), round(col("rank"), 6).as("rank"))
        s.createDataFrame(java.util.Arrays.asList(shaped.collect(): _*), shaped.schema)
      }
      def served(label: String, q: String, k: Int): DataFrame =
        freeze(c.impactCertifiedTopK(q, k, 0).getOrElse(throw new IllegalStateException(
          s"x122: '$q' must serve from the impact index")), label)
      val pre = served("single", "customer", 10)
        .unionByName(served("and", "needle customer", 25))
        .unionByName(served("bound0", "needle", 5))
      require(c.impactCertifiedTopK("cust*", 10, 0).isEmpty,
        "x122: prefix query must take the full path")
      val pfx = freeze(c.searchTopK("cust*", 10), "prefix")
      c.addDf(heavy("u", 31, 89, " needle gadget"))
      val post = served("upsert", "customer", 10)
      // gone-aware DELTA-PATH serving (delete/update/term-born-in-update)
      // is pinned by ImpactSpec's lifecycle + randomized-mutation suites
      // against full scoring — lifecycle choreography lives there, the
      // DuckDB BM25 value replay stays here on the pre/upsert corpora
      pre.unionByName(pfx).unionByName(post)
    }, Some(impactOracle)),

    // X123: perceptual media near-dup — planted "re-encoded" duplicates
    // (first 3 bytes replaced: a one-slice perturbation of the 72-slice
    // byte stream, ≤ 2 dHash bits) must pair with their originals within
    // hamming 3, and NOTHING else pairs (validated: exactly the 20 planted
    // pairs at sf0.01, zero false positives). The oracle replays the full
    // ByteDHash arithmetic — integer slice sums, cross-multiplied
    // comparisons, the bit-63 shift — as an all-pairs DuckDB recompute, so
    // the banding candidates must be COMPLETE, not just precise.
    ("x123_media_neardup", (s: SparkSession, sfDir: String) => {
      val base = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text"))
      val planted = base.filter(col("id").cast("long") % 25 === 0)
        .select(concat(lit("m"), col("id")).as("id"),
          concat(lit("ZZZ"), expr("substring(text, 4)")).as("text"))
      val media = base.unionByName(planted)
        .select(col("id"), col("text").cast("binary").as("media"))
      Dedup.perceptualDupPairs(media, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }, Some(mediaNearDupOracle)),

    // X124: URL canonicalization + URL-level dedup — the crawl hygiene pass
    // before any content work. Synthesized URLs cover every rule: case 0/1
    // are the SAME resource under different cosmetics (case, default port,
    // trailing slash, tracking params, param order) and must collide; case
    // 2 strips :443 + fragment; case 3 collapses to a bare path (every
    // param is tracking); case 4 has no scheme and passes through. Output =
    // each doc's canonical key plus whether dedupByUrl kept it, replayed
    // end-to-end (canonicalization AND the md5 survivor rank) in DuckDB.
    ("x124_url_dedup", (s: SparkSession, sfDir: String) => {
      val docs = dupUrlDocs(s, sfDir).select(col("id"), col("url"))
      val kept = Web.dedupByUrl(docs).select(col("id")).withColumn("kept", lit(true))
      docs.select(col("id"), Web.canonicalizeUrl(col("url")).as("canonical"))
        .join(kept, Seq("id"), "left")
        .select(col("id"), col("canonical"), coalesce(col("kept"), lit(false)).as("kept"))
    }, Some(urlDedupOracle)),

    // X128: HTML → text extraction — each doc wrapped in a deterministic
    // HTML template that gives every stage of the chain work (a comment
    // hiding tags, a style and a script container, block and inline tags,
    // named/decimal/hex entities, an nbsp, and malformed refs that must
    // stay verbatim). The oracle replays the wrap + the same RE2 strip
    // chain + an ordered literal replace chain (amp-producing LAST ≡ the
    // engine's single-pass decode, because the planted refs never overlap
    // and the corpus text carries no '&'/'<' of its own).
    ("x128_html_extract", (s: SparkSession, sfDir: String) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("id"),
        lit("</title><style type=\"text/css\">p { color: red; }</style></head>" +
          "<body><!-- hidden <p>not text</p> --><h1 class=\"t\">Title &amp; " +
          "&lt;tag&gt; caf&#233;</h1><p>"),
        col("content"),
        lit("</p><script>var x = \"<div>no</div>\";</script>" +
          "<div>tail&nbsp;A&#x41; &unknown; 1 &lt 2</div>" +
          "<p>em&mdash;dash &hellip; it&rsquo;s &Eacute;cole &euro;5</p>" +
          "</body></html>"))
      docsFrame(s, sfDir).select(col("id"), Html.htmlToText(html).as("txt"))
        .select(col("id"), length(col("txt")).cast("long").as("n_chars"),
          md5(col("txt")).as("h"))
    }, Some(htmlExtractOracle)),

    // X128b: HTML head-metadata extraction — title (entity-decoded,
    // whitespace-disciplined), rel=canonical (BOTH attribute orders,
    // alternating by doc), meta description (both orders, planted quotes),
    // declared lang (uppercased attr → lowercased output); each field
    // ABSENT on its own residue class so the NULL contract (never "") is
    // pinned. The oracle derives the expected values INDEPENDENTLY from
    // the residue arithmetic — it never runs the regexes.
    ("x128b_html_metadata", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("doc_id").cast("long").as("n"), col("lang"), col("text"))
      val title = when(col("n") % 5 =!= 0,
        concat(lit("<title> Doc &amp;\n"), col("id"), lit(" </title>")))
        .otherwise(lit(""))
      val canon = when(col("n") % 3 === 0, lit(""))
        .when(col("n") % 2 === 0,
          concat(lit("<link rel=\"canonical\" href=\"https://canon.example/"),
            col("id"), lit("\">")))
        .otherwise(
          concat(lit("<link href=\"https://canon.example/"), col("id"),
            lit("\" rel='canonical'>")))
      val meta = when(col("n") % 7 === 0, lit(""))
        .when(col("n") % 2 === 0,
          concat(lit("<meta name=\"description\" content=\"d &quot;"),
            col("id"), lit("&quot;\">")))
        .otherwise(
          concat(lit("<meta content=\"d &quot;"), col("id"),
            lit("&quot;\" name=\"description\">")))
      val langAttr = when(col("n") % 11 =!= 0,
        concat(lit(" lang=\""), upper(col("lang")), lit("\""))).otherwise(lit(""))
      val html = concat(lit("<html"), langAttr, lit("><head>"), title, canon,
        meta, lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
      Html.extractMetadata(d.select(col("id"), html.as("html")))
        .select("id", "title", "canonical_url", "meta_description", "declared_lang")
    }, Some(
      s"""SELECT $DocId AS id,
         |  CASE WHEN doc_id % 5 <> 0 THEN 'Doc & ' || $DocId END AS title,
         |  CASE WHEN doc_id % 3 <> 0 THEN 'https://canon.example/' || $DocId END AS canonical_url,
         |  CASE WHEN doc_id % 7 <> 0 THEN 'd "' || $DocId || '"' END AS meta_description,
         |  CASE WHEN doc_id % 11 <> 0 THEN lower(lang) END AS declared_lang
         |FROM documents""".stripMargin)),

    // X129: blocklist curation — the C4/UT1-style hard filter over the
    // synthesized URL corpus: two blocked registrable domains (one on the
    // multi-part .co.uk arm, so the suffix rule is in the loop) and a
    // word-bounded phrase alternation. The entry emits the CLASSIFICATION
    // of every doc (reason or NULL), so the oracle checks the negative
    // space too; the oracle replays the x99 domain derivation and the
    // IDENTICAL \Q-quoted alternation pattern (RE2 and java.util.regex
    // both honor \Q…\E and \b).
    ("x129_blocklist", (s: SparkSession, sfDir: String) =>
      Web.blocklistTag(urlDocs(s, sfDir),
          blockedDomains = Seq("src121.com", "src1010.co.uk"),
          blockedPhrases = Seq("table hash", "vector small", "dup"))
        .select(col("id"), col("block_reason")),
      Some(blocklistOracle)),

    // X131: the blocklist's Aho-Corasick arm, FORCED (phraseAutomatonAt=1)
    // over 40 two-word phrases — the oracle replays the classification
    // with the regex-arm pattern (Web.phrasePattern over the same list),
    // so the entry pins the automaton ≡ alternation equivalence the spec
    // fuzz asserts, against an independent engine.
    ("x129b_blocklist_automaton", (s: SparkSession, sfDir: String) =>
      Web.blocklistTag(urlDocs(s, sfDir),
          blockedPhrases = AutomatonPhrases, phraseAutomatonAt = 1)
        .select(col("id"), col("block_reason")),
      Some(automatonBlocklistOracle)),

    // X132: semantic decontamination — benchmark = every 13th embedding
    // (39 vectors); at 0.46 the exact-arm screen drops the 39 planted
    // identity matches PLUS 3 genuine near-matches (458 survivors of 500).
    // The oracle replays the NOT EXISTS against a brute-force cosine —
    // the X20 n-gram decontaminator would see NONE of these (no token
    // overlap in embedding space).
    ("x132_semantic_decontaminate", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val bench = readPar(s, s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").cast("string").as("ref_id"), col("embedding"))
      Dedup.semanticDecontaminate(e, bench, threshold = 0.46, numTables = 0)
        .select(col("id"))
    }, Some(
      s"""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % 13 = 0)
         |SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings a
         |WHERE NOT EXISTS (SELECT 1 FROM b
         |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])) >= 0.46)""".stripMargin)),

    // X132b: the LSH arm's exactness gates, the x5b pattern — the bucketed
    // candidate set is a SUBSET of the exact matches (no false positives
    // survive the cosine verify) and recall ≥ 0.8 at these (tables, planes)
    // on this corpus.
    ("x132b_semantic_lsh", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val bench = readPar(s, s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").cast("string").as("ref_id"), col("embedding"))
      val lsh = Dedup.embeddingMatchesAgainst(e, bench, threshold = 0.46,
        numTables = 16, numPlanes = 4).select("id", "ref_id").persist()
      val exact = Dedup.embeddingMatchesAgainst(e, bench, threshold = 0.46,
        numTables = 0).select("id", "ref_id").persist()
      try {
        val falsePos = lsh.join(exact, Seq("id", "ref_id"), "left_anti").count()
        val hits = lsh.join(exact, Seq("id", "ref_id"), "left_semi").count()
        val total = exact.count()
        Seq(("no_false_positives", falsePos == 0L),
          ("recall_ge_0.8", total == 0L || hits.toDouble / total >= 0.8))
          .toDF("metric", "ok")
      } finally { lsh.unpersist(); exact.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('no_false_positives', true), ('recall_ge_0.8', true)
              |) AS t(metric, ok)""".stripMargin)),

    // X133: the COMPOSED embedding pipeline — the vector-side triad
    // completion (x126 = content, x130 = web): chunk (X26, stride=size) →
    // deterministic stub embedder (4 dims from md5 8-hex segments — engine-
    // replayable, standing in for the mapPartitions model contract) →
    // mean-pool + L2 normalize per doc (X55) → int8 quantize (X46) →
    // cosine screen against a literal query (X6's scoring). The similarity
    // is computed on the QUANTIZED BYTE vectors — cosine is scale-invariant
    // per side, so this equals scoring the dequantized floats while the
    // byte values are exactly representable in float (no float-sum
    // knife-edges in the final compare). The oracle chains each stage's
    // proven standalone SQL shape (x26 chunking, x55 pooling, x46
    // floor-quantization) in MATERIALIZED CTEs.
    ("x133_embed_pipeline", (s: SparkSession, sfDir: String) => {
      val docs = docsFrame(s, sfDir).select("id", "content")
      val chunks = Pipeline.chunkDocuments(docs, chunkSize = 32, stride = 32)
      // 4 dims of 8 md5 hex chars each (the full 32-char digest): the
      // 2^31-denominator grid makes floor(v/scale + 0.5) half-boundaries
      // measure-zero — the 2-hex-char (1/255) grid put v/scale on EXACT
      // .5 values and the two engines' last-ulp differences flipped bytes.
      // Both sides round through FLOAT (the model-output dtype).
      val emb = array((0 until 4).map(d =>
        (conv(substring(md5(col("chunk_text")), d * 8 + 1, 8), 16, 10)
          .cast("double") / 2147483647.5 - 1).cast("float")): _*)
      val pooled = Pipeline.poolEmbeddings(
        chunks.select(col("id"), emb.as("embedding")))
      val qz = Quantize.quantizeInt8(pooled)
      val qvec = Seq(0.625f, -0.25f, 0.375f, -0.5f) // dyadic: float == double
      val sim = graft.functions.VectorFunctions.cosine(
        transform(col("q"), x => x.cast("float")),
        array(qvec.map(lit): _*))
      qz.select(col("id"), col("n_chunks"), round(sim, 6).as("sim"))
    }, Some(embedPipelineOracle)),

    // X134: WARC-lite source roundtrip — every doc formatted as a WARC
    // response record (formatResponse), written through the ordinary text
    // sink across 4 part files, re-read by the Hadoop-delimiter reader,
    // and parsed back to (uri-derived id, type, status, content type,
    // body md5). The oracle derives the expected values from the
    // synthesis directly — if record splitting, header parsing, HTTP
    // framing, or the separator trim were wrong anywhere, the md5s break.
    ("x134_warc_roundtrip", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-warc-")
      docsFrame(s, sfDir).select(
        graft.sources.Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), col("id")),
          lit("2024-01-01T00:00:00Z"),
          lit("text/plain"),
          col("content")).as("value"))
        .coalesce(4).write.mode("overwrite").text(s"$out/crawl")
      graft.sources.Warc.read(s, s"$out/crawl")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("warc_type"), col("http_status"), col("content_type"),
          md5(col("body")).as("h"))
    }, Some(s"""SELECT $DocId AS id, 'response' AS warc_type,
               |  200 AS http_status, 'text/plain' AS content_type,
               |  md5(text) AS h FROM documents""".stripMargin)),

    // X134b: member-gzip WARC roundtrip — the Common Crawl `.warc.gz`
    // layout (one gzip member per record) written by writeGzip, re-read by
    // the splittable member scanner with Content-Length framing. The body
    // PLANTS the record marker `WARC/1.0\r\n` inside itself — the exact
    // bytes the lite marker-split reader documents as its mis-split case —
    // so this entry only matches if the framing, not the marker, bounds
    // the payload. The oracle derives the expected bodies from the
    // synthesis directly.
    ("x134b_warc_gzip", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-warcgz-")
      val recs = docsFrame(s, sfDir).select(
        graft.sources.Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), col("id")),
          lit("2024-01-01T00:00:00Z"),
          lit("text/plain"),
          concat(col("content"), lit("\r\nWARC/1.0\r\ntrailer "), col("id"))).as("rec"))
      graft.sources.WarcGzip.writeGzip(recs.repartition(4), s"$out/crawl")
      graft.sources.WarcGzip.read(s, s"$out/crawl")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("warc_type"), col("http_status"), col("content_type"),
          md5(col("body")).as("h"))
    }, Some(s"""SELECT $DocId AS id, 'response' AS warc_type,
               |  200 AS http_status, 'text/plain' AS content_type,
               |  md5(text || chr(13) || chr(10) || 'WARC/1.0' || chr(13) || chr(10)
               |      || 'trailer ' || $DocId) AS h
               |FROM documents""".stripMargin)),

    // X135: the crawl→shards FLAGSHIP — the full training-data path as ONE
    // oracle-replayed flow across the seams the per-family entries cannot
    // see: member-gzip WARC write/read (X134b) → HTML→text extraction with
    // in-content id recovery (X128) → URL dedup + blocklist (X130's web
    // side) → corpus line dedup + near-dedup (X126's content side) → X18
    // sequence packing + X31 shuffle shards. Plants give every stage real
    // work: dup/tracking URLs (url dedup + the tracker.net domain arm), a
    // corpus-wide banner pair (line dedup df = corpus), near-dup clones of
    // every 25th doc under UNIQUE urls (only the content arm may collapse
    // them), a per-doc 'zzdocid' line that both carries provenance
    // through the crawl roundtrip (a crawl has no doc ids — recovering
    // identity from content IS the seam) and keeps every doc byte-distinct
    // through every stage, and ARCHIVER-TRUNCATED captures (WARC-Truncated
    // planted on a stratum under unique clean urls) that the dropTruncated
    // gate must remove BEFORE extraction — they appear nowhere in the
    // oracle, so any one leaking through surfaces as an extra row. The
    // final row set only matches if every intermediate corpus matched.
    ("x135_crawl_to_shards", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x135-")
      // stage boundaries materialized (x126's freeze rationale: the dedup
      // stages reference their input several times; lazy references would
      // re-run the whole upstream chain multiplicatively)
      def freeze(df: DataFrame): DataFrame =
        s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      // the base corpus halves to WHOLE n%5 blocks (doc_id % 10 < 5 ⟺
      // floor(doc_id/5) even) — every URL-class stratum AND the url-dup
      // pairs (5k, 5k+1 share a canonical) survive intact, the volume
      // does not: the composition uniquely pins the SEAMS, not the row
      // count, and this entry was the suite's most expensive
      val raw = readPar(s, s"$sfDir/documents.parquet")
      val clones = raw.filter(col("doc_id") % 50 === 0)
        .select(concat(lit("dup"), col("doc_id").cast("string")).as("id"),
          concat(col("text"), lit(" zzextratoken")).as("content"),
          concat(lit("no-scheme-url-dup"), col("doc_id").cast("string")).as("url"))
      val crawl = dupUrlDocs(s, sfDir, col("doc_id") % 10 < 5)
        .unionByName(clones)
      val html = concat(
        lit("<html><body><h1>Crawl &amp; shard</h1><p>Subscribe now and like</p><p>"),
        col("content"), lit("</p><p>zzdocid "), col("id"),
        lit("</p><script>var x = \"<b>no</b>\";</script></body></html>"))
      // archiver-truncated captures: clean urls, valid html, one extra
      // WARC-Truncated header — must be gone before extraction
      val truncHttp = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><body><p>truncated capture</p><p>zzdocid tr"),
        col("doc_id").cast("string"), lit("</p></body></html>"))
      val truncRecs = raw.filter(col("doc_id") % 50 === 13)
        .select(concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://trunc.example/"),
          col("doc_id").cast("string"),
          lit("\r\nWARC-Truncated: length\r\nContent-Length: "),
          octet_length(truncHttp).cast("string"),
          lit("\r\n\r\n"), truncHttp, lit("\r\n\r\n")).as("rec"))
      graft.sources.WarcGzip.writeGzip(
        crawl.select(graft.sources.Warc.formatResponse(col("url"),
          lit("2024-01-01T00:00:00Z"), lit("text/html"), html).as("rec"))
          .unionByName(truncRecs)
          .repartition(4),
        s"$out/crawl")
      // the LIBRARY composition (X138): the entry runs the product call,
      // so CrawlPipeline itself is what the oracle verifies
      val curated = CrawlPipeline.curateCrawl(s, s"$out/crawl",
        CrawlPipeline.CrawlConfig(
          blockedDomains = Seq("tracker.net"),
          blockedPhrases = Seq("table hash"),
          idFrom = Some(
            regexp_extract(col("content"), "(?m)^zzdocid (\\w+)$", 1))))
      try freeze(
        CrawlPipeline.toShards(curated, budget = 512, packShards = 8,
            numShards = 8, seed = 42L)
          .select(col("id"), col("shard"), col("pos"), col("pack_shard"),
            col("n_tokens"), col("offset"), col("bin"),
            md5(col("content")).as("h")))
      finally curated.unpersist()
    }, Some(crawlToShardsOracle)),

    // X136: WET conversion records — the "extract once, persist as WET,
    // re-read everywhere" intermediate of a crawl pipeline (Common Crawl's
    // extracted-text sidecar layout): HTML→text extraction formatted as
    // WARC-Type: conversion records (no HTTP block, Content-Type carried
    // as a WARC header), written member-per-record gzip, re-read by the
    // member scanner. The oracle constructs the expected extracted text
    // directly — the roundtrip md5 only matches if the conversion framing,
    // the WARC-level Content-Type surfacing, and the gzip roundtrip all
    // hold.
    ("x136_wet_conversion", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-wet-")
      val txt = Html.htmlToText(concat(
        lit("<body><h1>WET &amp; shard</h1><p>"), col("content"),
        lit("</p></body>")))
      // the standard archive layout opens with ONE warcinfo record (ISO
      // 28500 §6.2): the info frame's partition unions AHEAD of the
      // repartitioned records, so it is the sole record of the first part
      // file — and 'opens_file' (offset == 0, checkable because X141
      // surfaces coordinates) verifies the layout, not just the content
      val info = s.range(1).select(graft.sources.Warc.formatWarcinfo(
        lit("wet-00000.warc.gz"), lit("2024-01-01T00:00:00Z"),
        lit("software: graft\r\nformat: WARC File Format 1.0\r\n")).as("rec"))
      graft.sources.WarcGzip.writeGzip(
        info.unionByName(
          docsFrame(s, sfDir).select(graft.sources.Warc.formatConversion(
            concat(lit("https://crawl.example/doc/"), col("id")),
            lit("2024-01-01T00:00:00Z"), txt).as("rec")).repartition(4)),
        s"$out/wet")
      graft.sources.WarcGzip.read(s, s"$out/wet")
        .select(
          when(col("warc_type") === "warcinfo", lit("warcinfo"))
            .otherwise(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)).as("id"),
          col("warc_type"), col("content_type"), md5(col("body")).as("h"),
          when(col("warc_type") === "warcinfo", col("offset") === 0)
            .as("opens_file"))
    }, Some(s"""SELECT $DocId AS id, 'conversion' AS warc_type,
               |  'text/plain' AS content_type,
               |  md5('WET & shard' || chr(10) || text) AS h,
               |  CAST(NULL AS BOOLEAN) AS opens_file
               |FROM documents
               |UNION ALL
               |SELECT 'warcinfo', 'warcinfo', 'application/warc-fields',
               |  md5('software: graft' || chr(13) || chr(10) ||
               |      'format: WARC File Format 1.0' || chr(13) || chr(10)),
               |  true""".stripMargin)),

    // X137: robots-meta hygiene — extraction of the robots directives
    // (lowercased, NULL when undeclared) and the noindex drop rule. The
    // fixture plants noindex in three shapes (bare, with nofollow, and
    // UPPERCASE), an index,follow decoy, and a none-declared majority;
    // 'kept' replays as pure case arithmetic in DuckDB.
    ("x137_robots_noindex", (s: SparkSession, sfDir: String) => {
      val raw = readPar(s, s"$sfDir/documents.parquet")
      val meta = when(col("doc_id") % 7 === 0,
          lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(col("doc_id") % 7 === 1,
          lit("<meta name=\"robots\" content=\"NOINDEX,NOFOLLOW\">"))
        .when(col("doc_id") % 7 === 2,
          lit("<meta content=\"index, follow\" name=\"robots\">"))
        .otherwise(lit(""))
      val docs = raw.select(col("doc_id").cast("string").as("id"),
        concat(lit("<html><head>"), meta, lit("</head><body><p>"),
          col("text"), lit("</p></body></html>")).as("html"))
      val kept = Web.dropNoindex(docs).select(col("id"))
        .withColumn("kept", lit(true))
      docs.select(col("id"), Html.metaRobotsOf(col("html")).as("robots"))
        .join(kept, Seq("id"), "left")
        .select(col("id"), col("robots"),
          coalesce(col("kept"), lit(false)).as("kept"))
    }, Some(s"""SELECT $DocId AS id,
               |  CASE WHEN doc_id % 7 = 0 THEN 'noindex, follow'
               |       WHEN doc_id % 7 = 1 THEN 'noindex,nofollow'
               |       WHEN doc_id % 7 = 2 THEN 'index, follow' END AS robots,
               |  doc_id % 7 NOT IN (0, 1) AS kept
               |FROM documents""".stripMargin)),

    // X138: WARC archival fidelity — the reader facing REAL archives, not
    // just its own writer's output: records emitted under BOTH WARC/1.0
    // and WARC/1.1 version lines (ISO 28500:2017 / modern wget are 1.1;
    // the pre-fix reader silently read a 1.1 archive as ZERO records),
    // archiver-truncation flags (WARC-Truncated, Common Crawl's large-
    // payload marker) surfaced as a column, and HTTP payloads carried
    // under Transfer-Encoding: chunked DECHUNKED to document octets (raw
    // captures store the wire form — undechunked, htmlToText would see
    // chunk-size hex lines). The chunk framing is constructed in Spark
    // SQL (two chunks split at char 10, octet-counted); the oracle needs
    // only the DECODED expectation — md5(text) matches only if the
    // version family parsed, the framing bounded the payload, and the
    // dechunker reassembled it exactly.
    ("x138_warc_fidelity", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-warcfid-")
      val docs = docsFrame(s, sfDir)
        .select(col("id"), col("content"), col("id").cast("long").as("n"))
      val c1 = substring(col("content"), 1, 10)
      val c2 = substring(col("content"), 11, Int.MaxValue)
      val chunked = concat(
        lower(hex(octet_length(c1))), lit("\r\n"), c1, lit("\r\n"),
        when(octet_length(c2) > 0,
          concat(lower(hex(octet_length(c2))), lit("\r\n"), c2, lit("\r\n")))
          .otherwise(lit("")),
        lit("0\r\n\r\n"))
      // every 5th capture DECLARES a coding this reader cannot decode
      // (brotli) — the transfer decode (dechunk) still applies, so the
      // body octets equal the text either way, but content_encoding must
      // surface the declaration and body_decoded must flag the record as
      // still-coded (the filterable-trap contract: a real br body would
      // be compressed bytes and htmlToText must be gateable on the flag)
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"),
        when(col("n") % 5 === 4, lit("Content-Encoding: br\r\n")).otherwise(lit("")),
        lit("Transfer-Encoding: chunked\r\n\r\n"), chunked)
      val rec = concat(
        lit("WARC/1."), when(col("n") % 2 === 0, lit("1")).otherwise(lit("0")),
        lit("\r\nWARC-Type: response\r\nWARC-Target-URI: https://crawl.example/doc/"),
        col("id"),
        when(col("n") % 3 === 0, lit("\r\nWARC-Truncated: length")).otherwise(lit("")),
        lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
        octet_length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      graft.sources.WarcGzip.writeGzip(
        docs.select(rec.as("rec")).repartition(4), s"$out/crawl")
      graft.sources.WarcGzip.read(s, s"$out/crawl")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("warc_version"), col("warc_truncated"), col("http_status"),
          col("content_encoding"), col("body_decoded"),
          md5(col("body")).as("h"))
    }, Some(s"""SELECT $DocId AS id,
               |  'WARC/1.' || CAST(1 - doc_id % 2 AS VARCHAR) AS warc_version,
               |  CASE WHEN doc_id % 3 = 0 THEN 'length' END AS warc_truncated,
               |  200 AS http_status,
               |  CASE WHEN doc_id % 5 = 4 THEN 'br' END AS content_encoding,
               |  doc_id % 5 <> 4 AS body_decoded, md5(text) AS h
               |FROM documents""".stripMargin)),

    // X142: CDX-J sidecar — the published-index workflow real Common
    // Crawl users run: archive → member index → CDX-J lines (SURT-lite
    // urlkey + 14-digit timestamp + JSON pointer block) written as a text
    // sidecar → parsed back by Cdx.read → a filtered stratum fetched by
    // pointer. The (urlkey, timestamp) replay is pure string arithmetic
    // in DuckDB; the md5s only match if the format→parse roundtrip kept
    // every coordinate exact and fetch addressed the right members.
    ("x142_cdx_sidecar", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x142-")
      graft.sources.WarcGzip.writeGzip(
        docsFrame(s, sfDir).select(graft.sources.Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), col("id")),
          lit("2024-01-02T03:04:05Z"), lit("text/plain"),
          col("content")).as("rec")).repartition(4),
        s"$out/gz")
      graft.sources.Cdx.format(graft.sources.WarcGzip.index(s, s"$out/gz"))
        .write.mode("overwrite").text(s"$out/cdx")
      val cdx = graft.sources.Cdx.read(s, s"$out/cdx",
        warcRoot = Some(s"$out/gz"))
      val wanted = cdx.filter(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long") % 6 === 0)
      val recs = graft.sources.WarcGzip.fetch(s, wanted)
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          md5(col("body")).as("h"))
      wanted.select(regexp_extract(col("url"), "/doc/(\\d+)$", 1).as("id"),
          col("urlkey"), col("timestamp"))
        .join(recs, Seq("id"))
    }, Some(s"""SELECT $DocId AS id,
               |  'example,crawl)/doc/' || $DocId AS urlkey,
               |  '20240102030405' AS timestamp, md5(text) AS h
               |FROM documents WHERE doc_id % 6 = 0""".stripMargin)),

    // X139: robots.txt rules — the per-domain sibling of X137: robots.txt
    // captures parsed into (host, rule, path_prefix) groups (RFC 9309
    // group/agent selection) and evaluated most-specific-wins/allow-wins-
    // ties against the corpus. The fixture exercises every selection arm:
    // a star group with an allow carve-out (h0), a SPECIFIC graftbot group
    // that must shadow the star group (h1), an unrelated specific group
    // that must NOT shadow the star group (h2), a host with no robots at
    // all (h3), an empty Disallow meaning allow-everything (h4), and a
    // WILDCARD host (h5, RFC 9309 §2.2.3): a trailing-* disallow, a
    // LONGER trailing-* allow carve-out that must win its overlap, and a
    // mid-path '*' with a '$' end anchor that must match only ids ending
    // in 9 — mixed with h0's plain prefixes so both matcher arms run.
    // 'kept' replays as pure case arithmetic in DuckDB.
    ("x139_robots_txt", (s: SparkSession, sfDir: String) => {
      val raw = readPar(s, s"$sfDir/documents.parquet")
      val docs = raw.select(col("doc_id").cast("string").as("id"),
        concat(lit("https://h"), (col("doc_id") % 6).cast("string"),
          lit(".example"),
          when(col("doc_id") % 3 === 0, lit("/private/x"))
            .when(col("doc_id") % 3 === 1, lit("/private/ok/x"))
            .otherwise(lit("/public/x")),
          col("doc_id").cast("string")).as("url"))
      val robots = Seq(
        ("https://h0.example/robots.txt",
          "User-agent: *\nDisallow: /private/\nAllow: /private/ok/"),
        ("https://h1.example/robots.txt",
          "User-agent: graftbot\nDisallow: /\nUser-agent: *\nDisallow: /tmp/"),
        ("https://h2.example/robots.txt",
          "User-agent: otherbot\nDisallow: /\nUser-agent: *\nAllow: /"),
        ("https://h4.example/robots.txt",
          "User-agent: *\nDisallow:"),
        ("https://h5.example/robots.txt",
          "User-agent: *\nDisallow: /private/*\nAllow: /private/ok/*\n" +
            "Disallow: /public/x*9$"))
      val robotsDf = s.createDataFrame(robots).toDF("url", "content")
      val rules = Web.robotsRules(robotsDf, agent = "graftbot")
      val kept = Web.dropDisallowed(docs, rules).select(col("id"))
        .withColumn("kept", lit(true))
      docs.select(col("id")).join(kept, Seq("id"), "left")
        .select(col("id"), coalesce(col("kept"), lit(false)).as("kept"))
    }, Some(s"""SELECT $DocId AS id,
               |  CASE WHEN doc_id % 6 = 1 THEN false
               |       WHEN doc_id % 6 = 0 AND doc_id % 3 = 0 THEN false
               |       WHEN doc_id % 6 = 5 AND doc_id % 3 = 0 THEN false
               |       WHEN doc_id % 6 = 5 AND doc_id % 3 = 2
               |            AND doc_id % 10 = 9 THEN false
               |       ELSE true END AS kept
               |FROM documents""".stripMargin)),

    // X140: streaming .warc.gz ingest — the crawl-native CONTINUOUS path:
    // two archival drops land in a watched directory WHILE the query runs;
    // the micro-batch source ingests exactly the new files per trigger
    // (same validated-member scanner as batch), composed through
    // Collection.streamIngest into a persisted collection. The final
    // collection state replays in DuckDB from the synthesis — it only
    // matches if drop 2 arrived in a separate batch (the stream was live),
    // both drops parsed exactly, and the upsert path ran per batch.
    // Exactly-once (no drop-1 re-read on the drop-2 trigger) is pinned in
    // WarcGzipSpec, where re-reads are observable; here the upsert would
    // mask them.
    ("x140_stream_warc_gz", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x140-")
      val root = tempDirCleanedOnExit("graft-x140c-")
      val docs = docsFrame(s, sfDir)
        .filter(col("id").cast("long") % 31 === 0)
      def drop(n: Int, pred: org.apache.spark.sql.Column): Unit =
        graft.sources.WarcGzip.writeGzip(
          docs.filter(pred).select(graft.sources.Warc.formatResponse(
            concat(lit("https://crawl.example/doc/"), col("id")),
            lit("2024-01-01T00:00:00Z"), lit("text/plain"),
            col("content")).as("rec")).repartition(2),
          s"$out/drop$n")
      drop(1, col("id").cast("long") % 62 === 0)
      val c = Collection(s, root, "crawlstream")
      val stream = graft.sources.WarcGzip.readStream(s, s"$out/drop*/part-*.warc.gz")
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("body").as("content"))
      val q = c.streamIngest(stream).start()
      try {
        q.processAllAvailable()
        drop(2, col("id").cast("long") % 62 =!= 0)
        q.processAllAvailable()
      } finally q.stop()
      c.docs().select(col("id"), md5(col("content")).as("h"))
    }, Some(s"""SELECT $DocId AS id, md5(text) AS h
               |FROM documents WHERE doc_id % 31 = 0""".stripMargin)),

    // X141: CDX-style member index + random-access fetch — the 100 TB
    // access pattern: index the archive ONCE (header-only pass surfacing
    // each record's (file, offset, length) coordinates), then FETCH only
    // the records a query names instead of re-scanning. The entry builds
    // the corpus, indexes it, selects a stratum by uri FROM THE INDEX,
    // fetches those pointers, and emits (id, md5(body), length>0): the
    // md5s only match if every coordinate addressed its exact member and
    // the fetched parse (framing, headers, body slice) equals the
    // scanning read's.
    ("x141_warc_index_fetch", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x141-")
      graft.sources.WarcGzip.writeGzip(
        docsFrame(s, sfDir).select(graft.sources.Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), col("id")),
          lit("2024-01-01T00:00:00Z"), lit("text/plain"),
          col("content")).as("rec")).repartition(4),
        s"$out/crawl")
      val idx = graft.sources.WarcGzip.index(s, s"$out/crawl")
      val wanted = idx.filter(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long") % 9 === 0)
      graft.sources.WarcGzip.fetch(s, wanted)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          md5(col("body")).as("h"),
          (col("length") > 0).as("has_len"))
    }, Some(s"""SELECT $DocId AS id, md5(text) AS h, true AS has_len
               |FROM documents WHERE doc_id % 9 = 0""".stripMargin)),

    // X143: zipnum-sharded CDX + block-pruned lookup — the access pattern
    // a PUBLISHED index exists for (Common Crawl's cc-index layout):
    // archive → member index → CDX lines → writeZipnum (globally sorted
    // gzip blocks + a cluster.idx secondary) → a surt-prefix lookup that
    // decompresses ONLY covering blocks → fetch of the returned pointers.
    // The (urlkey, timestamp) replay is string arithmetic in DuckDB; the
    // md5s only match if the sort/blocking kept every line intact, the
    // secondary's span arithmetic selected every covering block (no
    // boundary loss), and the pointers still addressed exact members.
    ("x143_cdx_zipnum", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x143-")
      graft.sources.WarcGzip.writeGzip(
        docsFrame(s, sfDir).select(graft.sources.Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), col("id")),
          lit("2024-01-02T03:04:05Z"), lit("text/plain"),
          col("content")).as("rec")).repartition(4),
        s"$out/gz")
      graft.sources.Cdx.writeZipnum(
        graft.sources.Cdx.format(graft.sources.WarcGzip.index(s, s"$out/gz")),
        s"$out/zip", blockLines = 64)
      val hits = graft.sources.Cdx.lookup(s, s"$out/zip",
        "example,crawl)/doc/1", warcRoot = Some(s"$out/gz"))
      val recs = graft.sources.WarcGzip.fetch(s, hits)
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          md5(col("body")).as("h"))
      hits.select(regexp_extract(col("url"), "/doc/(\\d+)$", 1).as("id"),
          col("urlkey"), col("timestamp"))
        .join(recs, Seq("id"))
    }, Some(s"""SELECT $DocId AS id,
               |  'example,crawl)/doc/' || $DocId AS urlkey,
               |  '20240102030405' AS timestamp, md5(text) AS h
               |FROM documents WHERE $DocId LIKE '1%'""".stripMargin)),

    // X144: revisit resolution — the archival URL-dedup convention: every
    // 4th capture gets a body-less REVISIT record pointing at its
    // original, half via WARC-Refers-To record id (the Heritrix form),
    // half via payload digest only (CC's newer segments). resolveRevisits
    // must join each back to the right original capture and say which arm
    // matched; the oracle replays the expectation as pure arithmetic.
    ("x144_revisit_resolve", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x144-")
      val docs = docsFrame(s, sfDir)
        .select(col("id"), col("content"), col("id").cast("long").as("n"))
      // digest unique BY CONSTRUCTION (keyed on id, not content alone):
      // planted duplicate texts in the corpus must not collide originals
      val digest = concat(lit("md5:"), md5(concat_ws(":", col("id"), col("content"))))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"), col("content"))
      val original = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://crawl.example/doc/"),
        col("id"),
        lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:doc:"),
        col("id"),
        lit(">\r\nWARC-Payload-Digest: "), digest,
        lit("\r\nContent-Length: "), octet_length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val revisit = graft.sources.Warc.formatRevisit(
        concat(lit("https://mirror.example/doc/"), col("id")),
        lit("2024-02-01T00:00:00Z"),
        when(col("n") % 8 === 0, concat(lit("<urn:doc:"), col("id"), lit(">"))),
        when(col("n") % 8 === 0, concat(lit("https://crawl.example/doc/"), col("id"))),
        when(col("n") % 8 =!= 0, digest))
      val recs = docs.select(original.as("rec"))
        .unionByName(docs.filter(col("n") % 4 === 0).select(revisit.as("rec")))
      graft.sources.WarcGzip.writeGzip(recs.repartition(4), s"$out/crawl")
      CrawlPipeline.resolveRevisits(graft.sources.WarcGzip.read(s, s"$out/crawl"))
        .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1).as("id"),
          col("original_id"), col("original_uri"), col("matched_by"))
    }, Some(s"""SELECT $DocId AS id,
               |  '<urn:doc:' || $DocId || '>' AS original_id,
               |  'https://crawl.example/doc/' || $DocId AS original_uri,
               |  CASE WHEN doc_id % 8 = 0 THEN 'refers_to' ELSE 'digest' END AS matched_by
               |FROM documents WHERE doc_id % 4 = 0""".stripMargin)),

    // X147: robots.txt directives beyond allow/disallow — the scheduler
    // inputs a crawl pipeline reads: Sitemap (group-INDEPENDENT per
    // sitemaps.org, planted before any group) and Crawl-delay
    // (group-scoped: even hosts declare it in a graftbot-specific group,
    // odd hosts in the star group — agent selection must pick each
    // correctly). One host per doc_id%50 class; the oracle derives every
    // row from the residue arithmetic.
    ("x147_robots_directives", (s: SparkSession, sfDir: String) => {
      val robotsDf = readPar(s, s"$sfDir/documents.parquet")
        .select((col("doc_id") % 50).as("k")).distinct()
        .select(
          concat(lit("https://h"), col("k"), lit(".example/robots.txt")).as("url"),
          concat(
            lit("Sitemap: https://h"), col("k"), lit(".example/sm.xml\n"),
            when(col("k") % 2 === 0,
              concat(lit("User-agent: graftbot\nCrawl-delay: "),
                (col("k") % 7 + 1).cast("string")))
              .otherwise(concat(lit("User-agent: *\nCrawl-delay: "),
                (col("k") % 5 + 1).cast("string")))).as("content"))
      Web.robotsDirectives(robotsDf, agent = "graftbot")
        .select(col("host"), col("field"), col("value"))
    }, Some("""WITH ks AS (SELECT DISTINCT doc_id % 50 AS k FROM documents)
              |SELECT 'h' || k || '.example' AS host, 'sitemap' AS field,
              |       'https://h' || k || '.example/sm.xml' AS value FROM ks
              |UNION ALL
              |SELECT 'h' || k || '.example', 'crawl-delay',
              |       CASE WHEN k % 2 = 0 THEN CAST(k % 7 + 1 AS VARCHAR)
              |            ELSE CAST(k % 5 + 1 AS VARCHAR) END
              |FROM ks""".stripMargin)),

    // X145: streaming offset compaction — maxFileAgeMs bounds checkpoint
    // offsets on long-lived drop directories (Spark file-source maxFileAge
    // semantics): a drop ALREADY older than the horizon at first listing
    // is never read, a fresh drop is read exactly once. The fixture ages
    // drop 1 two hours into the past against a one-hour horizon; the
    // final collection replays in DuckDB as the fresh stratum only — it
    // matches only if the watermark excluded the aged files AND the fresh
    // files still ingested exactly once through the compacted offset.
    ("x145_stream_compaction", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x145-")
      val root = tempDirCleanedOnExit("graft-x145c-")
      val docs = docsFrame(s, sfDir)
        .filter(col("id").cast("long") % 37 === 0)
      def drop(n: Int, pred: org.apache.spark.sql.Column): Unit =
        graft.sources.WarcGzip.writeGzip(
          docs.filter(pred).select(graft.sources.Warc.formatResponse(
            concat(lit("https://crawl.example/doc/"), col("id")),
            lit("2024-01-01T00:00:00Z"), lit("text/plain"),
            col("content")).as("rec")).repartition(2),
          s"$out/drop$n")
      drop(1, col("id").cast("long") % 74 === 0)
      new java.io.File(s"$out/drop1").listFiles().foreach(
        _.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
      drop(2, col("id").cast("long") % 74 =!= 0)
      val c = Collection(s, root, "compstream")
      val stream = graft.sources.WarcGzip.readStream(
          s, s"$out/drop*/part-*.warc.gz", maxFileAgeMs = Some(3600L * 1000))
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("body").as("content"))
      val q = c.streamIngest(stream).start()
      try q.processAllAvailable() finally q.stop()
      c.docs().select(col("id"), md5(col("content")).as("h"))
    }, Some(s"""SELECT $DocId AS id, md5(text) AS h
               |FROM documents WHERE doc_id % 37 = 0 AND doc_id % 74 <> 0""".stripMargin)),

    // X146: WAT metadata sidecar — the third leg of the CC product triple
    // (WARC x135, WET x136, WAT here): an archive of HTML captures with
    // residue-class head metadata (title absent on %5, canonical on %3) →
    // toWat (head-metadata JSON as WARC metadata records, Refers-To naming
    // the capture) → member-gzip roundtrip → fields parsed BACK out of the
    // JSON payload. The oracle derives every field from the arithmetic:
    // it matches only if extraction, the sparse-JSON convention (absent
    // field = no key), the metadata record framing, and Refers-To
    // plumbing all held through the write/read roundtrip.
    ("x146_wat_metadata", (s: SparkSession, sfDir: String) => {
      val out = tempDirCleanedOnExit("graft-x146-")
      val docs = docsFrame(s, sfDir)
        .select(col("id"), col("content"), col("id").cast("long").as("n"))
      val title = when(col("n") % 5 =!= 0,
        concat(lit("<title>Doc &amp; "), col("id"), lit("</title>")))
        .otherwise(lit(""))
      val canon = when(col("n") % 3 =!= 0,
        concat(lit("<link rel=\"canonical\" href=\"https://canon.example/"),
          col("id"), lit("\">"))).otherwise(lit(""))
      val html = concat(lit("<html><head>"), title, canon,
        lit("</head><body><p>"), col("content"), lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
      val original = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://crawl.example/doc/"),
        col("id"),
        lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:doc:"),
        col("id"),
        lit(">\r\nContent-Length: "), octet_length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      graft.sources.WarcGzip.writeGzip(
        docs.select(original.as("rec")).repartition(4), s"$out/crawl")
      graft.sources.WarcGzip.writeGzip(
        CrawlPipeline.toWat(graft.sources.WarcGzip.read(s, s"$out/crawl"))
          .repartition(4),
        s"$out/wat")
      graft.sources.WarcGzip.read(s, s"$out/wat")
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).as("id"),
          col("warc_type"), col("content_type"), col("refers_to"),
          get_json_object(col("body"), "$.title").as("title"),
          get_json_object(col("body"), "$.canonical_url").as("canonical_url"))
    }, Some(s"""SELECT $DocId AS id, 'metadata' AS warc_type,
               |  'application/json' AS content_type,
               |  '<urn:doc:' || $DocId || '>' AS refers_to,
               |  CASE WHEN doc_id % 5 <> 0 THEN 'Doc & ' || $DocId END AS title,
               |  CASE WHEN doc_id % 3 <> 0
               |       THEN 'https://canon.example/' || $DocId END AS canonical_url
               |FROM documents""".stripMargin)),

    // X130: the COMPOSED web-curation pipeline — the provenance-side
    // complement of x126's content-side chain: x124 URL canonicalization +
    // dedup (on the planted dup/tracking-param fixture) → x129 blocklist
    // (tracker.net + a phrase) → x128 HTML wrap + extraction → x8 langid
    // gate (keep 'en') → x99b per-domain cap (5, NULL-domain bucket capped
    // like any other). Final (id, domain, md5(content)) only matches if
    // every stage's corpus matched — pinning URL/column/NULL hand-off
    // ACROSS the web operators. The oracle derives each stage
    // independently where it can (domains from the arm arithmetic, the
    // extraction's expected text constructed directly instead of replaying
    // the regex chain) — a stronger check than re-running the engine's own
    // recipe.
    ("x130_web_pipeline", (s: SparkSession, sfDir: String) => {
      val docs = dupUrlDocs(s, sfDir)
      val deduped = Web.dedupByUrl(docs)
      val clean = Web.filterByBlocklist(deduped,
        blockedDomains = Seq("tracker.net"), blockedPhrases = Seq("table hash"))
      val extracted = clean.withColumn("content",
        Html.htmlToText(concat(lit("<body><h1>Page &amp; no."), col("id"),
          lit("</h1><p>"), col("content"),
          lit("</p><script>var x = 1;</script></body>"))))
      val en = TextStats.langId(extracted)
        .filter(col("pred_lang") === "en").drop("pred_lang")
      Web.capPerDomain(en, maxPerDomain = 5)
        .select(col("id"), Web.registrableDomain(col("url")).as("domain"),
          md5(col("content")).as("h"))
    }, Some(webPipelineOracle)),

    // X125: asymmetric containment dedup — planted "snippet" docs (the
    // first 20 tokens of every 7th document) must be found CONTAINED in
    // their source (containment 1.0) even though their symmetric Jaccard
    // vs the full doc is far below any dedup threshold (the mode X4
    // misses). Probe side restricted to the planted docs so the all-pairs
    // DuckDB replay stays tractable; maxBucket disabled so the prefix
    // filter's completeness theorem is what the oracle checks.
    ("x125_containment", (s: SparkSession, sfDir: String) => {
      // filters stay on the NUMERIC doc_id: a string→bigint cast filter on
      // `id` would be constraint-INFERRED across downstream self-joins onto
      // the ct-prefixed rows and throw under ANSI (the x125b lesson)
      val raw = readPar(s, s"$sfDir/documents.parquet")
      val base = raw.select(col("doc_id").cast("string").as("id"), col("text"))
      val planted = raw.filter(col("doc_id") % 7 === 0)
        .select(concat(lit("ct"), col("doc_id").cast("string")).as("id"),
          concat_ws(" ", slice(graft.functions.TextFunctions.tokens(col("text")),
            1, 20)).as("text"))
      val all = base.unionByName(planted)
        .select(col("id"), col("text").as("content"))
      Dedup.containmentPairs(all, threshold = 0.85, maxBucket = Int.MaxValue)
        .filter(col("id").startsWith("ct"))
        .select(col("id"), col("in_id"),
          round(col("containment"), 6).as("containment"),
          round(col("jaccard"), 6).as("jaccard"))
    }, Some(containmentOracle)),

    // X125b: containment curation — dropContained must keep exactly the
    // docs no strictly-larger (or equal-size smaller-id) document covers
    // at >= 0.85. Subset corpus (every 5th doc + snippets of every 35th)
    // keeps the all-pairs DuckDB replay tractable; the planted snippets
    // must all be dropped (their sources are strictly larger and cover
    // them fully), the sources themselves survive.
    ("x125b_drop_contained", (s: SparkSession, sfDir: String) => {
      // numeric-doc_id filters ONLY: dropContained anti-joins the corpus
      // with itself, and Spark's InferFiltersFromConstraints copies the
      // left side's filters onto the right ACROSS the join key — a
      // string→bigint cast filter on `id` lands on the concat('ct',…)
      // rows and throws under ANSI (caught by the sf0.1 bench)
      val raw = readPar(s, s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 5 === 0)
      val base = raw.select(col("doc_id").cast("string").as("id"), col("text"))
      val planted = raw.filter(col("doc_id") % 35 === 0)
        .select(concat(lit("ct"), col("doc_id").cast("string")).as("id"),
          concat_ws(" ", slice(graft.functions.TextFunctions.tokens(col("text")),
            1, 20)).as("text"))
      val all = base.unionByName(planted)
        .select(col("id"), col("text").as("content"))
      Dedup.dropContained(all, threshold = 0.85, maxBucket = Int.MaxValue)
        .select(col("id"))
    }, Some(dropContainedOracle)),

    // X125c: containment cap-sizing diagnostic — the shared-shingle df
    // profile over the full documents table at maxBucket = 64, exposing
    // the TIE-ORDER-INVARIANT columns: probe_rows is Σ(⌊(1−t)·|S|⌋+1),
    // and the kept/skipped candidate volumes depend only on each doc's
    // chosen df MULTISET (the p smallest dfs), which is unique even though
    // equal-df ties break by hash on the engine and by string in the
    // oracle. probe_shingles/capped_shingles are tie-DEPENDENT distincts
    // and stay spec-pinned instead.
    ("x125c_containment_stats", (s: SparkSession, sfDir: String) => {
      val docs = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"))
      Dedup.containmentBucketStats(docs, threshold = 0.8, maxBucket = 64)
        .select(col("probe_rows"), col("candidates_kept"),
          col("candidates_skipped"))
    }, Some(containmentStatsOracle)),

    // X126: the COMPOSED curation pipeline — the canonical C4/RefinedWeb
    // chain as ONE oracle-replayed flow: normalize (X40) → strip
    // boilerplate (X24) → signal-sweep keep (X117) → corpus line dedup
    // (X25) → near-dedup (X2b) → decontaminate vs the src0 benchmark
    // (X20) → leakage-safe split (X109) → deterministic shards (X31).
    // 177 isolated entries can't see cross-operator contracts — column
    // hand-off, NULL flow, and determinism THROUGH eight stages — this one
    // does: the final (id, split, shard, pos, md5(content)) row set only
    // matches if every intermediate corpus matched. Plants give each stage
    // real work: a non-alpha banner (boilerplate-stripped), a corpus-wide
    // subscribe line (line-dedup df = corpus), near-dup clones of every
    // 25th doc (collapse at 0.8), and a per-doc unique line (keeps every
    // doc non-empty and byte-distinct through all stages, so the exact-dup
    // arm and the Jaccard replay cannot diverge on degenerate docs).
    ("x126_curate_pipeline", (s: SparkSession, sfDir: String) => {
      val raw = readPar(s, s"$sfDir/documents.parquet")
      val bench = raw.filter(col("source") === "src0")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"))
      // the train corpus halves (numeric residue, never a string cast) —
      // all eight stage seams keep their plants (banner, subscribe line,
      // clone pairs via %50, per-doc unique line); the x135 trim rationale
      val train = raw.filter(col("source") =!= "src0" && col("doc_id") % 2 === 0)
      val base = train.select(col("doc_id").cast("string").as("id"), col("text"))
      val clones = train.filter(col("doc_id") % 25 === 0)
        .select(concat(lit("dup_"), col("doc_id").cast("string")).as("id"),
          concat(col("text"), lit(" zzextratoken")).as("text"))
      val noisy = base.unionByName(clones).select(col("id"),
        concat(lit(">>> *** <<<\nSubscribe to our newsletter today\n"),
          col("text"), lit("\nunique token line "), col("id")).as("content"))
      // stage BOUNDARIES are materialized (x122's freeze pattern): the
      // dedup/split stages each reference their input several times, and
      // every lazy reference would re-run the WHOLE upstream chain — at
      // this fixture size a local frame is the right materialization; the
      // library-scale equivalent is persist()/checkpoint between stages
      // (measured unfrozen: the 8-deep lazy DAG re-evaluated stages ~50x,
      // 206 s vs ~15 s frozen)
      def freeze(df: DataFrame): DataFrame =
        s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      val norm = TextStats.normalizeText(noisy)
        .select(col("id"), col("content_norm").as("content"))
      val strip = freeze(TextStats.stripBoilerplate(norm)
        .select(col("id"), col("content_clean").as("content")))
      val kept = freeze(strip.join(
        TextStats.signalSweep(strip, minWords = 30, minStopwordHits = 1)
          .filter(col("keep")).select("id"), Seq("id"), "left_semi"))
      val lines = freeze(Dedup.dedupLinesCorpus(kept)
        .select(col("id"), col("content_dedup").as("content")))
      val deduped = freeze(Dedup.dedupCorpus(lines))
      val decon = freeze(Pipeline.decontaminate(deduped, bench, n = 8))
      val split = Pipeline.splitByCluster(decon,
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
      Pipeline.shuffleShards(split, numShards = 8, seed = 42L)
        .select(col("id"), col("split"), col("shard"), col("pos"),
          md5(col("content")).as("final_md5"))
    }, Some(curatePipelineOracle)),

    // X127: trainable quality classifier — binary multinomial Naive Bayes
    // (the CCNet/GPT-3/DCLM discriminative-filter step), trained on src0
    // (pos) vs src1 (neg) documents and scoring the WHOLE corpus. The
    // oracle replays the ENTIRE train+score pipeline in SQL: token counts
    // per class, Laplace-smoothed log-likelihood ratios, the doc-count
    // prior, per-doc tf·w sums — closed-form training is what makes the
    // model engine-replayable at all (no SGD order, no init).
    ("x127_quality_classifier", (s: SparkSession, sfDir: String) => {
      val all = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("content"), col("source"))
      val model = graft.ext.Classify.trainQualityNb(
        all.filter(col("source") === "src0"),
        all.filter(col("source") === "src1"))
      graft.ext.Classify.scoreQualityNb(all, model)
        .select(col("id"), round(col("logodds"), 6).as("logodds"))
    }, Some(nbClassifierOracle)),

    // X127b: the bigram-featured NB classifier — same closed-form train +
    // zero-shuffle scan score, with the feature space widened by HASHED
    // adjacent-pair features ('bg:' + md5("w1 w2")), the word-order signal
    // the DCLM/WebText-class quality filters lean on. The oracle replays
    // the full hashed-feature train+score: DuckDB derives the identical
    // bigram keys with its own md5, so feature hashing, smoothing width
    // (|V| now counts bigram features), and the scan's per-instance sums
    // are all pinned cross-engine.
    ("x127b_quality_classifier_bigram", (s: SparkSession, sfDir: String) => {
      val all = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("content"), col("source"))
      val model = graft.ext.Classify.trainQualityNb(
        all.filter(col("source") === "src0"),
        all.filter(col("source") === "src1"), bigrams = true)
      graft.ext.Classify.scoreQualityNb(all, model)
        .select(col("id"), round(col("logodds"), 6).as("logodds"))
    }, Some(nbBigramClassifierOracle)),

    ("x8_text_langid", (s: SparkSession, sfDir: String) =>
      TextStats.langId(docsFrame(s, sfDir)).select("id", "pred_lang"),
      Some(langIdOracle)),

    ("x9_text_quality", (s: SparkSession, sfDir: String) =>
      TextStats.quality(docsFrame(s, sfDir))
        .select(col("id"), col("n_tokens"), round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"), round(col("quality"), 6).as("quality")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w, lower(text) AS lt FROM documents),
              | m AS (SELECT id,
              |   CAST(len(w) AS BIGINT) AS n_tokens,
              |   CASE WHEN len(w) = 0 THEN 0.0 ELSE list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w) END AS avg_len,
              |   CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w, x -> x IN ('the','a','and','of','to','is','in'))) * 1.0 / len(w) END AS stop_ratio
              |  FROM t)
              |SELECT id, n_tokens, round(avg_len, 6) AS avg_token_len, round(stop_ratio, 6) AS stopword_ratio,
              |  round(least(n_tokens / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + least(avg_len / 10.0, 1.0) * 0.2, 6) AS quality
              |FROM m""".stripMargin)),

    ("x10_text_tokens", (s: SparkSession, sfDir: String) =>
      TextStats.tokenCounts(docsFrame(s, sfDir)).select("id", "n_ws", "n_bpe"),
      Some(s"""SELECT $DocId AS id,
              |  CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_ws,
              |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe
              |FROM documents""".stripMargin)),

    ("x11_text_fingerprint", (s: SparkSession, sfDir: String) =>
      TextStats.fingerprint(docsFrame(s, sfDir), n = 8).select("id", "fingerprint"),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents)
              |SELECT id, CASE WHEN len(w) < 8
              |  THEN md5(array_to_string(w, ' '))
              |  ELSE (SELECT min(md5(array_to_string(w[i:i+7], ' ')))
              |        FROM (SELECT unnest(range(1, len(w) - 6)) AS i))
              |  END AS fingerprint
              |FROM t""".stripMargin)),

    ("x12_text_corpus_stats", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("lang"), col("text").as("content"))
      TextStats.corpusStats(d, "lang")
        .select(col("lang"), col("n_docs"), col("total_chars"),
          round(col("avg_chars"), 6).as("avg_chars"), col("total_tokens"))
    }, Some(s"""SELECT lang, COUNT(*) AS n_docs,
               |  CAST(SUM(len(text)) AS BIGINT) AS total_chars, round(AVG(len(text)), 6) AS avg_chars,
               |  CAST(SUM(len($Toks)) AS BIGINT) AS total_tokens
               |FROM documents GROUP BY lang""".stripMargin)),

    ("x18_pack_sequences", (s: SparkSession, sfDir: String) =>
      // concat-and-chunk sequence packing: hash-sharded, id-ordered running
      // token offsets, cut every 512 tokens (oracle replays the md5-prefix
      // shard hash and the per-shard running sum exactly)
      Pipeline.packSequences(docsFrame(s, sfDir), budget = 512, shards = 8)
        .select("id", "shard", "n_tokens", "offset", "bin"),
      Some(s"""WITH t AS (SELECT $DocId AS id,
              |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
              |    CAST(('0x' || substr(md5($DocId), 1, 12))::BIGINT % 8 AS INT) AS shard
              |  FROM documents),
              | o AS (SELECT id, shard, n_tokens,
              |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
              |  FROM t)
              |SELECT id, shard, n_tokens, "offset",
              |  CAST(floor("offset" / 512) AS BIGINT) AS bin FROM o""".stripMargin)),

    ("x19_sample_stratified", (s: SparkSession, sfDir: String) => {
      // deterministic md5-threshold stratified sampling by lang; membership
      // is a pure function of the id (stable across runs/engines/retries)
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("lang"))
      Pipeline.sampleStratified(d, "lang",
          Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), defaultFraction = 0.05)
        .select("id", "lang")
    }, Some(s"""SELECT $DocId AS id, lang FROM documents
               |WHERE ('0x' || substr(md5($DocId), 1, 12))::BIGINT % 1000000 <
               |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
               |            WHEN 'zh' THEN 100000 ELSE 50000 END""".stripMargin)),

    // Per-source length quantiles: the EXACT arm is value-checked against
    // DuckDB quantile_cont (same linear interpolation); the sketch arm
    // (approx_percentile) is gated Spark-side by the principled rank-error
    // bound — its q must land between the exact quantiles at p ± ε·slack —
    // because a mergeable sketch's exact output is partitioning-dependent
    // (the x49 HLL pattern).
    ("x61_quantiles", (s: SparkSession, sfDir: String) =>
      TextStats.lengthQuantiles(
        readPar(s, s"$sfDir/documents.parquet").withColumn("content", col("text")),
        groupCol = "source")
        .select(col("source"), col("p"), round(col("q_exact"), 6).as("q_exact"),
          col("approx_ok")),
      Some("""WITH a AS (SELECT source,
             |    quantile_cont(length(text), [0.25, 0.5, 0.75, 0.95]) AS qs
             |  FROM documents GROUP BY source)
             |SELECT source, unnest([CAST(0.25 AS DOUBLE), 0.5, 0.75, 0.95]) AS p,
             |       round(unnest(qs), 6) AS q_exact, true AS approx_ok
             |FROM a""".stripMargin)),

    // Exactly-10-per-source deterministic sample: smallest md5(seed:id)
    // draws win; the oracle replays the draw and the rank window.
    ("x66_sample_fixed", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("source"))
      Pipeline.sampleFixedPerGroup(d, "source", k = 10, seed = 5L)
        .select("id", "source")
    }, Some(s"""SELECT id, source FROM (
               |  SELECT $DocId AS id, source,
               |    row_number() OVER (PARTITION BY source
               |      ORDER BY md5('5:' || $DocId), $DocId) AS rn
               |  FROM documents) WHERE rn <= 10""".stripMargin)),

    ("x60_sample_weighted", (s: SparkSession, sfDir: String) => {
      // quality-proportional selection: keep probability = n_chars/600
      // (clamped) — a pure function of (seed, id, weight), replayed exactly
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          (col("n_chars") / 600.0).as("w"), col("source"))
      Pipeline.sampleWeighted(d, "w", seed = 7L).select("id", "source")
    }, Some(s"""SELECT $DocId AS id, source FROM documents
               |WHERE ('0x' || substr(md5('7:' || $DocId), 1, 12))::BIGINT % 1000000 <
               |  CAST(floor(LEAST(GREATEST(n_chars / CAST(600.0 AS DOUBLE), 0), 1) * 1000000) AS BIGINT)""".stripMargin)),

    ("x22_mix_corpora", (s: SparkSession, sfDir: String) => {
      // training-mixture weighting: downsample 3 sources toward a 6000-token
      // budget split 50/30/20 (oracle replays the per-source token totals,
      // the double-precision fraction arithmetic, and the md5 thresholds)
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("content"), col("source"))
      Pipeline.mixCorpora(d, "source",
          Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2), budgetTokens = 6000)
        .select("id", "source")
    }, Some(s"""WITH tot AS (SELECT source,
               |    -- WHITESPACE tokens, matching Pipeline.mixCorpora (not the
               |    -- alnum tokenizer the FTS oracles use)
               |    CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS DOUBLE) AS tok
               |  FROM documents WHERE source IN ('src1','src2','src3') GROUP BY source),
               | fr AS (SELECT source,
               |    -- FLOOR(x + 0.5) = Scala math.round for x >= 0; a bare CAST
               |    -- would round half-to-nearest and land one above on
               |    -- fractions below .5
               |    CAST(FLOOR(LEAST(1.0, CASE source WHEN 'src1' THEN CAST(0.5 AS DOUBLE)
               |                                WHEN 'src2' THEN CAST(0.3 AS DOUBLE)
               |                                ELSE CAST(0.2 AS DOUBLE) END
               |      * 6000.0 / tok) * 1000000 + 0.5) AS BIGINT) AS thr
               |  FROM tot)
               |SELECT $DocId AS id, d.source
               |FROM documents d JOIN fr ON d.source = fr.source
               |WHERE ('0x' || substr(md5($DocId), 1, 12))::BIGINT % 1000000 < fr.thr""".stripMargin)),

    ("x21_repetition", (s: SparkSession, sfDir: String) =>
      // Gopher-style repetition metrics: duplicate-line fraction + the
      // most-frequent-2-gram token coverage (boilerplate/SEO-spam signals)
      TextStats.repetition(docsFrame(s, sfDir), n = 2)
        .select(col("id"), col("n_lines"), round(col("dup_line_frac"), 6).as("dup_line_frac"),
          col("top_ngram_tf"), round(col("top_ngram_frac"), 6).as("top_ngram_frac")),
      Some(s"""WITH tok AS (SELECT $DocId AS id,
              |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
              |    $Toks AS w FROM documents),
              | g AS (SELECT t.id, array_to_string(t.w[u.i:u.i+1], ' ') AS gram
              |       FROM tok t, UNNEST(range(1, len(t.w))) AS u(i)),
              | gc AS (SELECT id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2),
              | tg AS (SELECT id, MAX(tf) AS top_tf FROM gc GROUP BY 1)
              |SELECT t.id, CAST(len(t.lines) AS BIGINT) AS n_lines,
              |  round(CASE WHEN len(t.lines) = 0 THEN 0.0
              |    ELSE 1.0 - CAST(len(list_distinct(t.lines)) AS DOUBLE) / len(t.lines) END, 6)
              |    AS dup_line_frac,
              |  CAST(COALESCE(tg.top_tf, 0) AS BIGINT) AS top_ngram_tf,
              |  round(CASE WHEN len(t.w) = 0 THEN 0.0
              |    ELSE LEAST(1.0, CAST(COALESCE(tg.top_tf, 0) AS DOUBLE) * 2 / len(t.w)) END, 6)
              |    AS top_ngram_frac
              |FROM tok t LEFT JOIN tg ON t.id = tg.id""".stripMargin)),

    // PII scrubbing (CCNet/Dolma-style hygiene): deterministic PII injected
    // per doc (email, phone, IPv4 — all derivable from doc_id so DuckDB
    // replays the same corpus), counts taken on the original, matches
    // replaced in pattern order; the scrubbed content compares by md5.
    // Line-level boilerplate strip (C4/Gopher line filters): planted short
    // ("ok", "(c) 2024") and punctuation-run (">>> *** <<<") lines around
    // the real content are dropped, long alpha-heavy lines (including the
    // planted nav line — this is a length/alpha filter, not a semantic
    // detector) and the prose survive; md5 pins the exact surviving text
    // and the kept/total counts pin the boundary decisions per doc.
    ("x24_strip_boilerplate", (s: SparkSession, sfDir: String) => {
      val noisy = docsFrame(s, sfDir).withColumn("content",
        concat(lit("Home | About | Contact\n>>> *** <<<\nok\n"), col("content"),
          lit("\n(c) 2024\nnavigation menu footer links")))
      TextStats.stripBoilerplate(noisy)
        .select(col("id"), md5(col("content_clean")).as("clean_md5"),
          col("n_lines_kept"), col("n_lines_total"))
    }, Some(s"""WITH c AS (SELECT $DocId AS id,
               |    'Home | About | Contact' || chr(10) || '>>> *** <<<' || chr(10) || 'ok' || chr(10) ||
               |    text || chr(10) || '(c) 2024' || chr(10) || 'navigation menu footer links' AS content
               |  FROM documents),
               | t AS (SELECT id, string_split(content, chr(10)) AS ls FROM c),
               | k AS (SELECT id, ls, list_filter(ls, l -> len(trim(l)) >= 10 AND
               |    len(regexp_replace(trim(l), '[^A-Za-z]', '', 'g')) * 1.0 >= 0.5 * len(trim(l))) AS kept
               |  FROM t)
               |SELECT id, md5(array_to_string(kept, chr(10))) AS clean_md5,
               |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
               |  CAST(len(ls) AS BIGINT) AS n_lines_total
               |FROM k""".stripMargin)),

    // Corpus-level line dedup (C4/RefinedWeb: drop every line whose trimmed
    // form repeats >= minDf times anywhere in the corpus). Planted cohorts
    // pin each frequency tier: a line shared by ALL docs (df=corpus) and one
    // by the even half (df=n/2) are dropped; a line planted TWICE in the
    // same doc (ids % 3 == 0) is dropped too — within-doc repeats count
    // toward df; the per-doc unique tail (df=1) and the real text survive.
    // md5 pins the exact surviving text, the counts pin every boundary.
    ("x25_dedup_lines", (s: SparkSession, sfDir: String) => {
      val noisy = docsFrame(s, sfDir).withColumn("content",
        concat(
          lit("Subscribe to our newsletter today\n"),
          when(col("id").cast("long") % 2 === 0, lit("even cohort banner\n"))
            .otherwise(lit("")),
          col("content"),
          when(col("id").cast("long") % 3 === 0,
            concat(lit("\nrepeat twice "), col("id"), lit("\nrepeat twice "), col("id")))
            .otherwise(lit("")),
          lit("\nunique token line "), col("id")))
      Dedup.dedupLinesCorpus(noisy)
        .select(col("id"), md5(col("content_dedup")).as("dedup_md5"),
          col("n_lines_kept"), col("n_lines_total"))
    }, Some(s"""WITH c AS (SELECT $DocId AS id,
               |    'Subscribe to our newsletter today' || chr(10) ||
               |    CASE WHEN doc_id % 2 = 0 THEN 'even cohort banner' || chr(10) ELSE '' END ||
               |    text ||
               |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'repeat twice ' || $DocId ||
               |      chr(10) || 'repeat twice ' || $DocId ELSE '' END ||
               |    chr(10) || 'unique token line ' || $DocId AS content
               |  FROM documents),
               | t AS (SELECT id, string_split(content, chr(10)) AS ls FROM c),
               | d AS (SELECT coalesce(list(k), []) AS dl FROM (
               |    SELECT trim(l) AS k FROM t, unnest(ls) AS r(l)
               |    WHERE len(trim(l)) > 0 GROUP BY 1 HAVING count(*) >= 2)),
               | k AS (SELECT id, ls, list_filter(ls,
               |    l -> len(trim(l)) = 0 OR NOT list_contains(dl, trim(l))) AS kept
               |  FROM t CROSS JOIN d)
               |SELECT id, md5(array_to_string(kept, chr(10))) AS dedup_md5,
               |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
               |  CAST(len(ls) AS BIGINT) AS n_lines_total
               |FROM k""".stripMargin)),

    // Fixed-window token chunking (context-window prep): every token must
    // land in >= 1 window, stride-24 windows of 32 overlap by 8, the last
    // window is ragged. md5 pins each window's exact text; idx/start/count
    // pin the window arithmetic per doc.
    ("x26_chunk_documents", (s: SparkSession, sfDir: String) =>
      Pipeline.chunkDocuments(docsFrame(s, sfDir), chunkSize = 32, stride = 24)
        .select(col("id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_md5")),
      Some(s"""WITH t AS (SELECT $DocId AS id,
              |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
              | m AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n FROM t WHERE len(w) > 0),
              | c AS (SELECT id, w, n, unnest(range(CAST(CASE WHEN n <= 32 THEN 1
              |    ELSE 1 + (n - 32 + 23) // 24 END AS BIGINT))) AS chunk_idx FROM m)
              |SELECT id, chunk_idx, chunk_idx * 24 AS chunk_start,
              |  CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens,
              |  md5(array_to_string(w[CAST(chunk_idx * 24 + 1 AS BIGINT) :
              |    CAST(chunk_idx * 24 + 32 AS BIGINT)], ' ')) AS chunk_md5
              |FROM c""".stripMargin)),

    // CCNet-style unigram-LM perplexity (corpus-trained, vocabSize=500 — far
    // below the corpus's distinct-token count, so the OOV branch is
    // exercised on every doc). The oracle replays vocabulary selection
    // (count desc, token asc, LIMIT V), the smoothing closed form, and the
    // per-doc mean exactly.
    ("x27_unigram_ppl", (s: SparkSession, sfDir: String) =>
      TextStats.unigramNll(docsFrame(s, sfDir), vocabSize = 500)
        .select(col("id"), col("n_tokens"),
          round(col("nll"), 6).as("nll"), round(col("ppl"), 6).as("ppl")),
      Some(s"""WITH tk AS (SELECT $DocId AS id, unnest($Toks) AS tok FROM documents),
              | cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
              | voc AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok ASC LIMIT 500),
              | pars AS (SELECT ln(CAST((SELECT coalesce(sum(cnt), 0) FROM cnt) +
              |    (SELECT count(*) FROM voc) + 1 AS DOUBLE)) AS lnd),
              | sc AS (SELECT tk.id, pars.lnd - ln(coalesce(voc.cnt, 0) + 1) AS nt
              |        FROM tk CROSS JOIN pars LEFT JOIN voc USING (tok)),
              | ag AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens, sum(nt) AS sm FROM sc GROUP BY id)
              |SELECT d.id, coalesce(ag.n_tokens, 0) AS n_tokens,
              |  round(coalesce(ag.sm / ag.n_tokens, 0.0), 6) AS nll,
              |  round(coalesce(exp(ag.sm / ag.n_tokens), 1.0), 6) AS ppl
              |FROM (SELECT DISTINCT $DocId AS id FROM documents) d LEFT JOIN ag ON d.id = ag.id""".stripMargin)),

    // Duplicated-substring spans (Lee et al. 2022 exact-substring dedup):
    // maximal merged token ranges covered by any 8-gram occurring >= 2 times
    // corpus-wide. The corpus's exact-dup clusters guarantee full-doc spans;
    // the oracle replays windowing, the frequency gate, and the
    // gaps-and-islands merge over gram TEXT (the Spark side buckets by a
    // 128-bit hash pair — agreement also pins collision-freeness here).
    ("x28_duplicate_spans", (s: SparkSession, sfDir: String) =>
      Dedup.duplicateSpans(docsFrame(s, sfDir), k = 8)
        .select(col("id"), col("span_start"), col("span_end")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | g AS (SELECT id, w, unnest(range(1, CAST(greatest(len(w) - 6, 1) AS BIGINT))) AS i FROM t),
              | g2 AS (SELECT id, i - 1 AS pos, array_to_string(w[i : i + 7], ' ') AS gram FROM g),
              | d AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
              | h AS (SELECT id, pos FROM g2 JOIN d USING (gram)),
              | m AS (SELECT id, pos, CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
              |    OR pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + 8 THEN 1 ELSE 0 END AS nw FROM h),
              | si AS (SELECT id, pos, sum(nw) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl FROM m)
              |SELECT id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(pos) + 7 AS BIGINT) AS span_end
              |FROM si GROUP BY id, isl""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-then-verify semantic dedup.
    // The pair set under k-means candidates is not oracle-able (recall < 1
    // by design), so — like x5b/x7 — the gate pins the properties that ARE
    // exact: numClusters=1 degenerates to the exact all-pairs set, every
    // clustered pair is exactly verified (subset, no false positives), and
    // semanticDedup drops exactly the id_b side of the k=1 pair set.
    ("x29_semdedup", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val exact = Dedup.embeddingDupPairs(e, threshold = 0.46, numTables = 0)
        .select("id_a", "id_b").persist()
      val k1 = Dedup.semanticDupPairs(e, threshold = 0.46, numClusters = 1,
        maxBucket = 1 << 20).select("id_a", "id_b").persist()
      try {
        val k1Eq = k1.exceptAll(exact).isEmpty && k1.count() == exact.count()
        val fps = Dedup.semanticDupPairs(e, threshold = 0.46, numClusters = 8)
          .select("id_a", "id_b")
          .join(exact, Seq("id_a", "id_b"), "left_anti").count()
        val kept = Dedup.semanticDedup(e, threshold = 0.46, numClusters = 1,
          maxBucket = 1 << 20).select(col("id")).persist()
        val dropIds = exact.select(col("id_b").as("id")).distinct().persist()
        val keptOk = try
          kept.count() == e.count() - dropIds.count() &&
            kept.join(dropIds, Seq("id"), "left_semi").count() == 0
        finally { kept.unpersist(); dropIds.unpersist() }
        Seq(("dedup_drops_exact_dups", keptOk), ("k1_equals_exact", k1Eq),
          ("no_false_positives", fps == 0L)).toDF("metric", "ok")
      } finally { exact.unpersist(); k1.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('dedup_drops_exact_dups', true),
              |  ('k1_equals_exact', true),
              |  ('no_false_positives', true)) AS t(metric, ok)""".stripMargin)),

    // Cross-corpus dedup (dedup-against): drop from the corpus slice
    // whatever the reference slice (doc_id % 7 == 0) already contains.
    // Exact arm oracle-checked here (the fixture's exact-dup clusters span
    // the % 7 split, so removal is non-trivial); the MinHash near arm's
    // cross-candidate/verify path is pinned by ExtSpec against the
    // union-corpus minHashDupPairs cross pairs (LSH recall itself is not
    // SQL-expressible).
    ("x30_dedup_against", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
          col("doc_id").cast("long").as("__n"), col("source"))
      val corpus = d.filter(col("__n") % 7 =!= 0).drop("__n")
      val ref = d.filter(col("__n") % 7 === 0).drop("__n")
      Dedup.dedupAgainst(corpus, ref, near = false).select("id", "source")
    }, Some(s"""SELECT $DocId AS id, source FROM documents d
               |WHERE doc_id % 7 <> 0 AND NOT EXISTS (
               |  SELECT 1 FROM documents r WHERE r.doc_id % 7 = 0 AND r.text = d.text)""".stripMargin)),

    // Deterministic global shuffle into training shards: shard and pos are
    // pure functions of (seed, id); the oracle replays the md5 rank
    // bit-for-bit (engine-portable hex-prefix arithmetic, the x19
    // discipline), pinning both the assignment and the full within-shard
    // permutation.
    ("x31_shuffle_shards", (s: SparkSession, sfDir: String) =>
      Pipeline.shuffleShards(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"), col("source")),
        numShards = 8, seed = 42L)
        .select(col("id"), col("source"), col("shard"), col("pos")),
      Some(s"""WITH k AS (SELECT $DocId AS id, source,
              |    md5('42:' || $DocId) AS rk FROM documents),
              | sh AS (SELECT id, source, rk,
              |    ('0x' || substr(rk, 1, 12))::BIGINT % 8 AS shard FROM k)
              |SELECT id, source, shard,
              |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, id) - 1 AS pos
              |FROM sh""".stripMargin)),

    // Deterministic train/validation/test holdout: split = first name whose
    // cumulative md5 boundary exceeds md5Mod(seed:id, 1e6) — a pure function
    // of (seed, id), so assignments never move as the corpus grows
    ("x37_split_corpus", (s: SparkSession, sfDir: String) =>
      Pipeline.splitCorpus(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"), col("source")),
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
        .select("id", "source", "split"),
      Some(s"""WITH k AS (SELECT $DocId AS id, source,
              |    ('0x' || substr(md5('7:' || $DocId), 1, 12))::BIGINT % 1000000 AS h
              |  FROM documents)
              |SELECT id, source,
              |  CASE WHEN h < 800000 THEN 'train'
              |       WHEN h < 900000 THEN 'validation'
              |       ELSE 'test' END AS split
              |FROM k""".stripMargin)),

    // X112: streaming drift monitor in batch mode — per-hour JS divergence
    // vs a fixed 3-token reference (OOV mass 0.85); DuckDB replays the
    // histogram and both JS half-sums per window.
    ("x112_stream_drift", (s: SparkSession, sfDir: String) =>
      EventStreams.driftStream(
        readPar(s, s"$sfDir/documents.parquet")
          .select(timestamp_micros(lit(1700000000000000L)
            + (col("doc_id") % 4) * 3600000000L).as("ts"),
            col("text").as("content")),
        Seq("table" -> 0.05, "hash" -> 0.05, "customer" -> 0.05), "1 hour")
        .select(unix_micros(col("window_start")).as("ws_us"),
          col("n_tokens"), round(col("js"), 6).as("js")),
      Some({
        def term(p: String, q: String) =
          s"""(CASE WHEN $p > 0 THEN 0.5 * $p * ln($p / (($p + $q) / 2)) ELSE 0 END
             | + CASE WHEN $q > 0 THEN 0.5 * $q * ln($q / (($p + $q) / 2)) ELSE 0 END)""".stripMargin
        s"""WITH d AS (SELECT (1700000000 + (doc_id % 4) * 3600) AS te, $Toks AS w FROM documents),
           | t AS (SELECT (te - te % 3600) AS ws, unnest(w) AS tok FROM d),
           | c AS (SELECT ws, count(*) AS n,
           |     sum(CASE WHEN tok = 'table' THEN 1 ELSE 0 END) AS c0,
           |     sum(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END) AS c1,
           |     sum(CASE WHEN tok = 'customer' THEN 1 ELSE 0 END) AS c2
           |   FROM t GROUP BY ws),
           | p AS (SELECT ws, n, c0 * 1.0 / n AS p0, c1 * 1.0 / n AS p1,
           |     c2 * 1.0 / n AS p2, (n - c0 - c1 - c2) * 1.0 / n AS pv FROM c)
           |SELECT CAST(ws AS BIGINT) * 1000000 AS ws_us, n AS n_tokens,
           |  round(${term("p0", "0.05")} + ${term("p1", "0.05")}
           |    + ${term("p2", "0.05")} + ${term("pv", "0.85")}, 6) AS js
           |FROM p""".stripMargin
      })),

    // X110: n-gram novelty — per-doc fraction of corpus-unique trigrams;
    // oracle replays the same distinct-shingle df join.
    ("x110_novelty", (s: SparkSession, sfDir: String) =>
      TextStats.noveltyScores(docsFrame(s, sfDir))
        .select(col("id"), col("n_grams"),
          round(col("novelty"), 6).as("novelty"),
          round(col("mean_df"), 6).as("mean_df")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
              |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
              |  FROM t),
              | g AS (SELECT id, unnest(s) AS g FROM sh),
              | df AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
              | per AS (SELECT id, count(*) AS n_grams,
              |     round(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty,
              |     round(avg(df), 6) AS mean_df
              |   FROM g JOIN df USING (g) GROUP BY id)
              |SELECT t.id, CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
              |  per.novelty, per.mean_df
              |FROM t LEFT JOIN per USING (id)""".stripMargin)),

    // X109: leakage-safe split — assignment keys on the near-dup cluster
    // root (x4b's recursive-CTE replay), so clusters move between splits
    // as one unit; singletons key on their own id.
    ("x109_split_by_cluster", (s: SparkSession, sfDir: String) =>
      Pipeline.splitByCluster(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"), col("text").as("content")),
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
        .select("id", "split"),
      Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
              | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
              | reach AS (SELECT s, d FROM edges
              |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),
              | cl AS (SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s),
              | k AS (SELECT $DocId AS id,
              |    coalesce(cl.cluster, $DocId) AS root
              |  FROM documents LEFT JOIN cl ON cl.id = $DocId),
              | h AS (SELECT id, ('0x' || substr(md5('7:' || root), 1, 12))::BIGINT % 1000000 AS h FROM k)
              |SELECT id, CASE WHEN h < 800000 THEN 'train'
              |       WHEN h < 900000 THEN 'validation'
              |       ELSE 'test' END AS split
              |FROM h""".stripMargin)),

    // Per-source token-length histogram + CDF (the corpus-composition
    // report): exact bucket counts, token mass, and cumulative fractions;
    // quantiles read off cum_frac. floor() on both engines (double->int
    // casts round differently, see lengthHistogram).
    ("x32_length_histogram", (s: SparkSession, sfDir: String) =>
      TextStats.lengthHistogram(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("text").as("content"), col("source")),
        bucketWidth = 32)
        .select(col("source"), col("bucket"), col("lo_tokens"), col("n_docs"),
          col("token_mass"), col("cum_docs"), round(col("cum_frac"), 6).as("cum_frac")),
      Some("""WITH t AS (SELECT source,
             |    CASE WHEN text IS NULL THEN 0
             |      ELSE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) END AS n
             |  FROM documents),
             | b AS (SELECT source, CAST(FLOOR(n / 32.0) AS BIGINT) AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS token_mass
             |  FROM t GROUP BY source, bucket)
             |SELECT source, bucket, bucket * 32 AS lo_tokens, n_docs, token_mass,
             |  CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bucket
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
             |  round(CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
             |    CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE), 6) AS cum_frac
             |FROM b""".stripMargin)),

    // Corpus vocabulary report: top-k tokens by frequency with document
    // frequency and corpus-mass fraction; deterministic tie-break by token
    // text. The oracle replays selection, both frequency kinds, and the
    // broadcast-scalar fraction.
    ("x33_top_tokens", (s: SparkSession, sfDir: String) =>
      TextStats.topTokens(docsFrame(s, sfDir), k = 50)
        .select(col("rank"), col("tok"), col("cnt"), col("doc_freq"),
          round(col("corpus_frac"), 6).as("corpus_frac")),
      Some(s"""WITH tk AS (SELECT $DocId AS id, unnest($Toks) AS tok FROM documents),
              | c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
              |    CAST(count(DISTINCT id) AS BIGINT) AS doc_freq FROM tk GROUP BY tok),
              | tt AS (SELECT coalesce(sum(cnt), 1) AS tot FROM c),
              | top AS (SELECT tok, cnt, doc_freq FROM c ORDER BY cnt DESC, tok ASC LIMIT 50)
              |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS INT) AS rank,
              |  tok, cnt, doc_freq,
              |  round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS corpus_frac
              |FROM top CROSS JOIN tt""".stripMargin)),

    // Corpus-trained BPE (Sennrich et al. 2016). Learned merges aren't
    // SQL-expressible, so — the x29 discipline — the gate pins the
    // properties that ARE exact: the persisted model round-trips, every
    // doc's subword units concatenate back to its exact token stream
    // (segmentation never alters content), the learned vocabulary
    // compresses below character count, and no word splits into fewer
    // units than one (bpe count >= word count). Merge-order determinism is
    // pinned by ExtSpec on a hand-computed corpus.
    ("x34_bpe_tokenize", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val d = docsFrame(s, sfDir)
      val m = Bpe.train(d, numMerges = 200)
      val roundtrip = Bpe.fromFrame(m.toFrame(s)).merges == m.merges
      val enc = Bpe.encode(d, m).persist()
      try {
        val toks = TextFunctions.tokens(col("content"))
        val bad = enc.select(concat_ws("", col("bpe_tokens")).as("a"),
            concat_ws("", toks).as("b"))
          .filter(col("a") =!= col("b")).count()
        val agg = enc.agg(
          sum(col("n_bpe_learned")),
          sum(coalesce(size(toks), lit(0)).cast("long")),
          sum(aggregate(coalesce(toks, array().cast("array<string>")),
            lit(0L), (acc, t) => acc + length(t)))).first()
        Seq(("model_roundtrips", roundtrip),
          ("reconstructs_tokens", bad == 0L),
          ("compresses_chars", agg.getLong(0) < agg.getLong(2)),
          ("at_least_one_unit_per_word", agg.getLong(0) >= agg.getLong(1)))
          .toDF("metric", "ok")
      } finally enc.unpersist()
    }, Some("""SELECT * FROM (VALUES ('model_roundtrips', true),
              |  ('reconstructs_tokens', true),
              |  ('compresses_chars', true),
              |  ('at_least_one_unit_per_word', true)) AS t(metric, ok)""".stripMargin)),

    // JSONL source/sink round-trip: the documents table written as JSONL
    // part files by the engine and read back with an explicit schema must
    // equal the original table byte-for-byte (md5 over content) — JSON
    // string escaping, omitted-null fields, and long/string typing all
    // pinned. The oracle reads the ORIGINAL parquet: the comparison is
    // through-the-format vs never-left-the-table.
    ("x35_jsonl_roundtrip", (s: SparkSession, sfDir: String) => {
      import org.apache.spark.sql.types._
      // per-run dir: a fixed path would let concurrent runs (or another sf)
      // clobber the data between write and read-back
      val out = tempDirCleanedOnExit("graft-x35-") + "/docs"
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
          col("lang"), col("n_chars"))
      graft.sources.Jsonl.writeDocs(d, out)
      graft.sources.Jsonl.readDocs(s, out, StructType(Seq(
          StructField("id", StringType), StructField("content", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType))))
        .select(col("id"), md5(coalesce(col("content"), lit(""))).as("content_md5"),
          col("lang"), col("n_chars"))
    }, Some(s"""SELECT $DocId AS id, md5(coalesce(text, '')) AS content_md5,
               |  lang, n_chars FROM documents""".stripMargin)),

    // Gopher document-level quality filter (Rae et al. 2021 A1.1) as one
    // call: every rule's metric plus the keep verdict, replayed exactly.
    // Bullet/ellipsis lines injected on doc_id % 4 == 0 exercise the line
    // rules (the injected ellipsis line lands bullet_frac 0.5 / ellipsis
    // 0.25 on single-line fixture docs — just inside the thresholds, so
    // the boundary arithmetic is what's pinned).
    // CSV roundtrip (x35's sibling for the other interchange format):
    // write headered RFC-4180 CSV, read back with an explicit schema,
    // checksum against the parquet source of truth.
    ("x65_csv_roundtrip", (s: SparkSession, sfDir: String) => {
      import org.apache.spark.sql.types._
      val out = tempDirCleanedOnExit("graft-x65-") + "/docs"
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
          col("lang"), col("n_chars"))
      graft.sources.Csv.writeDocs(d, out)
      graft.sources.Csv.readDocs(s, out, StructType(Seq(
          StructField("id", StringType), StructField("content", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType))))
        .select(col("id"), md5(coalesce(col("content"), lit(""))).as("content_md5"),
          col("lang"), col("n_chars"))
    }, Some(s"""SELECT $DocId AS id, md5(coalesce(text, '')) AS content_md5,
               |  lang, n_chars FROM documents""".stripMargin)),

    ("x36_gopher_filter", (s: SparkSession, sfDir: String) => {
      val noisy = docsFrame(s, sfDir).withColumn("content",
        when(col("id").cast("long") % 4 === 0,
          concat(lit("- item one\n- item two\nto be continued...\n"), col("content")))
          .otherwise(col("content")))
      TextStats.gopherFilter(noisy, minWords = 30, minStopwordHits = 1)
        .select(col("id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
          round(col("bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          col("n_stop_hits"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"), col("keep"))
    }, Some(s"""WITH c AS (SELECT $DocId AS id,
               |    CASE WHEN doc_id % 4 = 0 THEN '- item one' || chr(10) || '- item two' ||
               |      chr(10) || 'to be continued...' || chr(10) || text ELSE text END AS text
               |  FROM documents),
               | tok AS (SELECT id,
               |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS rawlines,
               |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS tlines,
               |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w,
               |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
               |  FROM c),
               | g AS (SELECT t.id, array_to_string(t.tk[u.i:u.i+1], ' ') AS gram
               |       FROM tok t, UNNEST(range(1, len(t.tk))) AS u(i)),
               | gc AS (SELECT id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2),
               | tg AS (SELECT id, MAX(tf) AS top_tf FROM gc GROUP BY 1),
               | m AS (SELECT t.id,
               |    CAST(len(t.w) AS BIGINT) AS n_words,
               |    CASE WHEN len(t.w) = 0 THEN 0.0
               |      ELSE list_sum(list_transform(t.w, x -> len(x))) * 1.0 / len(t.w) END AS mean_word_len,
               |    CASE WHEN len(t.w) = 0 THEN 0.0
               |      ELSE len(list_filter(t.w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(t.w) END AS alpha_word_frac,
               |    CASE WHEN len(t.tlines) = 0 THEN 0.0
               |      ELSE len(list_filter(t.tlines, l -> regexp_matches(l, '^[-*•]'))) * 1.0 / len(t.tlines) END AS bullet_line_frac,
               |    CASE WHEN len(t.tlines) = 0 THEN 0.0
               |      ELSE len(list_filter(t.tlines, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) * 1.0 / len(t.tlines) END AS ellipsis_line_frac,
               |    (CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'the') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'be') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'to') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'of') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'and') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'that') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'have') THEN 1 ELSE 0 END
               |     + CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), 'with') THEN 1 ELSE 0 END) AS n_stop_hits,
               |    CASE WHEN len(t.rawlines) = 0 THEN 0.0
               |      ELSE 1.0 - CAST(len(list_distinct(t.rawlines)) AS DOUBLE) / len(t.rawlines) END AS dup_line_frac,
               |    CASE WHEN len(t.tk) = 0 THEN 0.0
               |      ELSE LEAST(1.0, CAST(COALESCE(tg.top_tf, 0) AS DOUBLE) * 2 / len(t.tk)) END AS top_ngram_frac
               |  FROM tok t LEFT JOIN tg ON t.id = tg.id)
               |SELECT id, n_words, round(mean_word_len, 6) AS mean_word_len,
               |  round(alpha_word_frac, 6) AS alpha_word_frac,
               |  round(bullet_line_frac, 6) AS bullet_line_frac,
               |  round(ellipsis_line_frac, 6) AS ellipsis_line_frac, n_stop_hits,
               |  round(dup_line_frac, 6) AS dup_line_frac,
               |  round(top_ngram_frac, 6) AS top_ngram_frac,
               |  (n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
               |   AND alpha_word_frac >= 0.8 AND bullet_line_frac <= 0.9
               |   AND ellipsis_line_frac <= 0.3 AND n_stop_hits >= 1
               |   AND dup_line_frac <= 0.3 AND top_ngram_frac <= 0.2) AS keep
               |FROM m""".stripMargin)),

    ("x23_pii_scrub", (s: SparkSession, sfDir: String) => {
      val withPii = docsFrame(s, sfDir).withColumn("content",
        concat(lit("contact user"), col("id"), lit("@example.com or +4915551234567 at 10.0.42."),
          (col("id").cast("long") % 250 + 1).cast("string"), lit(" "), col("content")))
      TextStats.scrubPii(withPii)
        .select(col("id"), col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("content")).as("scrubbed_md5"))
    }, Some(s"""WITH c AS (SELECT $DocId AS id,
               |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +4915551234567 at 10.0.42.' ||
               |    CAST(doc_id % 250 + 1 AS VARCHAR) || ' ' || text AS content FROM documents)
               |SELECT id,
               |  CAST(len(regexp_extract_all(content, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               |  CAST(len(regexp_extract_all(content, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
               |  CAST(len(regexp_extract_all(content, '\\+\\d{9,15}')) AS BIGINT) AS n_phone,
               |  md5(regexp_replace(regexp_replace(regexp_replace(content,
               |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               |    '\\+\\d{9,15}', '<PHONE>', 'g')) AS scrubbed_md5
               |FROM c""".stripMargin)),

    ("x20_decontaminate", (s: SparkSession, sfDir: String) => {
      // eval-set-leakage check: training docs (source<>src0) sharing >=1
      // distinct 8-gram with any benchmark doc (source=src0); the corpus
      // side is never shuffled — the small bench gram set broadcasts
      val all = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("content"), col("source"))
      Pipeline.contaminationHits(
        all.filter(col("source") =!= "src0"),
        all.filter(col("source") === "src0"), n = 8)
    }, Some(s"""WITH tok AS (SELECT $DocId AS id, source, $Toks AS w FROM documents),
               | dg AS (SELECT DISTINCT t.id, array_to_string(t.w[u.i:u.i+7], ' ') AS gram
               |        FROM tok t, UNNEST(range(1, len(t.w) - 6)) AS u(i)
               |        WHERE t.source <> 'src0'),
               | bg AS (SELECT DISTINCT t.id AS bench_id, array_to_string(t.w[u.i:u.i+7], ' ') AS gram
               |        FROM tok t, UNNEST(range(1, len(t.w) - 6)) AS u(i)
               |        WHERE t.source = 'src0')
               |SELECT dg.id, bg.bench_id, CAST(COUNT(*) AS BIGINT) AS hits
               |FROM dg JOIN bg USING (gram) GROUP BY 1, 2""".stripMargin)),

    ("x13_multimodal_feats", (s: SparkSession, sfDir: String) => {
      // content bytes as the opaque media BLOB; batched stub decoder
      val media = docsFrame(s, sfDir)
        .select(col("id"), lit("text").as("modality"), col("content").cast("binary").as("media"))
      Multimodal.featurize(media, ByteStatsDecoder)
        .select(col("id"),
          element_at(col("features"), 1).cast("double").as("f_len"),
          element_at(col("features"), 2).cast("double").as("f_space"),
          element_at(col("features"), 3).cast("double").as("f_a"))
    }, Some(s"""SELECT $DocId AS id,
               |  CAST(len(text) AS DOUBLE) AS f_len,
               |  CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) AS f_space,
               |  CAST(len(text) - len(replace(text, 'a', '')) AS DOUBLE) AS f_a
               |FROM documents""".stripMargin)),

    ("x14_multimodal_crossmodal", (s: SparkSession, sfDir: String) => {
      val docs = docsFrame(s, sfDir)
      val embs = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val withEmb = Multimodal.withModalityEmbedding(docs, embs, "image")
      Multimodal.crossModalTopK(withEmb, "image", queryVec(s, sfDir), k = 10)
        .withColumn("rn", row_number().over(Window.orderBy(col("rank").desc, col("id").asc)))
        .select(col("rn").cast("long").as("rn"), col("id"), round(col("rank"), 6).as("sim"))
    }, Some("""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | j AS (SELECT CAST(d.doc_id AS VARCHAR) AS id,
              |         list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), CAST(q.e AS DOUBLE[])) AS sim
              |       FROM documents d JOIN embeddings v ON d.doc_id = v.vec_id CROSS JOIN q)
              |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rn, id, round(sim, 6) AS sim
              |FROM j ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin)),

    ("x15_stream_window", (s: SparkSession, sfDir: String) =>
      // batch-equivalent of the streaming windowed agg (ExtSpec pins the
      // watermark/late-data streaming behavior on the same transform)
      EventStreams.windowAgg(eventsFrame(s, sfDir))
        .select(unix_micros(col("window_start")).as("ws_us"), col("event_type"),
          col("n"), round(col("sum_value"), 6).as("sum_value")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
              |  COUNT(*) AS n, round(SUM(value), 6) AS sum_value
              |FROM events GROUP BY 1, 2""".stripMargin)),

    ("x17_stream_dedup", (s: SparkSession, sfDir: String) =>
      // streaming exact dedup (first-arrival-wins) in its batch/backfill
      // mode; only the key columns are output — survivor payloads are
      // arrival-order-dependent in a stream and deliberately not exposed.
      // The watermarked streaming path is pinned stream-vs-batch in ExtSpec.
      EventStreams.dedupStream(eventsFrame(s, sfDir), Seq("user_id", "event_type")),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    ("x16_stream_session", (s: SparkSession, sfDir: String) =>
      EventStreams.sessionAgg(eventsFrame(s, sfDir), gap = "30 minutes")
        .select(unix_micros(col("session_start")).as("ss_us"),
          unix_micros(col("session_end")).as("se_us"),
          col("user_id"), col("n_events"), round(col("sum_value"), 6).as("sum_value")),
      Some("""WITH e AS (SELECT user_id, ts, value,
              |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
              |        THEN 1 ELSE 0 END AS brk
              |  FROM events),
              | g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
              |         ROWS UNBOUNDED PRECEDING) AS sess FROM e)
              |SELECT epoch_us(min(ts)) AS ss_us,
              |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS se_us,
              |  user_id, COUNT(*) AS n_events, round(SUM(value), 6) AS sum_value
              |FROM g GROUP BY user_id, sess""".stripMargin)),

    // As-of join: each purchase picks the latest click at-or-before it per
    // user (LEFT OUTER; clickless purchases keep NULLs). The oracle is
    // DuckDB's NATIVE ASOF JOIN — an independent implementation of the
    // same semantics, not a replay of ours.
    ("x38_asof_join", (s: SparkSession, sfDir: String) => {
      val ev = eventsFrame(s, sfDir)
      Joins.asofJoin(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "click").select("user_id", "ts", "value"),
        keys = Seq("user_id"), rightPayload = Seq("value"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("r_value"), 6).as("r_value"), unix_micros(col("r_ts")).as("r_ts_us"))
    }, Some("""SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
              |  round(r.value, 6) AS r_value, epoch_us(r.ts) AS r_ts_us
              |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
              |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
              |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // Trailing-window range join: every (purchase, click-in-the-prior-6h)
    // pair per user, lowered to a bucketed equi-join. The oracle is the
    // naive inequality join DuckDB can afford at oracle scale.
    ("x39_range_join", (s: SparkSession, sfDir: String) => {
      val ev = eventsFrame(s, sfDir)
      Joins.rangeJoin(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        keys = Seq("user_id"), window = "6 hours", rightPayload = Seq("click_id"))
        .select(col("event_id"), col("r_click_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), unix_micros(col("r_ts")).as("r_ts_us"))
    }, Some("""SELECT l.event_id, r.event_id AS r_click_id, l.user_id,
              |  epoch_us(l.ts) AS ts_us, epoch_us(r.ts) AS r_ts_us
              |FROM events l JOIN events r ON l.user_id = r.user_id
              |WHERE l.event_type = 'purchase' AND r.event_type = 'click'
              |  AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 6 HOUR""".stripMargin)),

    // Text normalization. The corpus is clean ASCII, so the entry first
    // INJECTS deterministic typographic noise (curly quotes/dashes via
    // translate, a C0 control, double spaces, ellipsis+ZWSP, a 4-newline
    // run) with the same expression on both engines, then normalizes; the
    // oracle replays the full rule chain glyph-for-glyph.
    ("x40_normalize", (s: SparkSession, sfDir: String) => {
      val noised = docsFrame(s, sfDir).select(col("id"),
        concat(lit(" \u0001 "),
          translate(col("content"), "-\"'", "\u2013\u201c\u2019"),
          lit("\u2026\u200b"), lit("\n\n\n\n"), lit("x")).as("content"))
      TextStats.normalizeText(noised)
        .select(col("id"), col("content_norm"), col("changed"))
    }, Some(s"""WITH n AS (SELECT $DocId AS id,
               |    ' ' || chr(1) || ' ' ||
               |    translate(text, '-' || chr(34) || chr(39), chr(8211) || chr(8220) || chr(8217)) ||
               |    chr(8230) || chr(8203) || repeat(chr(10), 4) || 'x' AS noised
               |  FROM documents),
               | f AS (SELECT id, noised,
               |    replace(replace(translate(noised,
               |        '${sqlQuote(graft.ext.TextStats.NormFoldFrom)}',
               |        '${sqlQuote(graft.ext.TextStats.NormFoldTo)}'),
               |      chr(8230), '...'), chr(8203), '') AS s
               |  FROM n),
               | g AS (SELECT id, noised, trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
               |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g'),
               |    '[ \\t]+', ' ', 'g'),
               |    ' ?\\n ?', chr(10), 'g'),
               |    '\\n{3,}', chr(10) || chr(10), 'g')) AS content_norm
               |  FROM f)
               |SELECT id, content_norm, coalesce(content_norm <> noised, false) AS changed
               |FROM g""".stripMargin)),

    // Per-group top-k curation: the 5 highest-quality docs per source
    // (score = the pinned x9 quality definition), rank-filtered window ->
    // WindowGroupLimit map-side k-heaps (plan shape pinned in ExtSpec).
    ("x41_top_quality", (s: SparkSession, sfDir: String) => {
      val docs = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
          col("source"))
      Pipeline.topKPerGroup(TextStats.quality(docs), "source", "quality", k = 5)
        .select(col("source"), col("rank"), col("id"),
          round(col("quality"), 6).as("quality"))
    }, Some(s"""WITH t AS (SELECT $DocId AS id, source, $Toks AS w FROM documents),
               | m AS (SELECT id, source,
               |   CAST(len(w) AS BIGINT) AS n_tokens,
               |   CASE WHEN len(w) = 0 THEN 0.0 ELSE list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w) END AS avg_len,
               |   CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w, x -> x IN ('the','a','and','of','to','is','in'))) * 1.0 / len(w) END AS stop_ratio
               |  FROM t),
               | q AS (SELECT id, source,
               |    least(n_tokens / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + least(avg_len / 10.0, 1.0) * 0.2 AS quality
               |  FROM m),
               | r AS (SELECT source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, id ASC) AS rank,
               |    id, quality FROM q)
               |SELECT source, CAST(rank AS BIGINT) AS rank, id, round(quality, 6) AS quality
               |FROM r WHERE rank <= 5""".stripMargin)),

    // Cross-source n-gram overlap matrix: exact pairwise Jaccard of the
    // sources' distinct shingle-3 sets. hashGrams=false here so the oracle
    // compare is exact-by-construction; the hashed (8-byte shuffle key)
    // variant is pinned hashed==exact in ExtSpec.
    ("x42_group_overlap", (s: SparkSession, sfDir: String) => {
      val docs = readPar(s, s"$sfDir/documents.parquet")
        .select(col("text").as("content"), col("source"))
      TextStats.groupOverlap(docs, "source", n = 3, hashGrams = false)
        .select(col("group_a"), col("group_b"), col("inter"),
          col("size_a"), col("size_b"), round(col("jaccard"), 6).as("jaccard"))
    }, Some(s"""WITH t AS (SELECT source, $Toks AS w FROM documents),
               | g AS (SELECT DISTINCT source, unnest(CASE WHEN len(w) < 3 THEN []
               |     ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)] END) AS gram
               |   FROM t),
               | sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
               | p AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
               |   FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2)
               |SELECT sa AS group_a, sb AS group_b, inter, x.n AS size_a, y.n AS size_b,
               |  round(inter * 1.0 / (x.n + y.n - inter), 6) AS jaccard
               |FROM p JOIN sz x ON sa = x.source JOIN sz y ON sb = y.source""".stripMargin)),

    // Per-doc top-3 TF-IDF terms (smoothed idf, token-text tie-break). The
    // oracle replays tf/df/N and the rank window exactly.
    ("x43_tfidf", (s: SparkSession, sfDir: String) =>
      TextStats.tfidf(docsFrame(s, sfDir), k = 3)
        .select(col("id"), col("rank"), col("tok"), col("tf"), col("doc_freq"),
          round(col("score"), 6).as("score")),
      Some(s"""WITH t AS (SELECT $DocId AS id, unnest($Toks) AS tok FROM documents),
              | tf AS (SELECT id, tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
              | df AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1),
              | n AS (SELECT count(DISTINCT $DocId) AS nd FROM documents),
              | sc AS (SELECT id, tok, tf, doc_freq,
              |    tf * (ln((nd + 1.0) / (doc_freq + 1.0)) + 1.0) AS score
              |  FROM tf JOIN df USING (tok) CROSS JOIN n),
              | r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, tok ASC) AS rank FROM sc)
              |SELECT id, CAST(rank AS BIGINT) AS rank, tok, tf, doc_freq, round(score, 6) AS score
              |FROM r WHERE rank <= 3""".stripMargin)),

    // Bigram-LM perplexity (context-sensitive CCNet-style filter signal);
    // the oracle retrains the same add-1 bigram model and rescores.
    ("x44_bigram_lm", (s: SparkSession, sfDir: String) =>
      TextStats.bigramNll(docsFrame(s, sfDir))
        .select(col("id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll"), round(col("ppl"), 6).as("ppl")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | bg AS (SELECT id, w[i] || ' ' || w[i+1] AS g, w[i] AS a
              |        FROM t, UNNEST(range(1, len(w))) AS u(i)),
              | cb AS (SELECT g, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY g),
              | ca AS (SELECT a, CAST(count(*) AS BIGINT) AS ca FROM bg GROUP BY a),
              | v AS (SELECT count(DISTINCT tok) AS vs FROM (SELECT unnest(w) AS tok FROM t)),
              | sc AS (SELECT bg.id, ln(ca.ca + v.vs) - ln(cb.cb + 1.0) AS nt
              |        FROM bg JOIN cb USING (g) JOIN ca USING (a) CROSS JOIN v),
              | ag AS (SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams, sum(nt) AS sm FROM sc GROUP BY id)
              |SELECT d.id, coalesce(ag.n_bigrams, 0) AS n_bigrams,
              |  round(coalesce(ag.sm / ag.n_bigrams, 0.0), 6) AS nll,
              |  round(coalesce(exp(ag.sm / ag.n_bigrams), 1.0), 6) AS ppl
              |FROM (SELECT DISTINCT $DocId AS id FROM documents) d LEFT JOIN ag ON d.id = ag.id""".stripMargin)),

    // Winnowing fingerprints (MOSS): rightmost-min-per-window selection over
    // 4-gram MD5s, window 4. The oracle replays window enumeration, the
    // min, and the rightmost tie-break (list_position over the reversed
    // slice) — selection set compared exactly.
    ("x45_winnow", (s: SparkSession, sfDir: String) =>
      TextStats.winnowFingerprints(docsFrame(s, sfDir), k = 4, w = 4)
        .select(col("id"), col("pos"), col("fp")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | g AS (SELECT id, [md5(array_to_string(w[i:i+3], ' ')) FOR i IN range(1, len(w) - 2)] AS hs
              |       FROM t WHERE len(w) >= 4),
              | s1 AS (SELECT id, hs, least(4, len(hs)) AS wl FROM g),
              | win AS (SELECT id, hs, wl, unnest(range(0, len(hs) - wl + 1)) AS i FROM s1),
              | m AS (SELECT id, wl, i, list_min(hs[i+1 : i+wl]) AS mn,
              |        list_position(list_reverse(hs[i+1 : i+wl]), list_min(hs[i+1 : i+wl])) AS rp
              |       FROM win)
              |SELECT DISTINCT id, CAST(i + wl - rp AS BIGINT) AS pos, mn AS fp FROM m""".stripMargin)),

    // Int8 scalar quantization of the embedding column: per-vector scale,
    // byte codes, and the reconstruction-error bound. The oracle replays
    // scale, the tie-stable round, the integer code sum, and the max
    // absolute reconstruction error (order-independent, so float-exact).
    ("x46_quantize", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qz = Quantize.quantizeInt8(e)
      // qz("scale"), NOT col("scale"): the sibling alias `round(scale, 9)
      // AS scale` would otherwise capture the bare name via lateral column
      // alias resolution and the error term would use the ROUNDED scale
      qz.select(col("id"), size(col("q")).cast("long").as("n_dims"),
          round(col("scale"), 9).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          round(array_max(zip_with(col("embedding").cast("array<double>"), col("q"),
            (x, qv) => abs(x - qv * qz("scale")))), 9).as("max_abs_err"))
    }, Some("""WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              | s AS (SELECT id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
              | q AS (SELECT id, v, scale,
              |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              |         ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS q
              |  FROM s)
              |SELECT id, CAST(len(q) AS BIGINT) AS n_dims, round(scale, 9) AS scale,
              |  CAST(list_sum(q) AS BIGINT) AS q_sum,
              |  round(list_max([abs(v[i] - q[i] * scale) FOR i IN range(1, len(v) + 1)]), 9) AS max_abs_err
              |FROM q""".stripMargin)),

    // Quantized ANN: top-k over the int8 corpus must recover the float
    // exact top-k (cosine is scale-invariant; only quantization noise can
    // reorder). Gate-style like x6b/x7 — the exact arm is x6's oracle.
    ("x47_ann_int8", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      val exact = Ann.exactTopK(e, qs, k = 10)
      val approx = Quantize.int8TopK(e, qs, k = 10)
      Seq(("int8_recall_ge_0.9", Ann.recallAtK(exact, approx) >= 0.9))
        .toDF("metric", "ok")
    }, Some("SELECT 'int8_recall_ge_0.9' AS metric, true AS ok")),

    // Stream-stream interval join in its batch/backfill mode (the
    // watermarked streaming path is pinned stream-vs-batch in ExtSpec):
    // every (purchase, view-in-the-prior-2h) pair per user. The oracle is
    // the naive θ-join, affordable at oracle scale.
    ("x48_stream_join", (s: SparkSession, sfDir: String) => {
      val ev = eventsFrame(s, sfDir)
      EventStreams.intervalJoin(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id")),
        keys = Seq("user_id"), window = "2 hours", rightPayload = Seq("view_id"))
        .select(col("event_id"), col("r_view_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), unix_micros(col("r_ts")).as("r_ts_us"))
    }, Some("""SELECT l.event_id, r.event_id AS r_view_id, l.user_id,
              |  epoch_us(l.ts) AS ts_us, epoch_us(r.ts) AS r_ts_us
              |FROM events l JOIN events r ON l.user_id = r.user_id
              |WHERE l.event_type = 'purchase' AND r.event_type = 'view'
              |  AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 2 HOUR""".stripMargin)),

    // Product-quantization ANN (gate-style like x6b/x7, exact arm = x6's
    // oracle): 16-byte codes (16x compression), ADC candidate retrieve,
    // float rerank. Isotropic-random embeddings are PQ's worst case, so the
    // gate pins the plumbing at the measured rate (1.0 @ sf0.001/0.01 with
    // cand=100).
    ("x50_ann_pq", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val qs = queryVecs(s, sfDir, 5)
      val exact = Ann.exactTopK(e, qs, k = 10)
      val cb = Pq.train(e, m = 16, k = 256, iters = 8, maxSample = 20000)
      val enc = Pq.encode(e, cb)
      val rec = Ann.recallAtK(exact, Pq.rerankTopK(e, enc, cb, qs, k = 10, candK = 100))
      Seq(("pq_rerank_recall_ge_0.8", rec >= 0.8)).toDF("metric", "ok")
    }, Some("SELECT 'pq_rerank_recall_ge_0.8' AS metric, true AS ok")),

    // Collection-level PQ index (the codes-persisted sibling of x6c/x7b):
    // createVectorIndex(kind="pq") must probe identically to the per-call
    // Pq train+encode+rerank path on the same corpus (training samples by
    // embedding hash, so the codebooks coincide); delta maintenance must
    // keep the resolved codes EXACTLY equal to a fresh encode of the
    // current docs against the STORED codebooks (O(batch) re-encode, never
    // a retrain); and the recall gate must survive the maintained upsert.
    ("x50b_pq_index", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val root = tempDirCleanedOnExit("graft-x50b-")
      val c = Collection(s, root, "vecs", useFts = false)
      c.addDf(e.withColumn("content", lit("")))
      c.createVectorIndex(kind = "pq", m = 16, numCentroids = 256, iters = 5,
        maxSample = 20000, candK = 100)
      val qs = queryVecs(s, sfDir, 5)
      // (the prebuilt-vs-per-call parity and the FULL-corpus delta
      // re-encode compare — a second codebook train plus two extra
      // whole-corpus encodes — run ONCE in ExtSpec "persisted PQ/IVF-PQ
      // lifecycle parity", not per bench; this entry keeps the serving
      // behavior the oracle gates: the delta-born rows encode exactly
      // under the STORED codebook, old rows are untouched, recall holds)
      c.addDf(e.limit(50).select(concat(lit("dup_"), col("id")).as("id"),
        lit("").as("content"), col("embedding")))
      val (storedCb, codes, _) = c.pqIndex().get
      val newRows = codes.filter(col("id").startsWith("dup_")).persist()
      val fresh = Pq.encode(c.docs().filter(col("id").startsWith("dup_")),
        storedCb).persist()
      try {
        val eqNew = newRows.exceptAll(fresh).isEmpty &&
          fresh.exceptAll(newRows).isEmpty
        val counts = codes.count() == e.count() + 50
        val rec = Ann.recallAtK(Ann.exactTopK(c.docs(), qs, k = 10),
          c.vectorTopK(qs, 10))
        Seq(("delta_codes_exact", eqNew && counts),
          ("recall_after_delta_ge_0.8", rec >= 0.8)).toDF("metric", "ok")
      } finally { newRows.unpersist(); fresh.unpersist() }
    }, Some("""SELECT * FROM (VALUES ('delta_codes_exact', true),
              |  ('recall_after_delta_ge_0.8', true)) AS t(metric, ok)""".stripMargin)),

    // Vocabulary cardinality per source: the exact arm is oracle-checked;
    // the HLL++ sketch arm (the 100 TB path) is gated within 5 rsd of it.
    ("x49_cardinality", (s: SparkSession, sfDir: String) =>
      TextStats.tokenCardinality(
          readPar(s, s"$sfDir/documents.parquet")
            .select(col("text").as("content"), col("source")),
          groupCol = "source", rsd = 0.05)
        .select(col("source"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct"))
            <= col("exact_distinct") * 0.25).as("ok")),
      Some(s"""SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct, true AS ok
              |FROM (SELECT source, unnest($Toks) AS tok FROM documents)
              |GROUP BY source""".stripMargin)),

    // Greedy per-source token-budget subsample: deterministic md5(seed:id)
    // draw order, running token sum, keep while the budget isn't exhausted.
    // The oracle replays draw, order, cumsum, and the admission rule.
    ("x51_budget_sample", (s: SparkSession, sfDir: String) =>
      Pipeline.budgetSample(
        readPar(s, s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
            col("source")),
        budgetTokens = 2000, groupCol = "source")
        .select(col("source"), col("id"), col("n_tokens"), col("cum_tokens"),
          col("keep")),
      Some(s"""WITH t AS (SELECT source, $DocId AS id,
              |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
              |    md5('0:' || CAST(doc_id AS VARCHAR)) AS draw
              |  FROM documents),
              | c AS (SELECT source, id, n_tokens,
              |    sum(n_tokens) OVER (PARTITION BY source ORDER BY draw, id ROWS UNBOUNDED PRECEDING) AS cum_tokens
              |  FROM t)
              |SELECT source, id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
              |  (cum_tokens - n_tokens < 2000) AS keep FROM c""".stripMargin)),

    // Hard-negative mining: per anchor (first 5 embeddings), the 10 most
    // similar vectors with a DIFFERENT label. Exact oracle replay.
    ("x52_hard_negatives", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
      val corpus = e.select(col("vec_id").cast("string").as("id"),
        col("embedding"), col("label"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("string").as("qid"),
          col("embedding").as("qvec"), col("label").as("qlabel"))
      Ann.hardNegatives(corpus, queries, k = 10)
        .select(col("qid"), col("rn").cast("long").as("rn"), col("id"),
          round(col("sim"), 6).as("sim"))
    }, Some("""WITH q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 5),
              | sc AS (SELECT q.qid, CAST(c.vec_id AS VARCHAR) AS id,
              |     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS sim
              |   FROM embeddings c JOIN q ON c.label IS DISTINCT FROM q.ql),
              | rk AS (SELECT qid, id, sim,
              |     CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS BIGINT) AS rn FROM sc)
              |SELECT qid, rn, id, round(sim, 6) AS sim FROM rk WHERE rn <= 10""".stripMargin)),

    // Hybrid search: RRF fusion of the BM25 FTS arm ("customer stream", the
    // q4 query) and the vector cosine arm (embedding 0, the q5 query) over
    // one collection carrying both text and embeddings. The oracle replays
    // both arms (q4's BM25 block + q5's cosine block), the per-arm depth-50
    // rank windows, and the 1/(60+rn) fusion exactly.
    ("x53_hybrid_rrf", (s: SparkSession, sfDir: String) => {
      val q = queryVec(s, sfDir)
      hybColl(s, sfDir).hybridTopK("customer stream", q, k = 10, depth = 50)
        .select(col("rn"), col("id"), round(col("rrf"), 6).as("rrf"),
          col("rn_fts").cast("long").as("rn_fts"),
          col("rn_vec").cast("long").as("rn_vec"))
    }, Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | lens AS (SELECT id, len(w) AS dl FROM toks),
              | stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n, (SELECT AVG(len(w)) FROM toks) AS avgdl),
              | tf AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
              | dfp AS (SELECT t, COUNT(*) AS df FROM tf WHERE t IN ('customer','stream') GROUP BY 1),
              | m AS (SELECT id FROM tf WHERE t IN ('customer','stream') GROUP BY id HAVING COUNT(DISTINCT t) = 2),
              | sc AS (SELECT tf.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
              |          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
              |        FROM tf JOIN dfp USING(t) JOIN lens USING(id) CROSS JOIN stats
              |        WHERE tf.t IN ('customer','stream') GROUP BY tf.id),
              | fts AS (SELECT id, row_number() OVER (ORDER BY r DESC, id ASC) AS rn
              |         FROM (SELECT m.id, sc.r FROM m JOIN sc ON m.id = sc.id)
              |         ORDER BY r DESC, id ASC LIMIT 50),
              | q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | vsc AS (SELECT CAST(vec_id AS VARCHAR) AS id,
              |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
              |         FROM embeddings, q),
              | vec AS (SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rn
              |         FROM vsc ORDER BY sim DESC, id ASC LIMIT 50),
              | fused AS (SELECT COALESCE(f.id, v.id) AS id,
              |     COALESCE(CAST(1.0 AS DOUBLE) / (60 + f.rn), 0) + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rn), 0) AS rrf,
              |     f.rn AS rn_fts, v.rn AS rn_vec
              |   FROM fts f FULL OUTER JOIN vec v ON f.id = v.id)
              |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id ASC) AS BIGINT) AS rn,
              |       id, round(rrf, 6) AS rrf, rn_fts, rn_vec
              |FROM fused ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin)),

    // Data-quality contracts: one-scan expectation report over events plus
    // the key-uniqueness contract, violation mass included.
    ("x89_expectations", (s: SparkSession, sfDir: String) => {
      val ev = s.read.parquet(s"$sfDir/events.parquet")
      val rowRules = Expectations.expect(ev, Seq(
        "user_id_not_null" -> col("user_id").isNotNull,
        "value_non_negative" -> (col("value") >= 0),
        "event_type_nonempty" -> (length(col("event_type")) > 0)))
      val uniq = Expectations.duplicateKeys(ev, Seq("event_id"))
        .select(lit("event_id_unique").as("rule"), col("n_rows"),
          col("n_duplicates").as("n_violations"),
          when(col("n_rows") > 0, col("n_duplicates").cast("double") / col("n_rows"))
            .otherwise(lit(0.0)).as("violation_rate"),
          (col("n_duplicates") === 0).as("pass"))
      rowRules.unionByName(uniq)
        .select(col("rule"), col("n_rows"), col("n_violations"),
          round(col("violation_rate"), 6).as("violation_rate"), col("pass"))
    }, Some("""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
              |  CAST(sum(CASE WHEN NOT coalesce(value >= 0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
              |  CAST(sum(CASE WHEN NOT coalesce(length(event_type) > 0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
              |  CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v4 FROM events)
              |SELECT 'user_id_not_null' AS rule, n AS n_rows, v1 AS n_violations,
              |  round(v1 * 1.0 / n, 6) AS violation_rate, v1 = 0 AS pass FROM base
              |UNION ALL SELECT 'value_non_negative', n, v2, round(v2 * 1.0 / n, 6), v2 = 0 FROM base
              |UNION ALL SELECT 'event_type_nonempty', n, v3, round(v3 * 1.0 / n, 6), v3 = 0 FROM base
              |UNION ALL SELECT 'event_id_unique', n, v4, round(v4 * 1.0 / n, 6), v4 = 0 FROM base""".stripMargin)),

    // X90: one-call store maintenance. Gate: a delta-heavy store carrying
    // crash residue (orphaned .tmp-* write, stale .old-* recovery copy) and
    // a missing collstats row is restored to clean state — deltas folded,
    // residue swept, stats re-derived — and still serves FTS afterwards.
    ("x90_maintain", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      import graft.index.Stores
      val root = tempDirCleanedOnExit("graft-x90-")
      val docs = docsFrame(s, sfDir).limit(200)
        .select(col("id"), col("content"), col("metadata")).cache()
      val prevAuto = s.conf.getOption("spark.graft.compact.auto")
      val prevDirect = s.conf.getOption("spark.graft.store.directUpsertMaxBytes")
      s.conf.set("spark.graft.compact.auto", "false")
      s.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
      try {
        val c = Collection(s, root, "mt")
        c.addDf(docs.filter(Pipeline.md5Mod(col("id"), 2L) === 0L))
        c.addDf(docs.filter(Pipeline.md5Mod(col("id"), 2L) === 1L))
        val nTotal = docs.count()
        val deltaHeavy = Stores.deltaCount(s, Stores.docsDir(root), "mt") > 0
        val tmpDir = java.nio.file.Paths.get(s"${Stores.docsDir(root)}/.tmp-crash")
        val oldDir = java.nio.file.Paths.get(s"${Stores.annDir(root)}/.old-crash")
        java.nio.file.Files.createDirectories(tmpDir)
        java.nio.file.Files.createDirectories(oldDir)
        Stores.dropPartition(s, Stores.collStatsDir(root), "mt")
        Thread.sleep(5) // zero-grace sweep compares modtimes strictly
        val rep = c.maintain().head()
        val served = c.count() == nTotal &&
          c.queryFrame("table").limit(1).count() >= 0 // FTS path plannable
        Seq(("delta_heavy_before", deltaHeavy),
          ("stats_rederived", rep.getLong(0) == nTotal && rep.getDouble(1) > 0.0),
          ("deltas_folded", rep.getLong(2) == 0L),
          ("residue_swept", rep.getLong(3) >= 2L &&
            !java.nio.file.Files.exists(tmpDir) && !java.nio.file.Files.exists(oldDir)),
          ("store_serves_after", served)).toDF("metric", "ok")
      } finally {
        docs.unpersist()
        prevAuto.fold(s.conf.unset("spark.graft.compact.auto"))(
          v => s.conf.set("spark.graft.compact.auto", v))
        prevDirect.fold(s.conf.unset("spark.graft.store.directUpsertMaxBytes"))(
          v => s.conf.set("spark.graft.store.directUpsertMaxBytes", v))
      }
    }, Some("""SELECT * FROM (VALUES ('delta_heavy_before', true),
              |  ('deltas_folded', true), ('residue_swept', true),
              |  ('stats_rederived', true), ('store_serves_after', true)
              |) AS t(metric, ok)""".stripMargin)),

    // X91: weakly-connected components over a deterministic arithmetic
    // graph on the embeddings' id space (i -> (i+17) mod N for i % 3 != 0:
    // 167 chain components of <= 4 nodes at sf0.01). The oracle replays the
    // component labeling with a recursive CTE (the x86 pattern).
    ("x91_connected_components", (s: SparkSession, sfDir: String) => {
      val nodes = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("i"))
      val n = nodes.count()
      val edges = nodes.filter(col("i") % 3 =!= 0)
        .select(col("i").as("src"), ((col("i") + 17) % n).as("dst"))
      Graphs.connectedComponents(edges)
        .select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component"))
    }, Some("""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM embeddings),
              | nodes AS (SELECT CAST(vec_id AS BIGINT) AS i FROM embeddings),
              | raw AS (SELECT i AS a, (i + 17) % nn.n AS b FROM nodes, nn WHERE i % 3 <> 0),
              | und AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
              | bi AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
              | reach AS (SELECT u AS s, v AS d FROM bi
              |   UNION SELECT r.s, e.v FROM reach r JOIN bi e ON r.d = e.u WHERE e.v <> r.s),
              | comp AS (SELECT s AS id, least(s, min(d)) AS component FROM reach GROUP BY s)
              |SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp""".stripMargin)),

    // X94: degree report + exact triangle count on a denser arithmetic
    // graph (both the +17 and +34 circulant rules; 138 triangles at
    // sf0.01). Spark counts via the degree-ordered wedge join; the oracle
    // replays with the canonical three-way edge join.
    ("x94_graph_stats", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val nodes = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("i"))
      val n = nodes.count()
      val edges = nodes.filter(col("i") % 3 =!= 0)
        .select(col("i").as("src"), ((col("i") + 17) % n).as("dst"))
        .unionByName(nodes.filter(col("i") % 5 =!= 0)
          .select(col("i").as("src"), ((col("i") + 34) % n).as("dst")))
      val und = edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct().cache()
      try {
        val tri = Graphs.triangleCount(und)
        val deg = Graphs.degrees(und)
        val r = deg.agg(count(lit(1)).as("nn"), max(col("degree")).as("md")).head()
        Seq((tri, und.count(), r.getLong(0), r.getLong(1)))
          .toDF("n_triangles", "n_edges", "n_nodes", "max_degree")
      } finally und.unpersist()
    }, Some("""WITH nn AS (SELECT count(*) AS n FROM embeddings),
              | nodes AS (SELECT CAST(vec_id AS BIGINT) AS i FROM embeddings),
              | raw AS (SELECT i AS a, (i + 17) % nn.n AS b FROM nodes, nn WHERE i % 3 <> 0
              |   UNION ALL SELECT i, (i + 34) % nn.n FROM nodes, nn WHERE i % 5 <> 0),
              | und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
              | tri AS (SELECT CAST(count(*) AS BIGINT) AS t FROM und e1
              |   JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
              | deg AS (SELECT id, count(*) AS d FROM
              |   (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id)
              |SELECT tri.t AS n_triangles, (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
              |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
              |  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree FROM tri""".stripMargin)),

    // X92: weekly retention cohort matrix over the events table (first-
    // event week = cohort; offsets are exact Monday-to-Monday multiples
    // of 7 days on both engines).
    ("x92_retention", (s: SparkSession, sfDir: String) =>
      EventStreams.retentionCohorts(eventsFrame(s, sfDir), unit = "week")
        .select(unix_micros(col("cohort_start")).as("cohort_us"),
          col("period_offset"), col("n_users"), col("cohort_size"),
          round(col("retention"), 6).as("retention")),
      Some("""WITH act AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS p FROM events),
             | coh AS (SELECT u, min(p) AS c FROM act GROUP BY u),
             | cells AS (SELECT c AS cs,
             |     CAST(date_diff('day', CAST(c AS DATE), CAST(p AS DATE)) // 7 AS BIGINT) AS off,
             |     CAST(count(*) AS BIGINT) AS n
             |   FROM act JOIN coh USING (u) GROUP BY 1, 2),
             | sz AS (SELECT cs, n AS size FROM cells WHERE off = 0)
             |SELECT epoch_us(c.cs) AS cohort_us, c.off AS period_offset, c.n AS n_users,
             |  s.size AS cohort_size, round(c.n * 1.0 / s.size, 6) AS retention
             |FROM cells c JOIN sz s USING (cs)""".stripMargin)),

    // X93: SCD-2 intervalization of each user's event_type history —
    // change points by NULL-safe value compare, intervals closed by the
    // next change, ties on (ts) broken by event_id.
    ("x93_scd2", (s: SparkSession, sfDir: String) =>
      EventStreams.scd2(eventsFrame(s, sfDir), keyCol = "user_id",
          valueCol = "event_type")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("vf_us"),
          unix_micros(col("valid_to")).as("vt_us"), col("is_current")),
      Some("""WITH o AS (SELECT user_id, event_type, ts, event_id,
             |    lag(event_type) OVER w AS prev, lag(1) OVER w AS prev_seen
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
             | ch AS (SELECT user_id, event_type, ts, event_id FROM o
             |   WHERE prev_seen IS NULL OR event_type IS DISTINCT FROM prev),
             | iv AS (SELECT user_id, event_type, ts AS vf,
             |     lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS vt
             |   FROM ch)
             |SELECT user_id, event_type, epoch_us(vf) AS vf_us, epoch_us(vt) AS vt_us,
             |  vt IS NULL AS is_current FROM iv""".stripMargin)),

    // X95: Johnson-Lindenstrauss ±1 random projection 64 -> 8 dims with
    // md5-derived signs — value-for-value replay (both engines derive the
    // SAME sign matrix from md5("42|j|i") hex-prefix parity).
    ("x95_random_project", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      Quantize.randomProject(e, outDim = 8, inDim = 64, seed = 42L)
        .select(col("id"), posexplode(col("proj")).as(Seq("pos", "v")))
        .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
          round(col("v"), 6).as("v"))
    }, Some("""WITH ux AS (SELECT CAST(vec_id AS BIGINT) AS id,
              |     CAST(unnest(embedding) AS DOUBLE) AS x,
              |     generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              | js AS (SELECT CAST(range AS BIGINT) AS j FROM range(8)),
              | terms AS (SELECT ux.id, js.j, ux.x,
              |     CASE WHEN CAST(('0x' || substr(md5('42|' || CAST(js.j AS VARCHAR) || '|' || CAST(ux.i AS VARCHAR)), 1, 12)) AS UBIGINT) % 2 = 0
              |       THEN 1.0 ELSE -1.0 END AS sgn
              |   FROM ux CROSS JOIN js),
              | p AS (SELECT id, j, SUM(sgn * x) / sqrt(8.0) AS v FROM terms GROUP BY 1, 2)
              |SELECT id, CAST(j + 1 AS BIGINT) AS pos, round(v, 6) AS v FROM p""".stripMargin)),

    // X96: static-interval point lookup (value -> [lo, hi) tier) as a
    // binary-search scan expression instead of the θ-join Spark would plan
    // as a broadcast nested loop. Gapped ranges pin the NULL (no-match)
    // path; the oracle replays with the literal inequality join.
    ("x96_range_lookup", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val ranges = s.range(10).select(
        ($"id" * 60).cast("double").as("lo"),
        ($"id" * 60 + 45).cast("double").as("hi"),
        concat(lit("tier"), $"id").as("label"))
      Joins.rangeLookup(eventsFrame(s, sfDir), ranges, "value", outCol = "tier")
        .select(col("event_id"), round(col("value"), 6).as("value"), col("tier"))
    }, Some("""WITH r AS (SELECT range * 60.0 AS lo, range * 60.0 + 45.0 AS hi,
              |    'tier' || CAST(range AS VARCHAR) AS label FROM range(10))
              |SELECT e.event_id, round(e.value, 6) AS value, r.label AS tier
              |FROM events e LEFT JOIN r ON e.value >= r.lo AND e.value < r.hi""".stripMargin)),

    // X97: video-style frame sampling plumbing — each media blob explodes
    // into n evenly-spaced frames (stub codec = deterministic byte slices
    // at a fake 25 fps clock; real codecs plug the same FrameExtractor
    // batch contract). The oracle replays slice offsets and bytes via
    // hex-string arithmetic (both engines emit UPPERCASE hex).
    ("x97_frame_sample", (s: SparkSession, sfDir: String) => {
      val media = docsFrame(s, sfDir)
        .select(col("id"), col("content").cast("binary").as("media"))
      Multimodal.sampleFrames(media, n = 4)
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
          col("pts_ms"), length(col("frame")).cast("long").as("frame_len"),
          md5(hex(col("frame")).cast("binary")).as("frame_md5"))
    }, Some(s"""WITH d AS (SELECT $DocId AS id, hex(encode(text)) AS hx,
               |    octet_length(encode(text)) AS len FROM documents),
               | f AS (SELECT d.id, CAST(t.range AS BIGINT) AS frame_idx,
               |     CAST(t.range * 40 AS BIGINT) AS pts_ms,
               |     ((t.range + 1) * d.len) // 4 - (t.range * d.len) // 4 AS flen,
               |     substring(d.hx, CAST(((t.range * d.len) // 4) * 2 + 1 AS BIGINT),
               |       CAST((((t.range + 1) * d.len) // 4 - (t.range * d.len) // 4) * 2 AS BIGINT)) AS fhex
               |   FROM d CROSS JOIN range(4) t)
               |SELECT id, frame_idx, pts_ms, CAST(flen AS BIGINT) AS frame_len,
               |  md5(fhex) AS frame_md5 FROM f""".stripMargin)),

    // Linear hybrid fusion: same two arms as x53, min-max normalized within
    // each truncated arm and weighted 0.4 fts / 0.6 vec — the score-aware
    // combinator next to RRF's rank-only one.
    ("x88_hybrid_linear", (s: SparkSession, sfDir: String) => {
      val q = queryVec(s, sfDir)
      hybColl(s, sfDir).hybridTopKLinear("customer stream", q, k = 10, depth = 50,
          weights = Map("fts" -> 0.4, "vec" -> 0.6))
        .select(col("rn"), col("id"), round(col("score"), 6).as("score"),
          round(col("s_fts"), 6).as("s_fts"), round(col("s_vec"), 6).as("s_vec"))
    }, Some("""WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              |   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM documents),
              | lens AS (SELECT id, len(w) AS dl FROM toks),
              | stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n, (SELECT AVG(len(w)) FROM toks) AS avgdl),
              | tf AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
              | dfp AS (SELECT t, COUNT(*) AS df FROM tf WHERE t IN ('customer','stream') GROUP BY 1),
              | m AS (SELECT id FROM tf WHERE t IN ('customer','stream') GROUP BY id HAVING COUNT(DISTINCT t) = 2),
              | sc AS (SELECT tf.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
              |          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
              |        FROM tf JOIN dfp USING(t) JOIN lens USING(id) CROSS JOIN stats
              |        WHERE tf.t IN ('customer','stream') GROUP BY tf.id),
              | fts AS (SELECT m.id AS id, sc.r FROM m JOIN sc ON m.id = sc.id
              |         ORDER BY r DESC, m.id ASC LIMIT 50),
              | fnorm AS (SELECT id, CASE WHEN max(r) OVER () > min(r) OVER ()
              |     THEN (r - min(r) OVER ()) / (max(r) OVER () - min(r) OVER ())
              |     ELSE 1.0 END AS s FROM fts),
              | q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
              | vsc AS (SELECT CAST(vec_id AS VARCHAR) AS id,
              |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
              |         FROM embeddings, q),
              | vec AS (SELECT id, sim FROM vsc ORDER BY sim DESC, id ASC LIMIT 50),
              | vnorm AS (SELECT id, CASE WHEN max(sim) OVER () > min(sim) OVER ()
              |     THEN (sim - min(sim) OVER ()) / (max(sim) OVER () - min(sim) OVER ())
              |     ELSE 1.0 END AS s FROM vec),
              | fused AS (SELECT COALESCE(f.id, v.id) AS id,
              |     COALESCE(f.s, 0) * 0.4 + COALESCE(v.s, 0) * 0.6 AS score,
              |     f.s AS s_fts, v.s AS s_vec
              |   FROM fnorm f FULL OUTER JOIN vnorm v ON f.id = v.id)
              |SELECT CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS BIGINT) AS rn,
              |       id, round(score, 6) AS score, round(s_fts, 6) AS s_fts, round(s_vec, 6) AS s_vec
              |FROM fused ORDER BY score DESC, id ASC LIMIT 10""".stripMargin)),

    // Bloom-prefiltered exact cross-corpus dedup: result must equal the
    // plain hash anti-join (x30's exact arm) — the bloom only reroutes WHERE
    // rows are verified, never what survives. Oracle is the same NOT EXISTS
    // replay; equality with dedupAgainst(near=false) is pinned in ExtSpec.
    ("x54_dedup_bloom", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"),
          col("doc_id").cast("long").as("__n"), col("source"))
      val corpus = d.filter(col("__n") % 5 =!= 0).drop("__n")
      val ref = d.filter(col("__n") % 5 === 0).drop("__n")
      Dedup.bloomDedupAgainst(corpus, ref, expectedItems = 10000L)
        .select("id", "source")
    }, Some(s"""SELECT $DocId AS id, source FROM documents d
               |WHERE doc_id % 5 <> 0 AND NOT EXISTS (
               |  SELECT 1 FROM documents r WHERE r.doc_id % 5 = 0 AND r.text = d.text)""".stripMargin)),

    // Continuous FTS: a MemoryStream of query strings answered per batch
    // must equal the per-call queryFrame results (two batches).
    ("x76_stream_fts", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val c = mainColl(s, sfDir)
      val queries = Seq("q1" -> "customer stream", "q2" -> "table scan",
        "q3" -> "sca*", "q4" -> "vector or index")
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String)]
      val results = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val q = c.streamQuery(mem.toDF().toDF("qid", "query"), limit = 0) { out =>
        results ++= out.select("qid", "id").collect()
          .map(r => (r.getString(0), r.getString(1)))
      }.start()
      try {
        mem.addData(queries.take(2): _*); q.processAllAvailable()
        mem.addData(queries.drop(2): _*); q.processAllAvailable()
      } finally q.stop()
      val percall = queries.flatMap { case (qid, qq) =>
        c.queryFrame(qq).select("id").collect().map(r => (qid, r.getString(0)))
      }
      Seq(("stream_equals_percall", results.toSet == percall.toSet && results.nonEmpty))
        .toDF("metric", "ok")
    }, Some("SELECT 'stream_equals_percall' AS metric, true AS ok")),

    // kNN-graph construction: LSH-bucketed top-k neighbors per vector,
    // recall-gated against the exact kNN graph (exactTopKAll with the
    // corpus as its own query set — the x6b gate pattern).
    ("x75_knn_graph", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      // both gate frames feed MULTIPLE actions — persist so the LSH build /
      // exact pass run once, not once per count
      val approx = Ann.knnGraph(e, k = 10).persist()
      // truth side on a deterministic 1-in-10 query subset: the gate is
      // statistical, and the FULL |corpus|² exact pass costs more than the
      // operator under test (the approx graph stays corpus-wide)
      val exact = Ann.exactTopKAll(e,
          e.filter(col("id").cast("long") % 10 === 0)
            .select(col("id").as("qid"), col("embedding").as("qvec")), k = 11)
        .filter(col("qid") =!= col("id")) // the self-match occupies one exact slot
        .withColumn("rn2", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rn"))))
        .filter(col("rn2") <= 10)
        .select(col("qid").as("id"), col("id").as("neighbor"))
        .persist()
      try {
        val hit = approx.select("id", "neighbor").join(exact, Seq("id", "neighbor"), "left_semi").count()
        val rec = hit.toDouble / exact.count()
        val maxPerId = approx.groupBy("id").count().agg(max("count")).head().getLong(0)
        Seq(("recall_ge_0.8", rec >= 0.8), ("at_most_k_per_id", maxPerId <= 10))
          .toDF("metric", "ok")
      } finally { approx.unpersist(); exact.unpersist() }
    }, Some("SELECT 'at_most_k_per_id' AS metric, true AS ok UNION ALL SELECT 'recall_ge_0.8', true ORDER BY metric")),

    // Continuous vector search: a MemoryStream of query vectors probed
    // against the persisted collection index per micro-batch must return
    // EXACTLY the per-call vectorTopK results, across two batches.
    ("x74_stream_search", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val root = tempDirCleanedOnExit("graft-x74-")
      val c = Collection(s, root, "sv", useFts = false)
      c.addDf(readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), lit("").as("content"),
          col("embedding")))
      c.createVectorIndex(numTables = 16, numPlanes = 4)
      val qs = queryVecs(s, sfDir, 5)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Seq[Float])]
      val results = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      val q = c.streamVectorSearch(mem.toDF().toDF("qid", "qvec"), k = 10) { out =>
        results ++= out.select(col("qid"), col("rn").cast("long"), col("id")).collect()
      }.start()
      try {
        mem.addData(qs.take(2): _*); q.processAllAvailable()
        mem.addData(qs.drop(2): _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = results.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val percall = c.vectorTopK(qs, 10).select(col("qid"), col("rn").cast("long"), col("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      Seq(("stream_equals_percall", streamed == percall && streamed.nonEmpty))
        .toDF("metric", "ok")
    }, Some("SELECT 'stream_equals_percall' AS metric, true AS ok")),

    // Collection export -> import roundtrip: the reimported collection must
    // hold every doc (count + id|content checksum) AND answer the q1 FTS
    // query identically (indexes rebuilt through the normal ingest path).
    ("x73_export_import", (s: SparkSession, sfDir: String) => {
      val dump = tempDirCleanedOnExit("graft-x73-") + "/dump"
      mainColl(s, sfDir).exportJsonl(dump)
      val c2 = Collection(s, tempDirCleanedOnExit("graft-x73c-"), "imp")
      c2.importJsonl(dump)
      c2.docs().groupBy().agg(
          count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(concat(col("id"), lit("|"), col("content"))), 1, 15), 16, 10)
            .cast("decimal(38,0)")).cast("string").as("checksum"))
        .crossJoin(c2.queryFrame("customer stream").groupBy()
          .agg(count(lit(1)).as("n_fts")))
        .select(col("n_docs"), col("n_fts"), col("checksum"))
    }, Some(s"""SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
               |  (SELECT COUNT(*) FROM documents
               |   WHERE list_contains($Toks, 'customer') AND list_contains($Toks, 'stream')) AS n_fts,
               |  (SELECT CAST(SUM(CAST(CAST(('0x' || substr(md5($DocId || '|' || text), 1, 15)) AS UBIGINT) AS HUGEINT)) AS VARCHAR)
               |   FROM documents) AS checksum""".stripMargin)),

    // Key-skew report over the hot lang key — counts, shares, and the
    // skew factor (multiples of the fair per-key share).
    ("x72_key_skew", (s: SparkSession, sfDir: String) =>
      Pipeline.keySkewStats(readPar(s, s"$sfDir/documents.parquet"), "lang", k = 10)
        .select(col("rank"), col("lang"), col("cnt"),
          round(col("share"), 6).as("share"), round(col("skew"), 6).as("skew")),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
             | t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total, COUNT(*) AS nkeys FROM c)
             |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, lang ASC) AS BIGINT) AS rank,
             |       lang, cnt, round(cnt / total, 6) AS share,
             |       round(cnt * nkeys / total, 6) AS skew
             |FROM c CROSS JOIN t ORDER BY cnt DESC, lang ASC LIMIT 10""".stripMargin)),

    // Intra-doc repeated-line removal: inject repeated/trim-variant lines
    // around each doc's text; first occurrences survive in order.
    ("x71_dedup_lines_doc", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"),
          concat(lit("HEADER\n"), col("text"), lit("\nMID\nHEADER\n  HEADER  \nMID"))
            .as("content"))
      Dedup.dedupLinesDoc(d)
        .select(col("id"), md5(col("content_dedup")).as("dedup_md5"),
          col("n_lines_dropped"))
    }, Some(s"""WITH d AS (SELECT $DocId AS id,
               |    'HEADER' || chr(10) || text || chr(10) || 'MID' || chr(10) || 'HEADER'
               |      || chr(10) || '  HEADER  ' || chr(10) || 'MID' AS c FROM documents),
               | ln AS (SELECT id, unnest(string_split(c, chr(10))) AS l,
               |          generate_subscripts(string_split(c, chr(10)), 1) AS pos FROM d),
               | fst AS (SELECT id, trim(l) AS t, MIN(pos) AS fp FROM ln GROUP BY 1, 2),
               | kept AS (SELECT ln.id, ln.l, ln.pos FROM ln
               |          JOIN fst ON ln.id = fst.id AND trim(ln.l) = fst.t AND ln.pos = fst.fp),
               | agg AS (SELECT id, string_agg(l, chr(10) ORDER BY pos) AS cd,
               |           COUNT(*) AS nk FROM kept GROUP BY id),
               | tot AS (SELECT id, COUNT(*) AS n FROM ln GROUP BY id)
               |SELECT agg.id, md5(agg.cd) AS dedup_md5,
               |       CAST(tot.n - agg.nk AS BIGINT) AS n_lines_dropped
               |FROM agg JOIN tot ON agg.id = tot.id""".stripMargin)),

    // Salted skew join: documents (hot 5-value lang key) x a lang dimension;
    // the salted result must equal the plain join — the oracle IS the plain
    // join.
    ("x69_salted_join", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("lang"))
      val dim = Seq(("en", "English"), ("de", "German"), ("zh", "Chinese"),
        ("fr", "French"), ("es", "Spanish")).toDF("lang", "lang_name")
      Joins.saltedJoin(d, dim, keys = Seq("lang"), salt = 8)
        .select("id", "lang", "lang_name")
    }, Some(s"""SELECT $DocId AS id, lang,
               |  CASE lang WHEN 'en' THEN 'English' WHEN 'de' THEN 'German'
               |            WHEN 'zh' THEN 'Chinese' WHEN 'fr' THEN 'French'
               |            WHEN 'es' THEN 'Spanish' END AS lang_name
               |FROM documents
               |WHERE lang IN ('en', 'de', 'zh', 'fr', 'es')""".stripMargin)),

    // Corpus snapshot diff: B drops every 7th doc, rewrites every 11th
    // (of the survivors), adds 3 new ids — statuses replayed exactly.
    ("x70_corpus_diff", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val a = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("string").as("id"), col("text").as("content"))
      val b0 = readPar(s, s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").cast("string").as("id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("content"))
      val b = b0.unionByName(Seq(("new1", "fresh doc one"), ("new2", "fresh doc two"),
        ("new3", "fresh doc three")).toDF("id", "content"))
      Joins.diffCorpora(a, b)
    }, Some(s"""WITH a AS (SELECT $DocId AS id, text FROM documents),
               | b AS (SELECT $DocId AS id,
               |         CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
               |       FROM documents WHERE doc_id % 7 <> 0
               |       UNION ALL SELECT * FROM (VALUES ('new1', 'fresh doc one'),
               |         ('new2', 'fresh doc two'), ('new3', 'fresh doc three')) AS t(id, text))
               |SELECT COALESCE(a.id, b.id) AS id,
               |  CASE WHEN a.id IS NULL THEN 'added'
               |       WHEN b.id IS NULL THEN 'removed'
               |       WHEN a.text = b.text THEN 'unchanged'
               |       ELSE 'changed' END AS status
               |FROM a FULL OUTER JOIN b ON a.id = b.id""".stripMargin)),

    // Nearest as-of: each purchase matched to the user's view event closest
    // in time, either direction; distance ties break backward, same-instant
    // ties break last-by-payload. The oracle is the naive argmin theta-join.
    ("x68_asof_nearest", (s: SparkSession, sfDir: String) => {
      val ev = eventsFrame(s, sfDir)
      Joins.asofNearest(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id")),
        keys = Seq("user_id"), rightPayload = Seq("view_id"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("r_view_id"), unix_micros(col("r_ts")).as("r_ts_us"), col("r_dir"))
    }, Some("""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
              | r AS (SELECT user_id, ts, event_id AS view_id FROM events WHERE event_type = 'view'),
              | cand AS (SELECT l.event_id, l.user_id, l.ts, r.view_id, r.ts AS r_ts,
              |     abs(epoch_us(l.ts) - epoch_us(r.ts)) AS d,
              |     CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS fwd
              |   FROM l JOIN r ON l.user_id = r.user_id),
              | pick AS (SELECT *, row_number() OVER (PARTITION BY event_id
              |     ORDER BY d, fwd, CAST(view_id AS VARCHAR) DESC) AS rn FROM cand)
              |SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
              |       p.view_id AS r_view_id, epoch_us(p.r_ts) AS r_ts_us,
              |       CASE WHEN p.fwd = 0 THEN 'backward' WHEN p.fwd = 1 THEN 'forward' END AS r_dir
              |FROM l LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p ON l.event_id = p.event_id""".stripMargin)),

    // Trailing 6 h rolling count/sum per user — RANGE-frame window with
    // equal-ts peers in frame on both engines.
    ("x62_rolling_agg", (s: SparkSession, sfDir: String) =>
      EventStreams.rollingAgg(eventsFrame(s, sfDir), Seq("user_id"), "6 hours")
        .select(col("event_id"), col("user_id"), col("n_window"),
          round(col("sum_window"), 6).as("sum_window")),
      Some("""SELECT event_id, user_id, COUNT(*) OVER w AS n_window,
             |       round(SUM(value) OVER w, 6) AS sum_window
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Funnel analytics over the events table: greedy-earliest chain
    // view → click → purchase within 3 days. x58 = the batch chained-min
    // report; x59 = the flatMapGroupsWithState arm executed in batch mode
    // (Spark runs the same state function with empty state) — both against
    // the same chained-min CTE oracle.
    ("x58_funnel", (s: SparkSession, sfDir: String) =>
      EventStreams.funnel(eventsFrame(s, sfDir), Seq("view", "click", "purchase"),
        within = Some("3 days"))
        .select(col("user_id"), unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"), unix_micros(col("t3")).as("t3_us"),
          col("duration_us")),
      Some("""WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
             | t2 AS (SELECT e.user_id, t1.t1, MIN(e.ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
             |        WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1, 2),
             | t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(e.ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
             |        WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1, 2, 3)
             |SELECT user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us,
             |       CAST(epoch_us(t3) - epoch_us(t1) AS BIGINT) AS duration_us
             |FROM t3 WHERE t3 <= t1 + INTERVAL 3 DAY""".stripMargin)),

    ("x59_funnel_stateful", (s: SparkSession, sfDir: String) =>
      EventStreams.funnelStateful(eventsFrame(s, sfDir),
        Seq("view", "click", "purchase"), within = Some("3 days"))
        .select(col("user_id"), unix_micros(col("t_first")).as("t_first_us"),
          unix_micros(col("t_last")).as("t_last_us")),
      Some("""WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
             | t2 AS (SELECT e.user_id, t1.t1, MIN(e.ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
             |        WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1, 2),
             | t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(e.ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
             |        WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1, 2, 3)
             |SELECT user_id, epoch_us(t1) AS t_first_us, epoch_us(t3) AS t_last_us
             |FROM t3 WHERE t3 <= t1 + INTERVAL 3 DAY""".stripMargin)),

    // Per-doc unigram Shannon entropy (nats) + normalized form; the oracle
    // replays the count distribution and -sum(p ln p) exactly.
    ("x67_token_entropy", (s: SparkSession, sfDir: String) =>
      TextStats.tokenEntropy(
        readPar(s, s"$sfDir/documents.parquet").withColumn("content", col("text")))
        .select(col("doc_id").cast("string").as("id"),
          round(col("token_entropy"), 6).as("token_entropy"),
          round(col("norm_entropy"), 6).as("norm_entropy")),
      Some(s"""WITH tok AS (SELECT $DocId AS id, unnest($Toks) AS t FROM documents),
              | tc0 AS (SELECT id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
              | tc AS (SELECT id, c, CAST(SUM(c) OVER (PARTITION BY id) AS DOUBLE) AS n FROM tc0),
              | st AS (SELECT id, COUNT(*) AS types,
              |          -SUM((c / n) * ln(c / n)) AS h
              |        FROM tc GROUP BY id)
              |SELECT d.id, round(COALESCE(st.h, 0), 6) AS token_entropy,
              |       round(CASE WHEN COALESCE(st.types, 0) <= 1 THEN 1.0
              |                  ELSE st.h / ln(st.types) END, 6) AS norm_entropy
              |FROM (SELECT $DocId AS id FROM documents) d LEFT JOIN st ON d.id = st.id""".stripMargin)),

    ("x57_lexical_diversity", (s: SparkSession, sfDir: String) =>
      TextStats.lexicalDiversity(
        readPar(s, s"$sfDir/documents.parquet").withColumn("content", col("text")),
        groupCol = "source")
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("ttr"), 6).as("ttr"),
          round(col("hapax_ratio"), 6).as("hapax_ratio"),
          round(col("top_token_share"), 6).as("top_token_share")),
      Some(s"""WITH tok AS (SELECT source, unnest($Toks) AS t FROM documents),
              | tc AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2)
              |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
              |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              |  round(COUNT(*) * CAST(1.0 AS DOUBLE) / SUM(c), 6) AS ttr,
              |  round(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * CAST(1.0 AS DOUBLE) / COUNT(*), 6) AS hapax_ratio,
              |  round(MAX(c) * CAST(1.0 AS DOUBLE) / SUM(c), 6) AS top_token_share
              |FROM tc GROUP BY source""".stripMargin)),

    // MMR diversity re-rank: the oracle UNROLLS the greedy selection (k
    // chained argmax CTEs over the candidate pair-similarity matrix) — an
    // independent DuckDB replay of selection order, scores, and tie-breaks,
    // not a gate.
    ("x56_mmr_rerank", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      Ann.mmrRerank(e, Seq("0" -> queryVec(s, sfDir)), k = 5, candK = 20, lambda = 0.5)
        .select(col("qid"), col("rn"), col("id"),
          round(col("mmr"), 6).as("mmr"), round(col("sim"), 6).as("sim"))
    }, Some(mmrOracle(k = 5, candK = 20))),

    // Retrieval evaluation harness: recall/MRR/NDCG@10 of the int8
    // quantized ranking against the exact float ranking — BOTH arms and the
    // metric arithmetic replayed exactly in DuckDB (the int8 arm is the
    // x46 closed-form quantization, so this is a value-checked eval, not a
    // gate).
    ("x64_rank_eval", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      import s.implicits._
      val qs = queryVecs(s, sfDir, 5)
      // bulk-query arms: ONE corpus scan per arm (broadcast queries), not Q
      val truth = Ann.exactTopKAll(e, qs.toDF("qid", "qvec"), k = 10)
      val run = Quantize.int8TopKAll(e, qs, k = 10)
      Ann.rankingMetrics(truth, run, k = 10)
        .select(col("qid"), col("n_truth"), col("n_hit"),
          round(col("recall"), 6).as("recall"), round(col("mrr"), 6).as("mrr"),
          round(col("ndcg"), 6).as("ndcg"))
    }, Some("""WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              | qsrc AS (SELECT CAST(vec_id AS VARCHAR) AS qid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 5),
              | truth AS (SELECT * FROM (SELECT qid, id,
              |     row_number() OVER (PARTITION BY qid ORDER BY list_cosine_similarity(e.v, qsrc.v) DESC, id ASC) AS rn
              |   FROM e, qsrc) WHERE rn <= 10),
              | cz AS (SELECT id, CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
              |     ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS q
              |   FROM (SELECT id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM e)),
              | qz AS (SELECT qid, CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
              |     ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS q
              |   FROM (SELECT qid, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM qsrc)),
              | run AS (SELECT * FROM (SELECT qid, id,
              |     row_number() OVER (PARTITION BY qid ORDER BY list_cosine_similarity(cz.q, qz.q) DESC, id ASC) AS rn
              |   FROM cz, qz) WHERE rn <= 10),
              | tn AS (SELECT qid, COUNT(*) AS n_truth FROM truth GROUP BY 1),
              | hit AS (SELECT r.qid, COUNT(*) AS n_hit, MIN(r.rn) AS frst,
              |     SUM(CAST(1.0 AS DOUBLE) / (ln(r.rn + 1.0) / ln(2.0))) AS dcg
              |   FROM run r JOIN truth t ON r.qid = t.qid AND r.id = t.id GROUP BY 1),
              | ideal AS (SELECT SUM(CAST(1.0 AS DOUBLE) / (ln(i + 1.0) / ln(2.0))) AS idcg
              |   FROM range(1, 11) t(i))
              |SELECT tn.qid, tn.n_truth, COALESCE(hit.n_hit, 0) AS n_hit,
              |  round(COALESCE(hit.n_hit, 0) * CAST(1.0 AS DOUBLE) / LEAST(10, tn.n_truth), 6) AS recall,
              |  round(COALESCE(CAST(1.0 AS DOUBLE) / hit.frst, 0), 6) AS mrr,
              |  round(COALESCE(hit.dcg / ideal.idcg, 0), 6) AS ndcg
              |FROM tn LEFT JOIN hit ON tn.qid = hit.qid CROSS JOIN ideal""".stripMargin)),

    // Per-label centroid similarity map: mean embedding per label, pairwise
    // cosine over the bounded label set (the semantic sibling of the X42
    // lexical overlap matrix). Oracle replays the per-position mean and the
    // double cosine.
    ("x63_centroid_sim", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("label"), col("embedding"))
      Pipeline.centroidSimilarity(e, "label")
        .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
          round(col("sim"), 6).as("sim"))
    }, Some("""WITH ux AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
              |       generate_subscripts(embedding, 1) AS pos FROM embeddings),
              | mean AS (SELECT label, pos, AVG(x) AS m FROM ux GROUP BY 1, 2),
              | cnt AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
              | cv AS (SELECT label, list(m ORDER BY pos) AS v FROM mean GROUP BY label)
              |SELECT a.label AS g_a, b.label AS g_b, ca.n AS n_a, cb.n AS n_b,
              |       round(list_cosine_similarity(a.v, b.v), 6) AS sim
              |FROM cv a JOIN cv b ON a.label < b.label
              |JOIN cnt ca ON ca.label = a.label
              |JOIN cnt cb ON cb.label = b.label""".stripMargin)),

    // Mean-pool chunk embeddings into document embeddings (vec_id % 50 as
    // the owning doc → 50 docs × 10 chunks). The oracle replays the
    // per-position mean and the L2 normalization via zipped unnest.
    // Compared frame is all-scalar — one (id, pos, v) row per vector
    // component — because the driver's pandas comparator can't sort an
    // ARRAY column (r8 VERDICT item 1).
    ("x55_pool_embeddings", (s: SparkSession, sfDir: String) => {
      val ch = readPar(s, s"$sfDir/embeddings.parquet")
        .select((col("vec_id") % 50).cast("long").as("id"), col("embedding"))
      Pipeline.poolEmbeddings(ch)
        .select(col("id"), col("n_chunks"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("id"), col("n_chunks"),
          (col("pos") + 1).cast("long").as("pos"), round(col("v"), 6).as("v"))
    }, Some("""WITH ch AS (SELECT vec_id % 50 AS id, embedding FROM embeddings),
              | ux AS (SELECT id, CAST(unnest(embedding) AS DOUBLE) AS x,
              |          generate_subscripts(embedding, 1) AS pos FROM ch),
              | sm AS (SELECT id, pos, SUM(x) AS s FROM ux GROUP BY 1, 2),
              | cnt AS (SELECT id, COUNT(*) AS n FROM ch GROUP BY 1),
              | mean AS (SELECT s.id, s.pos, s.s / c.n AS m FROM sm s JOIN cnt c USING(id)),
              | nrm AS (SELECT id, sqrt(SUM(m * m)) AS nm FROM mean GROUP BY 1),
              | o AS (SELECT m.id, m.pos,
              |         CASE WHEN n.nm = 0 THEN m.m ELSE m.m / n.nm END AS v
              |       FROM mean m JOIN nrm n USING(id))
              |SELECT CAST(o.id AS BIGINT) AS id, c.n AS n_chunks,
              |       CAST(o.pos AS BIGINT) AS pos, round(o.v, 6) AS v
              |FROM o JOIN cnt c USING(id)""".stripMargin)),

    // Per-window heavy hitters: hourly top-2 users by event count with a
    // deterministic (count desc, user asc) rank.
    ("x87_window_topk", (s: SparkSession, sfDir: String) =>
      EventStreams.windowTopK(eventsFrame(s, sfDir), Seq("user_id"), k = 2)
        .select(unix_micros(col("window_start")).as("ws_us"),
          col("user_id"), col("n"), col("rank")),
      Some("""WITH c AS (SELECT date_trunc('hour', ts) AS ws, user_id,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
             |SELECT epoch_us(ws) AS ws_us, user_id, n,
             |  CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, user_id ASC) AS INTEGER) AS rank
             |FROM c QUALIFY rank <= 2""".stripMargin)),

    // Dedup audit: cluster-size histogram over the verified near-dup graph
    // (same recursive-CTE cluster replay as x2b, rolled up to sizes).
    ("x86_cluster_stats", (s: SparkSession, sfDir: String) =>
      Dedup.clusterStats(
          Dedup.minHashDupPairs(docsFrame(s, sfDir), threshold = 0.8)
            .select(col("id_a"), col("id_b")))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs")),
      Some(s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${ngramJaccardOracle(0.8)}) q),
              | edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
              | reach AS (SELECT s, d FROM edges
              |   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s),
              | cl AS (SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s),
              | sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY cluster)
              |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
              |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
              |FROM sz GROUP BY cluster_size""".stripMargin)),

    // Event-rate anomaly detection: hourly per-type counts z-scored against
    // each type's trailing-24h baseline; the oracle replays count, windowed
    // mean/stddev_pop, the min-trailing/zero-variance gates, and the
    // rounded-z threshold compare.
    ("x85_rate_anomalies", (s: SparkSession, sfDir: String) =>
      EventStreams.rateAnomalies(eventsFrame(s, sfDir), Seq("event_type"))
        .select(col("event_type"), unix_micros(col("window_start")).as("ws_us"),
          col("n"), round(col("baseline_mean"), 6).as("baseline_mean"),
          round(col("baseline_std"), 6).as("baseline_std"),
          col("z"), col("is_anomaly")),
      Some("""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS ws,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
             | s AS (SELECT event_type, ws, n,
             |    avg(n) OVER w AS mu, stddev_pop(n) OVER w AS sd, count(*) OVER w AS m
             |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ws
             |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, epoch_us(ws) AS ws_us, n,
             |  round(mu, 6) AS baseline_mean, round(sd, 6) AS baseline_std,
             |  CASE WHEN m >= 3 AND sd > 1e-9 THEN round((n - mu) / sd, 6) END AS z,
             |  coalesce(CASE WHEN m >= 3 AND sd > 1e-9
             |    THEN round((n - mu) / sd, 6) END >= 3.0, false) AS is_anomaly
             |FROM s""".stripMargin)),

    // Z-order layout key over (user_id, event time): pure integer
    // scale+interleave arithmetic, replayed term-for-term by the oracle
    // (32 generated bit terms). The layout half of data skipping.
    ("x84_zorder", (s: SparkSession, sfDir: String) => {
      val ev = eventsFrame(s, sfDir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
      val b = ev.agg(min("user_id"), max("user_id"), min("tus"), max("tus")).head()
      ev.select(col("event_id"), Pipeline.zorderKey(Seq(
        (col("user_id"), (b.getLong(0), b.getLong(1) + 1)),
        (col("tus"), (b.getLong(2), b.getLong(3) + 1)))).as("zkey"))
    }, Some {
      val terms = (0 until 16).flatMap(j => Seq(
        s"(((xu >> $j) & 1) << ${2 * j})",
        s"(((xt >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")
      s"""WITH b AS (SELECT min(user_id) AS ulo, max(user_id) + 1 AS uhi,
         |    min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) + 1 AS thi FROM events),
         | s AS (SELECT event_id,
         |   least(greatest((user_id - b.ulo) * 65535 // (b.uhi - b.ulo), 0), 65535) AS xu,
         |   least(greatest((epoch_us(ts) - b.tlo) * 65535 // (b.thi - b.tlo), 0), 65535) AS xt
         |  FROM events CROSS JOIN b)
         |SELECT event_id, CAST($terms AS BIGINT) AS zkey FROM s""".stripMargin
    }),

    // Edit-distance fuzzy join (record linkage): even-doc 4-token prefixes
    // matched against odd-doc prefixes within Levenshtein distance 2. The
    // Spark arm is the q-gram prefix-filtered candidate join + verify; the
    // oracle is the naive θ-join DuckDB can afford at oracle scale —
    // agreement pins the candidate generation recall-complete.
    ("x83_fuzzy_join", (s: SparkSession, sfDir: String) => {
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("n"),
          col("doc_id").cast("string").as("id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 4), " ").as("key"))
      Joins.fuzzyJoin(d.filter(col("n") % 2 === 0), d.filter(col("n") % 2 =!= 0),
          maxDist = 2)
        .select(col("id_l"), col("id_r"), col("key_l"), col("key_r"), col("dist"))
    }, Some(s"""WITH t AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
              |    array_to_string(($Toks)[1:4], ' ') AS key FROM documents),
              | l AS (SELECT * FROM t WHERE doc_id % 2 = 0),
              | r AS (SELECT * FROM t WHERE doc_id % 2 <> 0)
              |SELECT l.id AS id_l, r.id AS id_r, l.key AS key_l, r.key AS key_r,
              |  CAST(levenshtein(l.key, r.key) AS INTEGER) AS dist
              |FROM l JOIN r ON abs(length(l.key) - length(r.key)) <= 2
              |  AND levenshtein(l.key, r.key) <= 2""".stripMargin)),

    // Faceted corpus-composition report: top-k values per facet column with
    // counts, corpus share, and deterministic rank.
    ("x82_facets", (s: SparkSession, sfDir: String) =>
      TextStats.facets(readPar(s, s"$sfDir/documents.parquet"),
          Seq("lang", "source"), k = 3)
        .select(col("facet"), col("value"), col("n_docs"),
          round(col("share"), 6).as("share"), col("rank")),
      Some("""WITH p AS (SELECT 'lang' AS facet, lang AS value FROM documents
             |          UNION ALL SELECT 'source', source FROM documents),
             | c AS (SELECT facet, value, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2),
             | t AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM documents),
             | r AS (SELECT facet, value, n_docs,
             |    row_number() OVER (PARTITION BY facet ORDER BY n_docs DESC, value ASC) AS rank FROM c)
             |SELECT facet, value, n_docs, round(n_docs / t.tot, 6) AS share,
             |  CAST(rank AS INTEGER) AS rank
             |FROM r CROSS JOIN t WHERE rank <= 3""".stripMargin)),

    // T5 span corruption: deterministic masked-span (input, target) pairs —
    // start decisions are portable md5 arithmetic, overlap-merge and the
    // sentinel rebuild are replayed by the oracle window-for-window.
    ("x81_span_corrupt", (s: SparkSession, sfDir: String) =>
      Pipeline.spanCorrupt(docsFrame(s, sfDir), density = 0.15, spanLen = 3, seed = 42L)
        .select(col("id"), col("input"), col("target"), col("n_spans"), col("n_masked")),
      Some(s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
              | g AS (SELECT id, w, unnest(range(1, len(w) + 1)) AS i FROM t),
              | tk AS (SELECT id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS tok FROM g),
              | st AS (SELECT id, pos, tok,
              |   ('0x' || substr(md5('42:' || id || ':' || pos), 1, 12))::BIGINT % 1000000 < 50000 AS s FROM tk),
              | mk AS (SELECT *, max(CASE WHEN s THEN 1 ELSE 0 END)
              |     OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS m FROM st),
              | nr AS (SELECT *, m AND NOT coalesce(lag(m) OVER (PARTITION BY id ORDER BY pos), false) AS nw FROM mk),
              | ri AS (SELECT *, sum(CASE WHEN nw THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY pos
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS run FROM nr),
              | inp AS (SELECT id, string_agg(CASE WHEN m THEN '<extra_id_' || run || '>' ELSE tok END, ' ' ORDER BY pos)
              |     FILTER (WHERE NOT m OR nw) AS input FROM ri GROUP BY id),
              | tgt AS (SELECT id, string_agg(CASE WHEN nw THEN '<extra_id_' || run || '> ' || tok ELSE tok END, ' ' ORDER BY pos)
              |     FILTER (WHERE m) AS target FROM ri GROUP BY id),
              | ag AS (SELECT id, sum(CASE WHEN nw THEN 1 ELSE 0 END) AS n_spans,
              |     count(*) FILTER (WHERE m) AS n_masked FROM ri GROUP BY id)
              |SELECT d.id, coalesce(inp.input, '') AS input, coalesce(tgt.target, '') AS target,
              |  CAST(coalesce(ag.n_spans, 0) AS BIGINT) AS n_spans,
              |  CAST(coalesce(ag.n_masked, 0) AS BIGINT) AS n_masked
              |FROM (SELECT DISTINCT $DocId AS id FROM documents) d
              |LEFT JOIN inp USING (id) LEFT JOIN tgt USING (id) LEFT JOIN ag USING (id)""".stripMargin)),

    // Continuous-ingestion screening: a two-batch MemoryStream of docs
    // filtered against a static reference must equal the batch operator on
    // the union (per-doc verdicts depend only on (doc, reference), so
    // batch boundaries cannot matter) — the x74/x76 gate pattern.
    ("x80_stream_dedup_against", (s: SparkSession, sfDir: String) => {
      import s.implicits._
      val d = readPar(s, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("n"),
          col("doc_id").cast("string").as("id"), col("text").as("content"))
      val ref = d.filter(col("n") % 7 === 0).select("id", "content")
      val corpus = d.filter(col("n") % 7 =!= 0 && col("n") % 3 === 0)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Set[String]()
      val q = Dedup.streamDedupAgainst(
          mem.toDF().toDF("n", "id", "content").select("id", "content"), ref) { out =>
        got ++= out.select("id").collect().map(_.getString(0))
      }.start()
      try {
        val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        mem.addData(rows.filter(_._1 % 2 == 0).toSeq: _*); q.processAllAvailable()
        mem.addData(rows.filter(_._1 % 2 != 0).toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val batch = Dedup.dedupAgainst(corpus.select("id", "content"), ref)
        .select("id").collect().map(_.getString(0)).toSet
      Seq(("stream_equals_batch", got.toSet == batch && got.nonEmpty))
        .toDF("metric", "ok")
    }, Some("SELECT 'stream_equals_batch' AS metric, true AS ok")),

    // DSIR importance weighting: per-doc mean log p_target/p_raw under two
    // add-one unigram LMs (target = the English slice), vocab = top-500 raw
    // tokens + OOV. The oracle replays both LMs and the ratio end-to-end.
    ("x77_importance_dsir", (s: SparkSession, sfDir: String) => {
      val docs = docsFrame(s, sfDir)
      val target = docs.filter(element_at(col("metadata"), "lang") === "en")
      TextStats.importanceWeights(docs, target, vocabSize = 500)
        .select(col("id"), col("n_tokens"), round(col("logratio"), 6).as("logratio"))
    }, Some(s"""WITH tk AS (SELECT $DocId AS id, lang, unnest($Toks) AS tok FROM documents),
              | rawc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
              | voc AS (SELECT tok, cnt AS raw_cnt FROM rawc ORDER BY cnt DESC, tok ASC LIMIT 500),
              | tgtc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk WHERE lang = 'en' GROUP BY tok),
              | pars AS (SELECT
              |   ln(CAST((SELECT coalesce(sum(cnt), 0) FROM rawc) + (SELECT count(*) FROM voc) + 1 AS DOUBLE)) AS lnd_raw,
              |   ln(CAST((SELECT coalesce(sum(cnt), 0) FROM tgtc) + (SELECT count(*) FROM voc) + 1 AS DOUBLE)) AS lnd_tgt),
              | ratio AS (SELECT v.tok,
              |     ln(coalesce(t.cnt, 0) + 1) - pars.lnd_tgt - ln(v.raw_cnt + 1) + pars.lnd_raw AS lr
              |   FROM voc v CROSS JOIN pars LEFT JOIN tgtc t USING (tok)),
              | sc AS (SELECT tk.id, coalesce(r.lr, pars.lnd_raw - pars.lnd_tgt) AS lr
              |   FROM tk CROSS JOIN pars LEFT JOIN ratio r USING (tok)),
              | ag AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lr) AS sm FROM sc GROUP BY id)
              |SELECT d.id, coalesce(ag.n_tokens, 0) AS n_tokens,
              |  round(coalesce(ag.sm / ag.n_tokens, 0.0), 6) AS logratio
              |FROM (SELECT DISTINCT $DocId AS id FROM documents) d LEFT JOIN ag USING (id)""".stripMargin)),

    // Semi-structured flattening: infer the props JSON schema on a bounded
    // deterministic sample, then a codegen'd from_json extraction. The
    // oracle extracts the same field with DuckDB's JSON reader.
    ("x78_json_extract", (s: SparkSession, sfDir: String) => {
      val ev = s.read.parquet(s"$sfDir/events.parquet")
      Json.flatten(ev, "props", maxSample = 1000L)
        .select(col("event_id"), col("k"))
    }, Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events")),

    // PageRank centrality over the EXACT 5-NN semantic graph (deterministic
    // edge set -> the oracle can replay it), 5 fixed iterations, d = 0.85.
    // Representative-document scoring for curation; the approximate-graph
    // scale arm is knnGraph + the same pageRank, recall-gated via x75.
    ("x79_pagerank", (s: SparkSession, sfDir: String) => {
      val e = readPar(s, s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
      val edges = Ann.exactTopKAll(e,
          e.select(col("id").as("qid"), col("embedding").as("qvec")), k = 6)
        .filter(col("qid") =!= col("id"))
        .withColumn("rn2", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rn"))))
        .filter(col("rn2") <= 5)
        .select(col("qid").as("src"), col("id").as("dst"))
      Graphs.pageRank(edges, iterations = 5, damping = 0.85)
        .select(col("id"), round(col("rank"), 8).as("rank"))
    }, Some {
      val iters = (1 to 5).map { i =>
        s""" c$i AS (SELECT e.dst AS id, sum(r${i - 1}.r / od.deg) AS m
           |   FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id JOIN od ON od.src = e.src GROUP BY e.dst),
           | r$i AS (SELECT n.id, 0.15 / pars.n + 0.85 * coalesce(c$i.m, 0) AS r
           |   FROM nodes n CROSS JOIN pars LEFT JOIN c$i USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT CAST(a.vec_id AS VARCHAR) AS src, CAST(b.vec_id AS VARCHAR) AS dst,
         |     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
         |   FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
         | e AS (SELECT src, dst FROM (SELECT src, dst,
         |     row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rn FROM e0) WHERE rn <= 5),
         | nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
         | pars AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         | od AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
         | r0 AS (SELECT id, 1.0 / pars.n AS r FROM nodes CROSS JOIN pars),
         |$iters
         |SELECT id, round(r, 8) AS rank FROM r5""".stripMargin
    })
  )

  /** DuckDB replica of Ann.mmrRerank for query vec 0 at λ=0.5: top-candK
    * candidates + their pairwise cosine matrix, then the greedy selection
    * UNROLLED as k chained single-row argmax CTEs (each picks max
    * `0.5·sim − 0.5·max_{picked} pairSim`, id ASC tie-break — pick 1's
    * penalty term is 0, the operator's documented empty-set convention).
    */
  private def mmrOracle(k: Int, candK: Int): String = {
    val half = "CAST(0.5 AS DOUBLE)"
    def picked(i: Int) = (1 until i).map(j => s"SELECT id FROM s$j").mkString(" UNION ALL ")
    val steps = (2 to k).map { i =>
      s""" s$i AS (SELECT c.id, $half * c.sim - $half * (SELECT MAX(p.s) FROM pair p
         |    WHERE p.ia = c.id AND p.ib IN (${picked(i)})) AS mmr, c.sim
         |  FROM cand c WHERE c.id NOT IN (${picked(i)})
         |  ORDER BY mmr DESC, c.id ASC LIMIT 1)""".stripMargin
    }
    val finals = (1 to k).map(i =>
      s"SELECT '0' AS qid, CAST($i AS BIGINT) AS rn, id, round(mmr, 6) AS mmr, round(sim, 6) AS sim FROM s$i")
    s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
       | cand AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS de,
       |     list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(e AS DOUBLE[])) AS sim
       |   FROM embeddings, q ORDER BY sim DESC, id ASC LIMIT $candK),
       | pair AS (SELECT a.id AS ia, b.id AS ib, list_cosine_similarity(a.de, b.de) AS s
       |   FROM cand a JOIN cand b ON a.id <> b.id),
       |${(s" s1 AS (SELECT id, $half * sim AS mmr, sim FROM cand ORDER BY sim DESC, id ASC LIMIT 1)" +: steps).mkString(",\n")}
       |${finals.mkString("\n UNION ALL ")}""".stripMargin
  }

  /** Exact shingle-3 Jaccard oracle (used by BOTH x2 minhash — whose LSH+
    * verify output must equal the exact pair set — and x4 exact ngram).
    */
  private def ngramJaccardOracle(threshold: Double): String =
    s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
       | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM t)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  round(len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
       |FROM sh a JOIN sh b ON a.id < b.id
       |WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= $threshold""".stripMargin

  /** DuckDB replica of TextStats.langId (same lists, same tie-break). */
  /** Stopword-langid SQL over the token array `arr`: the per-language
    * score select list (columns `s_<lang>`) and the argmax CASE reading
    * them — shared by the standalone x8 oracle and the x117 sweep oracle.
    */
  private def langIdFragments(arr: String): (String, String) = {
    val scoreExprs = TextStats.LangStopwords.map { case (l, ws) =>
      l -> s"len(list_filter($arr, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    }
    val langs = scoreExprs.map(_._1)
    val whens = langs.zipWithIndex.dropRight(1).map { case (l, i) =>
      val cond = langs.drop(i + 1).map(j => s"s_$l >= s_$j").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    (scoreExprs.map { case (l, e) => s"$e AS s_$l" }.mkString(", "),
      s"CASE WHEN ${langs.map(l => s"s_$l = 0").mkString(" AND ")} THEN 'und' " +
        s"$whens ELSE '${langs.last}' END")
  }

  private lazy val langIdOracle: String = {
    val (scores, pred) = langIdFragments("w")
    s"""WITH t AS (SELECT $DocId AS id, $Toks AS w FROM documents),
       | sc AS (SELECT id, $scores FROM t)
       |SELECT id, $pred AS pred_lang
       |FROM sc""".stripMargin
  }

  /** x117: the fused sweep replayed column-family by column-family — the
    * Gopher metric CTEs from x36 (on the plain corpus), the x9 quality
    * math, the x8 langid argmax, and the composite keep, all off ONE `tok`
    * CTE like the engine's one fused scan.
    */
  /** The x117 signal-sweep CTE chain over rows (idExpr, textExpr) of
    * `src`: CTEs `<p>tok … <p>q`, with `<p>q` carrying every signal plus
    * gopher_keep — ONE definition shared by the standalone x117 oracle
    * (over raw documents) and the x126 composed-pipeline oracle (over the
    * normalized+stripped stage), so the replayed sweep semantics cannot
    * drift between them.
    */
  private def sweepCtes(p: String, src: String, idExpr: String,
                        textExpr: String): String = {
    val (scores, pred) = langIdFragments("t.tk")
    val stopSum = TextStats.GopherStops
      .map(w => s"CASE WHEN list_contains(list_transform(t.w, x -> lower(x)), '$w') THEN 1 ELSE 0 END")
      .mkString("\n    + ")
    s"""${p}tok AS (SELECT $idExpr AS id,
       |    list_filter(string_split($textExpr, chr(10)), l -> trim(l) <> '') AS rawlines,
       |    list_filter(list_transform(string_split($textExpr, chr(10)), l -> trim(l)), l -> l <> '') AS tlines,
       |    list_filter(string_split_regex($textExpr, '\\s+'), x -> x <> '') AS w,
       |    ${toksOf(textExpr)} AS tk
       |  FROM $src),
       | ${p}g AS (SELECT t.id, array_to_string(t.tk[u.i:u.i+1], ' ') AS gram
       |       FROM ${p}tok t, UNNEST(range(1, len(t.tk))) AS u(i)),
       | ${p}gc AS (SELECT id, gram, COUNT(*) AS tf FROM ${p}g GROUP BY 1, 2),
       | ${p}tg AS (SELECT id, MAX(tf) AS top_tf FROM ${p}gc GROUP BY 1),
       | ${p}m AS (SELECT t.id,
       |    CAST(len(t.w) AS BIGINT) AS n_words,
       |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(t.w) = 0 THEN 0.0
       |      ELSE list_sum(list_transform(t.w, x -> len(x))) * 1.0 / len(t.w) END AS mean_word_len,
       |    CASE WHEN len(t.w) = 0 THEN 0.0
       |      ELSE len(list_filter(t.w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(t.w) END AS alpha_word_frac,
       |    CASE WHEN len(t.tlines) = 0 THEN 0.0
       |      ELSE len(list_filter(t.tlines, l -> regexp_matches(l, '^[-*•]'))) * 1.0 / len(t.tlines) END AS bullet_line_frac,
       |    CASE WHEN len(t.tlines) = 0 THEN 0.0
       |      ELSE len(list_filter(t.tlines, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) * 1.0 / len(t.tlines) END AS ellipsis_line_frac,
       |    ($stopSum) AS n_stop_hits,
       |    CASE WHEN len(t.rawlines) = 0 THEN 0.0
       |      ELSE 1.0 - CAST(len(list_distinct(t.rawlines)) AS DOUBLE) / len(t.rawlines) END AS dup_line_frac,
       |    CASE WHEN len(t.tk) = 0 THEN 0.0
       |      ELSE LEAST(1.0, CAST(COALESCE(tg.top_tf, 0) AS DOUBLE) * 2 / len(t.tk)) END AS top_ngram_frac,
       |    CASE WHEN len(t.tk) = 0 THEN 0.0
       |      ELSE list_sum(list_transform(t.tk, x -> len(x))) * 1.0 / len(t.tk) END AS avg_len,
       |    CASE WHEN len(t.tk) = 0 THEN 0.0
       |      ELSE len(list_filter(t.tk, x -> x IN (${TextStats.QualityStopwords.map(w => s"'$w'").mkString(", ")}))) * 1.0 / len(t.tk) END AS stop_ratio,
       |    $scores
       |  FROM ${p}tok t LEFT JOIN ${p}tg tg ON t.id = tg.id),
       | ${p}q AS (SELECT *,
       |    least(n_tokens / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + least(avg_len / 10.0, 1.0) * 0.2 AS quality,
       |    $pred AS pred_lang,
       |    (n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |     AND alpha_word_frac >= 0.8 AND bullet_line_frac <= 0.9
       |     AND ellipsis_line_frac <= 0.3 AND n_stop_hits >= 1
       |     AND dup_line_frac <= 0.3 AND top_ngram_frac <= 0.2) AS gopher_keep
       |  FROM ${p}m)""".stripMargin
  }

  private lazy val signalSweepOracle: String =
    s"""WITH ${sweepCtes("", "documents", DocId, "text")}
       |SELECT id, n_words, n_tokens, round(quality, 6) AS quality, pred_lang,
       |  round(dup_line_frac, 6) AS dup_line_frac,
       |  round(top_ngram_frac, 6) AS top_ngram_frac, gopher_keep,
       |  (gopher_keep AND quality >= 0.25 AND pred_lang <> 'und') AS keep
       |FROM q""".stripMargin

  /** x120: exact trigram-shingle Jaccard of the probe set (every 50th doc)
    * against documents ∪ the synthetic near-dup batch (every 25th doc with
    * one appended token) — the index-served result must equal this exact
    * recompute.
    */
  /** x122 oracle: DuckDB BM25 replay (the q4/q4b arithmetic) over the
    * planted high-tf corpora searchTopK serves — `c1` pre-upsert, `c2`
    * post-upsert. Case construction mirrors the entry exactly: same repeat
    * counts, same moduli, same (rank DESC, id ASC) cut with a pinned rn.
    */
  private lazy val impactOracle: String = {
    def corpusCtes(c: String): String =
      s"""toks_$c AS (SELECT id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> t <> '') AS w FROM $c),
         | lens_$c AS (SELECT id, len(w) AS dl FROM toks_$c),
         | stats_$c AS (SELECT (SELECT COUNT(*) FROM $c) AS n, (SELECT AVG(len(w)) FROM toks_$c) AS avgdl),
         | tf_$c AS (SELECT id, t, COUNT(*) AS tf FROM (SELECT id, unnest(w) AS t FROM toks_$c) GROUP BY 1, 2)""".stripMargin
    def exact(label: String, c: String, terms: Seq[String], and: Boolean, k: Int): String = {
      val in = terms.map(t => s"'$t'").mkString(", ")
      val having =
        if (and && terms.size > 1) s"HAVING COUNT(DISTINCT tf.t) = ${terms.size}" else ""
      s"""SELECT '$label' AS qcase,
         |  CAST(row_number() OVER (ORDER BY r DESC, id ASC) AS BIGINT) AS rn,
         |  id, round(r, 6) AS rank
         |FROM (SELECT id, r FROM (
         |   SELECT tf.id, SUM( ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |     * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ) AS r
         |   FROM tf_$c tf
         |   JOIN (SELECT t, COUNT(*) AS df FROM tf_$c WHERE t IN ($in) GROUP BY 1) dfp USING (t)
         |   JOIN lens_$c USING (id) CROSS JOIN stats_$c
         |   WHERE tf.t IN ($in) GROUP BY tf.id $having)
         |  ORDER BY r DESC, id ASC LIMIT $k)""".stripMargin
    }
    def prefix(label: String, c: String, pat: String, k: Int): String =
      s"""SELECT '$label' AS qcase,
         |  CAST(row_number() OVER (ORDER BY r DESC, id ASC) AS BIGINT) AS rn,
         |  id, round(r, 6) AS rank
         |FROM (SELECT id, r FROM (
         |   SELECT tfl.id, ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |     * (tfl.tf * 2.2) / (tfl.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS r
         |   FROM (SELECT id, SUM(tf) AS tf FROM tf_$c WHERE t LIKE '$pat' GROUP BY 1) tfl
         |   CROSS JOIN (SELECT COUNT(DISTINCT id) AS df FROM tf_$c WHERE t LIKE '$pat') dfl
         |   JOIN lens_$c ON lens_$c.id = tfl.id CROSS JOIN stats_$c)
         |  ORDER BY r DESC, id ASC LIMIT $k)""".stripMargin
    s"""WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
       | planted AS (SELECT 'p' || CAST(doc_id AS VARCHAR) AS id,
       |     trim(repeat('customer ', CAST(40 + doc_id % 97 AS INTEGER))) || ' needle' AS text
       |   FROM documents WHERE doc_id % 29 = 0),
       | upd AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS id,
       |     trim(repeat('customer ', CAST(40 + doc_id % 89 AS INTEGER))) || ' needle gadget' AS text
       |   FROM documents WHERE doc_id % 31 = 0),
       | c1 AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       | c2 AS (SELECT * FROM c1 UNION ALL SELECT * FROM upd),
       | ${corpusCtes("c1")},
       | ${corpusCtes("c2")}
       |${exact("single", "c1", Seq("customer"), and = false, 10)}
       |UNION ALL ${exact("and", "c1", Seq("needle", "customer"), and = true, 25)}
       |UNION ALL ${exact("bound0", "c1", Seq("needle"), and = false, 5)}
       |UNION ALL ${prefix("prefix", "c1", "cust%", 10)}
       |UNION ALL ${exact("upsert", "c2", Seq("customer"), and = false, 10)}""".stripMargin
  }

  /** x124 oracle: INDEPENDENT rule-level derivation of each case's
    * canonical URL (what the canonicalization rules SAY the output must
    * be, not a re-run of the engine's string algebra — a stronger check),
    * plus the md5(id)-rank survivor replay of dedupByUrl. Cases mirror the
    * entry's synthesis exactly: n%5∈{0,1} are the SAME resource
    * (case/port/trailing-slash/tracking/param-order cosmetics) so they
    * share key `…/Path/{n//5}?a=1&b=2` and exactly one of each pair
    * survives; n%5=2 strips `:443`+fragment and lowercases; n%5=3
    * collapses to a bare path (every param is tracking); n%5=4 has no
    * scheme and passes through verbatim. Both engines MD5 the UTF-8 id
    * bytes to lowercase hex, so the survivor rank replays bit-for-bit.
    */
  private lazy val urlDedupOracle: String =
    """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS id, CAST(doc_id AS BIGINT) AS n FROM documents),
      | c AS (SELECT id, CASE
      |     WHEN n % 5 IN (0, 1) THEN 'http://www.example.com/Path/' || CAST(n // 5 AS VARCHAR) || '?a=1&b=2'
      |     WHEN n % 5 = 2 THEN 'https://site' || CAST(n % 11 AS VARCHAR) || '.org/p/' || id
      |     WHEN n % 5 = 3 THEN 'http://tracker.net/p/' || id
      |     ELSE 'no-scheme-url-' || id END AS canonical
      |  FROM d)
      |SELECT id, canonical,
      |  (row_number() OVER (PARTITION BY canonical ORDER BY md5(id) ASC, id ASC)) = 1 AS kept
      |FROM c""".stripMargin

  /** x133 oracle: the composed embedding pipeline in MATERIALIZED CTEs —
    * x26's chunking (stride = size), the md5-hex-pair stub embedder, x55's
    * pooling shape (per-dim double sums / count, L2 normalize), x46's
    * floor(x/scale + 0.5) quantization, and the cosine against the literal
    * query on the BYTE vectors (scale cancels; byte products are exact).
    */
  private lazy val embedPipelineOracle: String = {
    val qvec = Seq(0.625, -0.25, 0.375, -0.5)
    val qRows = qvec.zipWithIndex.map { case (v, d) => s"($d, $v)" }.mkString(", ")
    s"""WITH t AS MATERIALIZED (SELECT $DocId AS id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
       | m AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n FROM t WHERE len(w) > 0),
       | ch AS MATERIALIZED (SELECT id, array_to_string(
       |      w[CAST(chunk_idx * 32 + 1 AS BIGINT) : CAST(chunk_idx * 32 + 32 AS BIGINT)], ' ') AS chunk_text
       |    FROM (SELECT id, w, n, unnest(range(CAST(CASE WHEN n <= 32 THEN 1
       |      ELSE 1 + (n - 32 + 31) // 32 END AS BIGINT))) AS chunk_idx FROM m)),
       | ce AS MATERIALIZED (SELECT id,
       |      CAST(CAST(('0x' || substr(md5(chunk_text), 8 * d + 1, 8))::BIGINT
       |        / 2147483647.5 - 1 AS FLOAT) AS DOUBLE) AS v, d
       |    FROM ch, unnest([0, 1, 2, 3]) AS u(d)),
       | cnt AS (SELECT id, CAST(count(*) AS BIGINT) // 4 AS n_chunks FROM ce GROUP BY 1),
       | sm AS (SELECT id, d, SUM(v) AS s FROM ce GROUP BY 1, 2),
       | mean AS (SELECT s.id, s.d, s.s / c.n_chunks AS mv FROM sm s JOIN cnt c USING (id)),
       | nrm AS (SELECT id, sqrt(SUM(mv * mv)) AS nm FROM mean GROUP BY 1),
       | o AS MATERIALIZED (SELECT m.id, m.d,
       |      CASE WHEN n.nm = 0 THEN m.mv ELSE m.mv / n.nm END AS v
       |    FROM mean m JOIN nrm n USING (id)),
       | sc AS (SELECT id, max(abs(v)) / 127.0 AS scale FROM o GROUP BY 1),
       | qv AS (SELECT o.id, o.d,
       |      CASE WHEN sc.scale = 0 THEN 0.0 ELSE floor(o.v / sc.scale + 0.5) END AS q
       |    FROM o JOIN sc USING (id)),
       | qq AS (SELECT * FROM (VALUES $qRows) AS x(d, qd)),
       | dt AS (SELECT qv.id, SUM(qv.q * qq.qd) AS dot,
       |      sqrt(SUM(qv.q * qv.q)) AS nq FROM qv JOIN qq USING (d) GROUP BY 1),
       | qn AS (SELECT sqrt(${qvec.map(v => s"($v * $v)").mkString(" + ")}) AS qnorm)
       |SELECT dt.id, cnt.n_chunks,
       |  round(CASE WHEN dt.nq = 0 THEN 0.0 ELSE dt.dot / (dt.nq * qn.qnorm) END, 6) AS sim
       |FROM dt JOIN cnt USING (id), qn""".stripMargin
  }

  /** x130 oracle: the composed web pipeline, each stage a MATERIALIZED CTE
    * (the x126 lesson — inlined CTEs re-evaluate the chain multiplicatively)
    * and derived INDEPENDENTLY of the engine's recipe where possible: the
    * canonical URL from the x124 arm arithmetic, the registrable domain
    * from the arm (not a parse_url replay), the HTML extraction's expected
    * text constructed directly ('Page & no.<id>' + newline + text — what
    * the wrap must extract to), the langid argmax from the shared
    * fragments, the cap from the md5 rank.
    */
  private lazy val webPipelineOracle: String = {
    val (scores, pred) = langIdFragments("w")
    s"""WITH c AS MATERIALIZED (
       |  SELECT $DocId AS id, CAST(doc_id AS BIGINT) AS n, text, CASE
       |     WHEN doc_id % 5 IN (0, 1)
       |       THEN 'http://www.example.com/Path/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
       |     WHEN doc_id % 5 = 2
       |       THEN 'https://site' || CAST(doc_id % 11 AS VARCHAR) || '.org/p/' || $DocId
       |     WHEN doc_id % 5 = 3 THEN 'http://tracker.net/p/' || $DocId
       |     ELSE 'no-scheme-url-' || $DocId END AS canonical
       |  FROM documents),
       | kept AS MATERIALIZED (
       |  SELECT id, n, text FROM (
       |    SELECT *, row_number() OVER (PARTITION BY canonical ORDER BY md5(id), id) AS rn
       |    FROM c) WHERE rn = 1),
       | dom AS MATERIALIZED (
       |  SELECT id, text, CASE
       |     WHEN n % 5 IN (0, 1) THEN 'example.com'
       |     WHEN n % 5 = 2 THEN 'site' || CAST(n % 11 AS VARCHAR) || '.org'
       |     WHEN n % 5 = 3 THEN 'tracker.net' END AS domain
       |  FROM kept),
       | clean AS MATERIALIZED (
       |  SELECT * FROM dom
       |  WHERE (domain IS NULL OR domain <> 'tracker.net')
       |    AND NOT regexp_matches(lower(text), '\\b(?:\\Qtable hash\\E)\\b')),
       | ext AS MATERIALIZED (
       |  SELECT id, domain, 'Page & no.' || id || chr(10) || text AS content FROM clean),
       | toks AS (SELECT id, domain, content, ${toksOf("content")} AS w FROM ext),
       | sc AS (SELECT id, domain, content, $scores FROM toks),
       | en AS MATERIALIZED (SELECT id, domain, content FROM sc WHERE $pred = 'en'),
       | cap AS (SELECT id, domain, content,
       |    row_number() OVER (PARTITION BY domain ORDER BY md5(id), id) AS rn FROM en)
       |SELECT id, domain, md5(content) AS h FROM cap WHERE rn <= 5""".stripMargin
  }

  /** x129b: 40 deterministic two-word phrases over the corpus vocabulary —
    * large enough to exercise automaton states/fail links, small enough
    * that the oracle's alternation replay stays cheap. The `i / 16` term
    * keeps all 40 DISTINCT ((i*5+3) % 16 alone has period 16 in i — the
    * list would silently collapse to 16 phrases). */
  private lazy val AutomatonPhrases: Seq[String] = {
    val ws = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "merge", "batch", "customer", "join", "stream", "vector")
    val out = (0 until 40).map(i => s"${ws(i % 16)} ${ws((i * 5 + 3 + i / 16) % 16)}")
    require(out.distinct.size == out.size, "phrase fixture must be duplicate-free")
    out
  }

  /** x129b oracle: the SAME \Q-quoted alternation the regex arm would
    * compile (Web.phrasePattern over the same phrase list), run by DuckDB's
    * RE2 — an independent engine agreeing with the automaton. */
  private lazy val automatonBlocklistOracle: String =
    s"""SELECT $DocId AS id,
       |  CASE WHEN regexp_matches(lower(text),
       |    '${Web.phrasePattern(AutomatonPhrases)}') THEN 'phrase' END AS block_reason
       |FROM documents""".stripMargin

  /** x129 oracle: the blocklist classification replayed — the x99
    * registrable-domain derivation, the literal domain IN-list, and the
    * exact [[Web.phrasePattern]] alternation via regexp_matches.
    */
  private lazy val blocklistOracle: String =
    s"""WITH dom AS (SELECT $DocId AS id, text, CASE
       |    WHEN array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') = 'co.uk'
       |    THEN array_to_string((string_split(${UrlHost}, '.'))[-3:], '.')
       |    ELSE array_to_string((string_split(${UrlHost}, '.'))[-2:], '.') END AS domain
       |  FROM documents)
       |SELECT id, CASE WHEN domain IN ('src121.com', 'src1010.co.uk') THEN 'domain'
       |  WHEN regexp_matches(lower(text), '\\b(?:\\Qtable hash\\E|\\Qvector small\\E|\\Qdup\\E)\\b')
       |  THEN 'phrase' END AS block_reason
       |FROM dom""".stripMargin

  /** x128 oracle: the HTML wrap + the full extraction chain replayed in
    * DuckDB — identical RE2 patterns for the strip/whitespace stages (every
    * pattern is RE2-compatible by construction: per-tag containers instead
    * of a backreference), and the entity stage as an ORDERED literal
    * replace chain with the amp-producing replace last, which is
    * equivalent to the engine's single-pass decoder on this corpus (the
    * planted references are non-overlapping and the raw text is pure
    * lowercase letters + spaces).
    */
  private lazy val htmlExtractOracle: String =
    s"""WITH h AS (SELECT $DocId AS id,
       |    '<html><head><title>Doc ' || $DocId ||
       |    '</title><style type="text/css">p { color: red; }</style></head>' ||
       |    '<body><!-- hidden <p>not text</p> --><h1 class="t">Title &amp; ' ||
       |    '&lt;tag&gt; caf&#233;</h1><p>' || text ||
       |    '</p><script>var x = "<div>no</div>";</script>' ||
       |    '<div>tail&nbsp;A&#x41; &unknown; 1 &lt 2</div>' ||
       |    '<p>em&mdash;dash &hellip; it&rsquo;s &Eacute;cole &euro;5</p>' ||
       |    '</body></html>' AS html
       |  FROM documents),
       | s1 AS (SELECT id, regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
       | s2 AS (SELECT id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
       |     '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
       |     '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
       |     '(?is)<noscript\\b[^>]*>.*?</noscript\\s*>', ' ', 'g'),
       |     '(?is)<template\\b[^>]*>.*?</template\\s*>', ' ', 'g') AS t FROM s1),
       | s3 AS (SELECT id, regexp_replace(t,
       |     '(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/blockquote|/ul|/ol|/table|/pre|/dd|/dt|/section|/article|/header|/footer)\\b[^>]*>',
       |     chr(10), 'g') AS t FROM s2),
       | s4 AS (SELECT id, regexp_replace(t, '</?[a-zA-Z!][^>]*>', ' ', 'g') AS t FROM s3),
       | s5 AS (SELECT id, replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(t,
       |     '&lt;', '<'), '&gt;', '>'), '&nbsp;', chr(160)), '&#233;', chr(233)),
       |     '&#x41;', 'A'), '&mdash;', chr(8212)), '&hellip;', chr(8230)),
       |     '&rsquo;', chr(8217)), '&Eacute;', chr(201)), '&euro;', chr(8364)),
       |     '&amp;', '&') AS t FROM s4),
       | s6 AS (SELECT id, regexp_replace(t, '[ \\t\\r\\x0B\\f\\xA0]+', ' ', 'g') AS t FROM s5),
       | s7 AS (SELECT id, regexp_replace(t, ' ?\\n ?', chr(10), 'g') AS t FROM s6),
       | s8 AS (SELECT id, regexp_replace(t, '\\n+', chr(10), 'g') AS t FROM s7),
       | fin AS (SELECT id, trim(t, ' ' || chr(10)) AS txt FROM s8)
       |SELECT id, CAST(length(txt) AS BIGINT) AS n_chars, md5(txt) AS h FROM fin""".stripMargin

  /** x125 oracle: all-pairs containment ground truth over distinct 3-gram
    * shingles — the same shingle construction as the x4 Jaccard oracle
    * ($Toks, w[i:i+2]) over documents ∪ the planted first-20-token
    * snippets, probe side restricted to the planted docs exactly like the
    * entry. Because the oracle is ALL-PAIRS, the engine's prefix-filter
    * candidates must be COMPLETE (the entry disables the index df cap);
    * containment and jaccard derive from the same list_intersect.
    */
  private lazy val containmentOracle: String =
    s"""WITH base AS (SELECT $DocId AS id, text FROM documents),
       | t0 AS (SELECT id, $Toks AS w FROM base),
       | corpus AS (SELECT id, w FROM t0
       |   UNION ALL
       |   SELECT 'ct' || id, w[1:20] FROM t0 WHERE CAST(id AS BIGINT) % 7 = 0),
       | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM corpus),
       | nz AS (SELECT id, s FROM sh WHERE len(s) > 0)
       |SELECT a.id AS id, b.id AS in_id,
       |  round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6) AS containment,
       |  round(len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
       |FROM nz a JOIN nz b ON a.id <> b.id AND a.id LIKE 'ct%'
       |WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) >= 0.85""".stripMargin

  /** x127 oracle: the full NB train+score replay — per-class token counts
    * over src0/src1, Laplace-smoothed log-likelihood-ratio weights
    * (ln((c+α)/(N+α·|V|)) with α = 1, identical op order to the engine's
    * driver-double denominators: the counts are < 2^53 so both engines
    * see the same IEEE values), doc-count prior, per-doc Σ tf·w + bias.
    * Out-of-vocabulary tokens are ignored on both sides (the model's
    * documented vocabulary-closed convention); token-less docs score the
    * bare prior via the left join.
    */
  private lazy val nbClassifierOracle: String =
    s"""WITH cp AS (SELECT tok, count(*) AS c FROM
       |   (SELECT unnest($Toks) AS tok FROM documents WHERE source = 'src0') GROUP BY 1),
       | cn AS (SELECT tok, count(*) AS c FROM
       |   (SELECT unnest($Toks) AS tok FROM documents WHERE source = 'src1') GROUP BY 1),
       | j AS (SELECT COALESCE(cp.tok, cn.tok) AS tok,
       |    COALESCE(cp.c, 0) AS cp, COALESCE(cn.c, 0) AS cn
       |  FROM cp FULL JOIN cn ON cp.tok = cn.tok),
       | s AS (SELECT count(*) AS v,
       |    CAST(COALESCE(sum(cp), 0) AS BIGINT) AS np,
       |    CAST(COALESCE(sum(cn), 0) AS BIGINT) AS nn FROM j),
       | pr AS (SELECT ln(
       |    CAST((SELECT count(*) FROM documents WHERE source = 'src0') AS DOUBLE)
       |    / (SELECT count(*) FROM documents WHERE source = 'src1')) AS bias),
       | w AS (SELECT tok,
       |    ln((cp + 1.0) / (np + 1.0 * v)) - ln((cn + 1.0) / (nn + 1.0 * v)) AS w
       |  FROM j CROSS JOIN s),
       | tf AS (SELECT id, tok, count(*) AS tf FROM
       |   (SELECT $DocId AS id, unnest($Toks) AS tok FROM documents) GROUP BY 1, 2),
       | sc AS (SELECT tf.id, sum(tf.tf * w.w) AS sc FROM tf JOIN w USING (tok) GROUP BY 1)
       |SELECT d.id, round(COALESCE(sc.sc, 0) + pr.bias, 6) AS logodds
       |FROM (SELECT $DocId AS id FROM documents) d
       |LEFT JOIN sc ON sc.id = d.id CROSS JOIN pr""".stripMargin

  /** x127b oracle: the bigram-featured NB replay — the x127 arithmetic
    * over a feature stream of unigram tokens UNION hashed adjacent-pair
    * features ('bg:' || md5(w[i] || ' ' || w[i+1])), DuckDB's md5 deriving
    * the identical keys as the engine's training aggregate and scan
    * kernel. `feats`/`tw` are MATERIALIZED: three consumers each, and
    * default CTE inlining would re-tokenize the corpus multiplicatively.
    */
  private lazy val nbBigramClassifierOracle: String =
    s"""WITH tw AS MATERIALIZED (
       |   SELECT $DocId AS id, source, $Toks AS w FROM documents),
       | feats AS MATERIALIZED (
       |   SELECT id, source, unnest(w) AS f FROM tw
       |   UNION ALL
       |   SELECT id, source, 'bg:' || md5(b) AS f FROM
       |     (SELECT id, source,
       |        unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS b
       |      FROM tw)),
       | cp AS (SELECT f, count(*) AS c FROM feats WHERE source = 'src0' GROUP BY 1),
       | cn AS (SELECT f, count(*) AS c FROM feats WHERE source = 'src1' GROUP BY 1),
       | j AS (SELECT COALESCE(cp.f, cn.f) AS f,
       |    COALESCE(cp.c, 0) AS cp, COALESCE(cn.c, 0) AS cn
       |  FROM cp FULL JOIN cn ON cp.f = cn.f),
       | s AS (SELECT count(*) AS v,
       |    CAST(COALESCE(sum(cp), 0) AS BIGINT) AS np,
       |    CAST(COALESCE(sum(cn), 0) AS BIGINT) AS nn FROM j),
       | pr AS (SELECT ln(
       |    CAST((SELECT count(*) FROM documents WHERE source = 'src0') AS DOUBLE)
       |    / (SELECT count(*) FROM documents WHERE source = 'src1')) AS bias),
       | w AS (SELECT f,
       |    ln((cp + 1.0) / (np + 1.0 * v)) - ln((cn + 1.0) / (nn + 1.0 * v)) AS w
       |  FROM j CROSS JOIN s),
       | tf AS (SELECT id, f, count(*) AS tf FROM feats GROUP BY 1, 2),
       | sc AS (SELECT tf.id, sum(tf.tf * w.w) AS sc FROM tf JOIN w USING (f) GROUP BY 1)
       |SELECT d.id, round(COALESCE(sc.sc, 0) + pr.bias, 6) AS logodds
       |FROM (SELECT $DocId AS id FROM documents) d
       |LEFT JOIN sc ON sc.id = d.id CROSS JOIN pr""".stripMargin

  /** x125c oracle: the containment prefix profile replayed in DuckDB —
    * shingle df over the whole corpus, per-doc rarest-first prefix of
    * length ⌊(1−t)·|S| + 1e-9⌋ + 1 (e-notation literals force DOUBLE so
    * the floor sees the same IEEE value as the engine's lit arithmetic),
    * then Σ df over prefix rows split by the cap. Only tie-order-invariant
    * sums are compared — see the entry comment.
    */
  private lazy val containmentStatsOracle: String =
    s"""WITH t0 AS (SELECT $DocId AS id, $Toks AS w FROM documents),
       | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM t0),
       | nz AS (SELECT id, s, CAST(floor((1e0 - 0.8e0) * len(s) + 1e-9) AS INT) + 1 AS p
       |  FROM sh WHERE len(s) > 0),
       | inv AS (SELECT id, p, unnest(s) AS g FROM nz),
       | dfreq AS (SELECT g, count(*) AS df FROM inv GROUP BY g),
       | ranked AS (SELECT i.id, i.p, d.df,
       |   row_number() OVER (PARTITION BY i.id ORDER BY d.df, i.g) AS pos
       |  FROM inv i JOIN dfreq d USING (g)),
       | pref AS (SELECT df FROM ranked WHERE pos <= p)
       |SELECT count(*) AS probe_rows,
       |  CAST(COALESCE(sum(CASE WHEN df <= 64 THEN df ELSE 0 END), 0) AS BIGINT) AS candidates_kept,
       |  CAST(COALESCE(sum(CASE WHEN df > 64 THEN df ELSE 0 END), 0) AS BIGINT) AS candidates_skipped
       |FROM pref""".stripMargin

  /** x126 oracle: the full eight-stage curation chain replayed in one
    * DuckDB query, each stage the SAME SQL its standalone oracle proved
    * (x40 normalize, x24 strip, the shared [[sweepCtes]] sweep, x25 line
    * dedup, x2b pair+recursive-CC dedup, x20 8-gram decontamination, x109
    * cluster-rooted split, x31 md5 shard/pos) — just re-targeted at the
    * previous stage's text instead of raw `documents.text`. The planted
    * per-doc unique line guarantees every doc stays non-empty and
    * byte-distinct through every stage, so the Jaccard-only pair replay
    * and the engine's exact-dup arm cannot diverge on degenerate docs
    * (and no shingle set is ever empty — 0/0 Jaccard, which DuckDB's
    * NaN-is-greatest ordering would pass the threshold, cannot occur).
    *
    * Every stage CTE is MATERIALIZED: the chain is deep and each
    * self-join references its input twice, so DuckDB's default CTE
    * inlining re-evaluates the upstream chain multiplicatively —
    * measured >10 min inlined vs ~18 s materialized on this corpus.
    */
  private lazy val curatePipelineOracle: String = Seq(
    "c0", "nf", "n1", "b1", "k1", "lt", "ld", "l1", "jsh", "jp", "je", "jc",
    "d1", "dg", "bg", "d2", "ssh", "sp", "se", "scc", "sk", "sh1", "s1",
    "fk", "fs").foldLeft(curatePipelineOracleRaw) { (q, c) =>
    val r = q.replace(s" $c AS (", s" $c AS MATERIALIZED (")
    // a silent no-op here wouldn't change RESULTS, just quietly restore
    // the >10-min inlined plan — fail fast on any CTE-name/format drift
    require(r != q, s"curatePipelineOracle: CTE '$c' not found to materialize")
    r
  }

  private lazy val curatePipelineOracleRaw: String =
    s"""WITH RECURSIVE c0 AS (
       |  SELECT id, '>>> *** <<<' || chr(10) || 'Subscribe to our newsletter today' || chr(10) ||
       |      t || chr(10) || 'unique token line ' || id AS c
       |  FROM (SELECT $DocId AS id, text AS t FROM documents
       |        WHERE source <> 'src0' AND doc_id % 2 = 0
       |        UNION ALL
       |        SELECT 'dup_' || $DocId, text || ' zzextratoken'
       |        FROM documents WHERE source <> 'src0' AND doc_id % 50 = 0)),
       | nf AS (SELECT id, replace(replace(translate(c,
       |      '${sqlQuote(graft.ext.TextStats.NormFoldFrom)}',
       |      '${sqlQuote(graft.ext.TextStats.NormFoldTo)}'),
       |    chr(8230), '...'), chr(8203), '') AS s
       |  FROM c0),
       | n1 AS (SELECT id, trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
       |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g'),
       |    '[ \\t]+', ' ', 'g'),
       |    ' ?\\n ?', chr(10), 'g'),
       |    '\\n{3,}', chr(10) || chr(10), 'g')) AS c
       |  FROM nf),
       | b1 AS (SELECT id, array_to_string(list_filter(string_split(c, chr(10)),
       |    l -> len(trim(l)) >= 10 AND
       |         len(regexp_replace(trim(l), '[^A-Za-z]', '', 'g')) * 1.0 >= 0.5 * len(trim(l))),
       |    chr(10)) AS c
       |  FROM n1),
       | ${sweepCtes("sw", "b1", "id", "c")},
       | k1 AS (SELECT b1.id, b1.c FROM b1 JOIN swq USING (id)
       |  WHERE gopher_keep AND quality >= 0.25 AND pred_lang <> 'und'),
       | lt AS (SELECT id, string_split(c, chr(10)) AS ls FROM k1),
       | ld AS (SELECT coalesce(list(k), []) AS dl FROM (
       |    SELECT trim(l) AS k FROM lt, unnest(ls) AS r(l)
       |    WHERE len(trim(l)) > 0 GROUP BY 1 HAVING count(*) >= 2)),
       | l1 AS (SELECT id, array_to_string(list_filter(ls,
       |    l -> len(trim(l)) = 0 OR NOT list_contains(dl, trim(l))), chr(10)) AS c
       |  FROM lt CROSS JOIN ld),
       | jsh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |    ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM (SELECT id, ${toksOf("c")} AS w FROM l1)),
       | jp AS (SELECT a.id AS id_a, b.id AS id_b FROM jsh a JOIN jsh b ON a.id < b.id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       | je AS (SELECT id_a AS s, id_b AS d FROM jp UNION SELECT id_b, id_a FROM jp),
       | jr AS (SELECT s, d FROM je
       |   UNION SELECT r.s, e.d FROM jr r JOIN je e ON r.d = e.s WHERE e.d <> r.s),
       | jc AS (SELECT s AS id, least(s, min(d)) AS cluster FROM jr GROUP BY s),
       | d1 AS (SELECT id, c FROM l1
       |  WHERE id NOT IN (SELECT id FROM jc WHERE id <> cluster)),
       | dg AS (SELECT DISTINCT t.id, array_to_string(t.w[u.i:u.i+7], ' ') AS gram
       |  FROM (SELECT id, ${toksOf("c")} AS w FROM d1) t,
       |       UNNEST(range(1, len(t.w) - 6)) AS u(i)),
       | bg AS (SELECT DISTINCT array_to_string(t.w[u.i:u.i+7], ' ') AS gram
       |  FROM (SELECT $Toks AS w FROM documents WHERE source = 'src0') t,
       |       UNNEST(range(1, len(t.w) - 6)) AS u(i)),
       | d2 AS (SELECT id, c FROM d1
       |  WHERE id NOT IN (SELECT DISTINCT id FROM dg JOIN bg USING (gram))),
       | ssh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |    ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM (SELECT id, ${toksOf("c")} AS w FROM d2)),
       | sp AS (SELECT a.id AS id_a, b.id AS id_b FROM ssh a JOIN ssh b ON a.id < b.id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       | se AS (SELECT id_a AS s, id_b AS d FROM sp UNION SELECT id_b, id_a FROM sp),
       | sr AS (SELECT s, d FROM se
       |   UNION SELECT r.s, e.d FROM sr r JOIN se e ON r.d = e.s WHERE e.d <> r.s),
       | scc AS (SELECT s AS id, least(s, min(d)) AS cluster FROM sr GROUP BY s),
       | sk AS (SELECT d2.id, coalesce(scc.cluster, d2.id) AS root
       |  FROM d2 LEFT JOIN scc ON scc.id = d2.id),
       | sh1 AS (SELECT id, ('0x' || substr(md5('7:' || root), 1, 12))::BIGINT % 1000000 AS h FROM sk),
       | s1 AS (SELECT id, CASE WHEN h < 800000 THEN 'train'
       |        WHEN h < 900000 THEN 'validation' ELSE 'test' END AS split
       |  FROM sh1),
       | fk AS (SELECT d2.id, s1.split, d2.c, md5('42:' || d2.id) AS rk
       |  FROM d2 JOIN s1 USING (id)),
       | fs AS (SELECT id, split, c, rk, ('0x' || substr(rk, 1, 12))::BIGINT % 8 AS shard FROM fk)
       |SELECT id, split, shard,
       |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, id) - 1 AS pos,
       |  md5(c) AS final_md5
       |FROM fs""".stripMargin

  /** x135 oracle: the crawl→shards flagship replayed stage by stage —
    * expected extraction text constructed DIRECTLY (like x130: stronger
    * than re-running the regex chain), url canonicalization/domain per
    * synthesis case (the x124/x129-proven arithmetic), md5-rank url
    * survivors, the \Q-quoted phrase arm, x25's corpus line dedup, x2b's
    * pair + recursive-CC near-dedup (empty-shingle docs never pair — the
    * jnz guard, matching the engine's no-bands-for-empty), x18's pack
    * arithmetic and x31's shard/pos replay. Key CTEs MATERIALIZED — the
    * chain is deep and self-joining.
    */
  private lazy val crawlToShardsOracle: String = Seq(
    "c0", "ext", "kept", "clean", "lt", "ld", "l1", "jsh", "jnz", "jp",
    "je", "jc", "d1", "pk", "po", "fs").foldLeft(crawlToShardsOracleRaw) {
    (q, c) =>
      val r = q.replace(s" $c AS (", s" $c AS MATERIALIZED (")
      require(r != q, s"crawlToShardsOracle: CTE '$c' not found to materialize")
      r
  }

  private lazy val crawlToShardsOracleRaw: String =
    s"""WITH RECURSIVE c0 AS (
       |  SELECT $DocId AS id, CAST(doc_id AS BIGINT) AS n, 0 AS grp, text AS body
       |  FROM documents WHERE doc_id % 10 < 5
       |  UNION ALL
       |  SELECT 'dup' || $DocId, CAST(doc_id AS BIGINT), 1, text || ' zzextratoken'
       |  FROM documents WHERE doc_id % 50 = 0),
       | ext AS (SELECT id, n, grp,
       |    'Crawl & shard' || chr(10) || 'Subscribe now and like' || chr(10) ||
       |      body || chr(10) || 'zzdocid ' || id AS c,
       |    CASE WHEN grp = 1 THEN 'no-scheme-url-dup' || CAST(n AS VARCHAR)
       |      WHEN n % 5 IN (0, 1) THEN 'http://www.example.com/Path/' || CAST(n // 5 AS VARCHAR) || '?a=1&b=2'
       |      WHEN n % 5 = 2 THEN 'https://site' || CAST(n % 11 AS VARCHAR) || '.org/p/' || id
       |      WHEN n % 5 = 3 THEN 'http://tracker.net/p/' || id
       |      ELSE 'no-scheme-url-' || id END AS canonical,
       |    CASE WHEN grp = 0 AND n % 5 IN (0, 1) THEN 'example.com'
       |      WHEN grp = 0 AND n % 5 = 2 THEN 'site' || CAST(n % 11 AS VARCHAR) || '.org'
       |      WHEN grp = 0 AND n % 5 = 3 THEN 'tracker.net' END AS domain
       |  FROM c0),
       | kept AS (SELECT id, c, domain FROM (
       |    SELECT *, row_number() OVER (PARTITION BY canonical ORDER BY md5(id), id) AS rn
       |    FROM ext) WHERE rn = 1),
       | clean AS (SELECT id, c FROM kept
       |  WHERE (domain IS NULL OR domain <> 'tracker.net')
       |    AND NOT regexp_matches(lower(c), '\\b(?:\\Qtable hash\\E)\\b')),
       | lt AS (SELECT id, string_split(c, chr(10)) AS ls FROM clean),
       | ld AS (SELECT coalesce(list(k), []) AS dl FROM (
       |    SELECT trim(l) AS k FROM lt, unnest(ls) AS r(l)
       |    WHERE len(trim(l)) > 0 GROUP BY 1 HAVING count(*) >= 2)),
       | l1 AS (SELECT id, array_to_string(list_filter(ls,
       |    l -> len(trim(l)) = 0 OR NOT list_contains(dl, trim(l))), chr(10)) AS c
       |  FROM lt CROSS JOIN ld),
       | jsh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |    ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM (SELECT id, ${toksOf("c")} AS w FROM l1)),
       | jnz AS (SELECT * FROM jsh WHERE len(s) > 0),
       | jp AS (SELECT a.id AS id_a, b.id AS id_b FROM jnz a JOIN jnz b ON a.id < b.id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       | je AS (SELECT id_a AS sr, id_b AS d FROM jp UNION SELECT id_b, id_a FROM jp),
       | jr AS (SELECT sr, d FROM je
       |   UNION SELECT r.sr, e.d FROM jr r JOIN je e ON r.d = e.sr WHERE e.d <> r.sr),
       | jc AS (SELECT sr AS id, least(sr, min(d)) AS cluster FROM jr GROUP BY sr),
       | d1 AS (SELECT id, c FROM l1
       |  WHERE id NOT IN (SELECT id FROM jc WHERE id <> cluster)),
       | pk AS (SELECT id, c,
       |    CAST(len(list_filter(string_split_regex(c, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5(id), 1, 12))::BIGINT % 8 AS INT) AS pack_shard
       |  FROM d1),
       | po AS (SELECT id, c, pack_shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |  FROM pk),
       | fs AS (SELECT id, rk, ('0x' || substr(rk, 1, 12))::BIGINT % 8 AS shard
       |  FROM (SELECT id, md5('42:' || id) AS rk FROM d1))
       |SELECT po.id, fs.shard,
       |  ROW_NUMBER() OVER (PARTITION BY fs.shard ORDER BY fs.rk, fs.id) - 1 AS pos,
       |  po.pack_shard, po.n_tokens, po."offset",
       |  CAST(floor(po."offset" / 512) AS BIGINT) AS bin, md5(po.c) AS h
       |FROM po JOIN fs ON fs.id = po.id""".stripMargin

  /** x125b oracle: the drop rule replayed over the subset corpus — a doc
    * drops iff SOME other doc covers ≥ 0.85 of its shingles AND is
    * strictly larger (or equal-size with a smaller id). Same shingle
    * construction as x125; empty-shingle docs never drop.
    */
  private lazy val dropContainedOracle: String =
    s"""WITH base AS (SELECT $DocId AS id, text FROM documents WHERE doc_id % 5 = 0),
       | t0 AS (SELECT id, $Toks AS w FROM base),
       | corpus AS (SELECT id, w FROM t0
       |   UNION ALL
       |   SELECT 'ct' || id, w[1:20] FROM t0 WHERE CAST(id AS BIGINT) % 35 = 0),
       | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM corpus),
       | nz AS (SELECT id, s FROM sh WHERE len(s) > 0),
       | drops AS (SELECT DISTINCT a.id FROM nz a JOIN nz b ON a.id <> b.id
       |   AND len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) >= 0.85
       |   AND (len(b.s) > len(a.s) OR (len(b.s) = len(a.s) AND b.id < a.id)))
       |SELECT id FROM corpus WHERE id NOT IN (SELECT id FROM drops)""".stripMargin

  /** x123 oracle: the full ByteDHash replay — byte stream → 72 integer
    * slice sums/counts → 64 cross-multiplied comparisons → BIGINT hash
    * (bit 63 via the MIN-literal; DuckDB rejects 1 << 63) → all-pairs
    * popcount ≤ 3. All-integer arithmetic, so it matches the engine
    * bit-for-bit by construction. A degenerate blob (constant or empty
    * byte stream, or all 64 comparisons tie — zero perceptual signal)
    * hashes to NULL and so never pairs, replaying the engine's None-hash
    * convention.
    */
  private lazy val mediaNearDupOracle: String =
    """WITH m AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
      |  UNION ALL
      |  SELECT 'm' || CAST(doc_id AS VARCHAR), 'ZZZ' || substring(text, 4)
      |  FROM documents WHERE doc_id % 25 = 0),
      | b AS (SELECT id, [ascii(text[i]) FOR i IN range(1, len(text) + 1)] AS bs FROM m),
      | g AS (SELECT id, len(list_distinct(bs)) AS n_distinct,
      |   [COALESCE(list_sum(bs[CAST(k * n // 72 AS INT) + 1 : CAST((k + 1) * n // 72 AS INT)]), 0) FOR k IN range(72)] AS ss,
      |   [GREATEST(CAST((k + 1) * n // 72 AS INT) - CAST(k * n // 72 AS INT), 1) FOR k IN range(72)] AS cc
      |  FROM (SELECT id, bs, len(bs) AS n FROM b)),
      | h0 AS (SELECT id, CAST(list_sum(
      |   [CASE WHEN ss[(k // 8) * 9 + (k % 8) + 2] * cc[(k // 8) * 9 + (k % 8) + 1]
      |            > ss[(k // 8) * 9 + (k % 8) + 1] * cc[(k // 8) * 9 + (k % 8) + 2]
      |     THEN (CASE WHEN k = 63 THEN -9223372036854775807::BIGINT - 1
      |                ELSE (1::BIGINT << CAST(k AS INT)) END)
      |     ELSE 0::BIGINT END FOR k IN range(64)]) AS BIGINT) AS ph0,
      |   list_sum(
      |   [CASE WHEN ss[(k // 8) * 9 + (k % 8) + 2] * cc[(k // 8) * 9 + (k % 8) + 1]
      |           <> ss[(k // 8) * 9 + (k % 8) + 1] * cc[(k // 8) * 9 + (k % 8) + 2]
      |     THEN 1 ELSE 0 END FOR k IN range(64)]) AS n_strict,
      |   n_distinct
      |  FROM g),
      | h AS (SELECT id,
      |   CASE WHEN n_distinct <= 1 OR n_strict = 0 THEN NULL ELSE ph0 END AS ph
      |  FROM h0)
      |SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
      |FROM h a JOIN h b ON a.id < b.id AND bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin

  private def dedupIndexOracle(threshold: Double): String =
    s"""WITH base AS (
       |   SELECT $DocId AS id, text FROM documents
       |   UNION ALL
       |   SELECT 'dup_' || $DocId, text || ' zzextratoken'
       |   FROM documents WHERE doc_id % 25 = 0),
       | t AS (SELECT id, $Toks AS w FROM base),
       | sh AS (SELECT id, CASE WHEN len(w) < 3 THEN []
       |   ELSE list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) END AS s
       |  FROM t),
       | qsh AS (SELECT 'q' || id AS qid, s FROM sh
       |  WHERE id NOT LIKE 'dup_%' AND CAST(id AS BIGINT) % 50 = 0)
       |SELECT q.qid, d.id,
       |  round(len(list_intersect(q.s, d.s)) * 1.0 / len(list_distinct(list_concat(q.s, d.s))), 6) AS jaccard
       |FROM qsh q JOIN sh d
       |  ON len(list_intersect(q.s, d.s)) * 1.0 / len(list_distinct(list_concat(q.s, d.s))) >= $threshold""".stripMargin

  /** x119: both chains generated from TextStats.MojibakeTable in engine
    * order — corrupt (target→moji, same fold order as the entry) then
    * repair (moji→target, fixMojibake's order). No literal contains an
    * ASCII quote (all chars are ≥ U+0080), but escape defensively.
    */
  private lazy val mojibakeOracle: String = {
    def q(s: String) = s.replace("'", "''")
    val corrupt = TextStats.MojibakeTable.foldLeft("text") {
      case (e, (moji, ch)) => s"replace($e, '${q(ch)}', '${q(moji)}')"
    }
    val fix = TextStats.MojibakeTable.foldLeft("corrupted") {
      case (e, (moji, ch)) => s"replace($e, '${q(moji)}', '${q(ch)}')"
    }
    s"""WITH c AS (SELECT $DocId AS id, text, $corrupt AS corrupted FROM documents),
       | f AS (SELECT id, text, corrupted, $fix AS fixed FROM c)
       |SELECT id, CAST(len(corrupted) - len(text) AS INTEGER) AS n_inflate,
       |  fixed <> corrupted AS had_mojibake,
       |  fixed = text AS roundtrip_ok
       |FROM f""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** SURVEY §7.3 flagship: parser OR + postings union + string & numeric
    * metadata filters + DESC NULLS FIRST sort + pagination in one query.
    */
  def flagship(spark: SparkSession): DataFrame =
    mainColl(spark, "/root/testdata/sf0.001")
      .queryFrame("filter or stream", limit = 10,
        where = Map("lang" -> "en", "n_chars" -> Map("$gt" -> 100)),
        orderBy = Seq("-n_chars"))
}
