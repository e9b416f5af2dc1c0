package graft

import graft.api.{Collection, Embedder}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ports the reference's behavioral test matrix (tests/sifts/test_sqlite.py,
  * FIXTURES.md §1) against the Spark-native Collection.
  */
class CollectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-test-").toString

  private def coll(root: String = freshRoot(), name: String = "test",
                   embedder: Option[Embedder] = None, useFts: Boolean = true) =
    Collection(spark, root, name, embedder, useFts)

  /** The canonical 10-doc metadata grid (FIXTURES.md §1.1,
    * reference test_sqlite.py:146-316).
    */
  private def gridColl(numeric: Boolean = false): Collection = {
    val c = coll()
    val k1 = if (numeric) (1 to 9).map(_.toString) else Seq("a","b","c","d","e","f","g","h","i")
    val k2 = if (numeric) Seq("3","3","3","2","2","2","1","1","1") else Seq("c","c","c","b","b","b","a","a","a")
    val ids = (1 to 9).map(i => s"i$i") :+ "i0"
    val metas = (0 until 9).map(i => Map("k1" -> k1(i), "k2" -> k2(i))) :+ (null: Map[String, String])
    c.add(contents = ids.map(_ => "Lorem"), ids = Some(ids), metadatas = Some(metas))
    c
  }

  // --- embedding storage round-trip (reference test_sqlite.py:329-345:
  // float32 bytes survive storage exactly) ---
  test("embedding round-trips through the docs store as exact float32") {
    object FixedEmbedder extends Embedder {
      def embed(texts: Seq[String]): Seq[Array[Float]] =
        texts.map(_ => Array(0.1f, -2.5f, 3.25f, Float.MinPositiveValue))
    }
    val c = coll(embedder = Some(FixedEmbedder))
    c.add(Seq("a doc"), ids = Some(Seq("e1")))
    val stored = c.docs().select("embedding").head().getSeq[Float](0)
    assert(stored === Seq(0.1f, -2.5f, 3.25f, Float.MinPositiveValue))
  }

  test("exportJsonl/importJsonl: docs, metadata, and exact float32 embeddings survive") {
    import org.apache.spark.sql.functions._
    val c = coll()
    val src: Seq[(String, String, Map[String, String], Array[Float])] = Seq(
      ("d1", "alpha beta", Map("lang" -> "en"), Array(0.1f, -2.5f, Float.MinPositiveValue)),
      ("d2", "gamma delta", Map("lang" -> "de", "k" -> "v"), null.asInstanceOf[Array[Float]]),
      ("d3", "alpha gamma", null.asInstanceOf[Map[String, String]], Array(1.0f, 2.0f, 3.0f))
    )
    c.addDf(spark.createDataFrame(src)
      .toDF("id", "content", "metadata", "embedding"))
    val dump = freshRoot() + "/dump"
    c.exportJsonl(dump)
    val c2 = coll(name = "imp")
    c2.importJsonl(dump)
    val back = c2.docs().orderBy("id").collect().map { r =>
      (r.getString(0), r.getString(1),
        Option(r.getMap[String, String](2)).map(_.toMap).orNull,
        Option(r.getSeq[Float](3)).map(_.toSeq).orNull)
    }
    assert(back.toSeq === src.map { case (i, ct, m, e) =>
      (i, ct, m, Option(e).map(_.toSeq).orNull) })
    // the rebuilt index answers queries
    assert(c2.queryFrame("alpha").select("id").collect().map(_.getString(0)).toSet
      === Set("d1", "d3"))
  }

  test("streamVectorSearch: per-batch probes equal per-call vectorTopK; rejects batch input") {
    import org.apache.spark.sql.functions._
    val c = coll(name = "sv", useFts = false)
    val vecs = (1 to 40).map(i =>
      (s"v$i", "", Array(math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat)))
    c.addDf(spark.createDataFrame(vecs).toDF("id", "content", "embedding"))
    c.createVectorIndex(numTables = 8, numPlanes = 3)
    val qs = Seq("a" -> Seq(1.0f, 0.0f), "b" -> Seq(0.0f, 1.0f))
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer[(String, Int, String)]()
    val q = c.streamVectorSearch(mem.toDF().toDF("qid", "qvec"), k = 5) { out =>
      got ++= out.select("qid", "rn", "id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    }.start()
    try {
      mem.addData(qs.head); q.processAllAvailable()
      mem.addData(qs.last); q.processAllAvailable()
    } finally q.stop()
    val percall = c.vectorTopK(qs, 5).select("qid", "rn", "id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got.toSet === percall && got.nonEmpty)
    intercept[IllegalArgumentException] {
      c.streamVectorSearch(spark.createDataFrame(qs).toDF("qid", "qvec"), k = 5)(_ => ())
    }
  }

  test("streamQuery: per-batch FTS answers equal per-call queryFrame; rejects batch input") {
    val c = coll(name = "sq")
    c.add(Seq("alpha beta gamma", "beta delta", "alpha delta"),
      ids = Some(Seq("d1", "d2", "d3")))
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val got = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var sinkCalls = 0
    val q = c.streamQuery(mem.toDF().toDF("qid", "query"), limit = 0) { out =>
      sinkCalls += 1
      got ++= out.select("qid", "id").collect().map(r => (r.getString(0), r.getString(1)))
    }.start()
    try {
      mem.addData(("q1", "alpha"), ("q2", "beta or delta")); q.processAllAvailable()
      // extended grammar over the stream: phrase adjacency, not just AND
      mem.addData(("q3", "\"alpha beta\"")); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet === Set(("q1", "d1"), ("q1", "d3"),
      ("q2", "d1"), ("q2", "d2"), ("q2", "d3"),
      ("q3", "d1"))) // d3 has alpha AND beta-adjacent? no: "alpha delta" lacks beta
    // the batched contract: ONE sink call (one unioned frame -> one action)
    // per micro-batch, however many queries the batch carries — not one per
    // query (the pre-r11 serial loop the driver flagged as the scale-killer)
    assert(sinkCalls === 2)
    intercept[IllegalArgumentException] {
      c.streamQuery(Seq(("q", "x")).toDF("qid", "query"))(_ => ())
    }
  }

  // --- name validation (core.py:94-97) ---
  test("valid and invalid collection names") {
    val root = freshRoot()
    Collection(spark, root, "ok-name_+~#=/123")
    intercept[IllegalArgumentException](Collection(spark, root, ""))
    intercept[IllegalArgumentException](Collection(spark, root, "bad name"))
    intercept[IllegalArgumentException](Collection(spark, root, "bad.name"))
  }

  // --- add / query basics (test_sqlite.py:39-63) ---
  test("add, FTS query, wildcard, or, implicit and") {
    val c = coll()
    c.add(Seq("Lorem ipsum dolor", "sit amet"))
    assert(c.count() === 2)
    assert(c.query("Lorem").total === 1)
    assert(c.query("lorem").total === 1)       // case-insensitive
    assert(c.query("am*").total === 1)         // prefix
    assert(c.query("Lorem or amet").total === 2)
    assert(c.query("Lorem ipsum").total === 1) // AND within one doc
    assert(c.query("Lorem sit").total === 0)   // AND across docs -> no hit
  }

  // --- diacritic folding (fts5 unicode61 remove_diacritics parity,
  // reference core.py:461; opt-in via foldAccents) ---
  test("foldAccents: folded index matches unaccented AND accented queries") {
    assert(graft.functions.StringFold.fold("Crème Brûlée à côté") === "Creme Brulee a cote")
    // marks on NON-Latin bases are vowels, not diacritics — preserved
    // (fts5 remove_diacritics parity: 'กิน' eat != 'กัน' together)
    assert(graft.functions.StringFold.fold("กิน กัน") === "กิน กัน")
    assert(graft.functions.StringFold.fold("हिन्दी") === "हिन्दी")
    assert(graft.functions.StringFold.fold("mixé กิน") === "mixe กิน")
    val root = freshRoot()
    val c = Collection(spark, root, "fold", foldAccents = true)
    c.add(Seq("Crème Brûlée à côté", "plain text here"), ids = Some(Seq("d1", "d2")))
    assert(c.query("creme").results.map(_.id) === Seq("d1"))  // unaccented query
    assert(c.query("brûlée").total === 1)                     // accented query folds too
    assert(c.query("cote").total === 1)
    assert(c.query("crè*").results.map(_.id) === Seq("d1"))   // folded prefix
    // without the flag the index keeps the accented form (ASCII-only default
    // unchanged): unaccented query does not match
    val u = Collection(spark, root, "nofold")
    u.add(Seq("Crème Brûlée"), ids = Some(Seq("u1")))
    assert(u.query("creme").total === 0)
    assert(u.query("crème").total === 1)
  }

  // --- prefix-expanded BM25 (decision pinned per VERDICT r4 #7: fts5-style —
  // a prefix leaf scores as ONE term, tf summed over expansions, df =
  // distinct matching docs) ---
  test("bm25 prefix: singleton expansion ranks exactly like the exact term") {
    val c = coll()
    c.add(Seq("zebra apple", "zebra zebra banana", "cherry date"),
      ids = Some(Seq("r1", "r2", "r3")))
    val exact = c.query("zebra").results.map(h => h.id -> h.rank.get).toMap
    val pref = c.query("zebr*").results.map(h => h.id -> h.rank.get).toMap
    assert(pref.keySet === exact.keySet)
    exact.foreach { case (id, r) => assert(math.abs(pref(id) - r) < 1e-9) }
  }

  test("bm25 prefix: multi-term expansion sums tf, counts df by doc") {
    val c = coll()
    c.add(Seq("car card", "carpet", "dog"), ids = Some(Seq("m1", "m2", "m3")))
    val res = c.query("car*").results
    assert(res.map(_.id).toSet === Set("m1", "m2"))
    assert(res.forall(_.rank.exists(_ > 0.0))) // prefix-only hits rank now
    val byId = res.map(h => h.id -> h.rank.get).toMap
    assert(byId("m1") > byId("m2")) // tf 2 (car+card) beats tf 1 at these dls
  }

  test("flat FTS query plans exactly ONE postings scan (fused match+rank)") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def postingsScans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] &&
          lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
            .exists(_.toString.contains("/postings/")) => lr
      }.size
    val c = coll()
    c.add(Seq("alpha beta gamma", "beta gamma", "alpha solo"))
    // the distributed arm (forced: a negative driver bound)
    val d = c.withSliceMaxRows(-1)
    // 2 = the one term-pruned scan feeding BOTH the score rows and the tiny
    // per-leaf df aggregate (broadcast). Deliberately not 1: folding df in
    // via a leaf-partitioned window would shuffle every matched row by leaf
    // — a hotspot for common terms. The fallback's extra match-id scans
    // (4 total) are what fusion removes.
    assert(postingsScans(d.queryFrame("alpha beta")) === 2, "flat AND fuses")
    assert(postingsScans(d.queryFrame("alpha or beta")) === 2, "flat OR fuses")
    assert(postingsScans(d.queryFrame("alph* beta")) === 2, "wildcard stays fused")
    assert(postingsScans(d.queryFrame("alpha beta or gamma")) === 4,
      "mixed AST falls back to match-ids + rank join")
    // the driver arm scored the slice when the frame was built: the frame
    // itself reads docs only
    for (q <- Seq("alpha beta", "alpha or beta", "alph* beta", "alpha beta or gamma"))
      assert(postingsScans(c.queryFrame(q)) === 0, q)
  }

  test("mixed AND/OR query (non-flat AST) matches and ranks via the fallback path") {
    val c = coll()
    c.add(Seq("lorem ipsum dolor", "sit amet", "lorem solo"),
      ids = Some(Seq("a", "b", "c")))
    // (lorem AND ipsum) OR amet — AND binds tighter; 'lorem solo' matches a
    // leaf but not the AND group, so it must be excluded
    val r = c.query("lorem ipsum or amet")
    assert(r.results.map(_.id).toSet === Set("a", "b"))
    assert(r.results.forall(_.rank.exists(_ > 0.0)))
  }

  test("uuid ids are 36 chars; upsert on existing id replaces") {
    val c = coll()
    val ids = c.add(Seq("Lorem ipsum"))
    assert(ids.head.length === 36)
    c.add(Seq("dolor sit"), ids = Some(ids))
    assert(c.count() === 1)
    assert(c.query("Lorem").total === 0)
    assert(c.query("dolor").total === 1)
  }

  test("intra-batch duplicate ids: last wins") {
    val c = coll()
    c.add(Seq("first version", "second version"), ids = Some(Seq("x", "x")))
    assert(c.count() === 1)
    assert(c.query("second").total === 1)
    assert(c.query("first").total === 0)
  }

  test("addDf: intra-batch duplicate ids resolve last-wins; delta reindex on batch ids") {
    import TestSpark.spark.implicits._
    val c = coll()
    c.addDf(Seq(("a", "alpha keep"), ("b", "beta old")).toDF("id", "content"))
    // duplicate id within ONE frame: positional last wins (posCol given)
    c.addDf(Seq(("b", "beta mid", 1L), ("b", "beta new", 2L), ("d", "delta", 3L))
      .toDF("id", "content", "p"), posCol = Some("p"))
    assert(c.count() === 3)
    assert(c.query("alpha").total === 1)   // untouched postings survive the delta
    assert(c.query("old").total === 0)     // b's stale postings removed
    assert(c.query("mid").total === 0)     // intra-batch loser never lands
    assert(c.query("new").total === 1)
    assert(c.docs().filter($"id" === "b").select("content").as[String].head() === "beta new")
  }

  test("update reindexes; update requires ids") {
    val c = coll()
    val ids = c.add(Seq("Lorem ipsum"))
    c.update(ids, Seq("dolor amet"))
    assert(c.query("ipsum").total === 0)
    assert(c.query("amet").total === 1)
    intercept[IllegalArgumentException](c.update(Seq.empty, Seq.empty))
  }

  test("delete is idempotent and cross-collection (core.py:186-188 parity)") {
    val root = freshRoot()
    val a = Collection(spark, root, "a")
    val b = Collection(spark, root, "b")
    a.add(Seq("Lorem"), ids = Some(Seq("shared")))
    b.add(Seq("ipsum"), ids = Some(Seq("shared")))
    a.delete(Seq("shared"))
    assert(a.count() === 0)
    assert(b.count() === 0) // deliberately un-scoped, like the reference
    a.delete(Seq("shared")) // idempotent
  }

  test("delete_all only clears own collection") {
    val root = freshRoot()
    val a = Collection(spark, root, "a")
    val b = Collection(spark, root, "b")
    a.add(Seq("Lorem"))
    b.add(Seq("Lorem"))
    a.deleteAll()
    assert(a.count() === 0)
    assert(b.count() === 1)
    assert(b.query("Lorem").total === 1)
  }

  test("collection isolation") {
    val root = freshRoot()
    val a = Collection(spark, root, "a")
    val b = Collection(spark, root, "b")
    a.add(Seq("Lorem ipsum"))
    b.add(Seq("dolor sit"))
    assert(a.query("dolor").total === 0)
    assert(b.query("dolor").total === 1)
    assert(a.count() === 1)
  }

  test("metadata round-trip including null") {
    val c = coll()
    c.add(Seq("a doc", "b doc"), ids = Some(Seq("m1", "m0")),
      metadatas = Some(Seq(Map("k" -> "v", "n" -> "2"), null)))
    val r = c.get(orderBy = Seq("k")).results
    assert(r.map(_.id) === Seq("m1", "m0")) // asc nulls last
    assert(r.head.metadata === Map("k" -> "v", "n" -> "2"))
    assert(r.last.metadata === null)
    assert(r.forall(_.rank.isEmpty)) // get() has no rank column
  }

  // --- ordering (test_sqlite.py:163-186) ---
  test("order_by single key with NULLS parity") {
    val c = gridColl()
    val asc = c.get(orderBy = Seq("k1")).results.map(_.id)
    assert(asc === Seq("i1","i2","i3","i4","i5","i6","i7","i8","i9","i0"))
    val desc = c.get(orderBy = Seq("-k1")).results.map(_.id)
    assert(desc === Seq("i0","i9","i8","i7","i6","i5","i4","i3","i2","i1"))
    val plus = c.get(orderBy = Seq("+k1")).results.map(_.id)
    assert(plus === asc)
  }

  test("order_by multi-key") {
    val c = gridColl()
    assert(c.get(orderBy = Seq("k2","k1")).results.map(_.id) ===
      Seq("i7","i8","i9","i4","i5","i6","i1","i2","i3","i0"))
    assert(c.get(orderBy = Seq("k2","-k1")).results.map(_.id) ===
      Seq("i9","i8","i7","i6","i5","i4","i3","i2","i1","i0"))
  }

  // --- pagination (test_sqlite.py:189-222) ---
  test("limit / offset / limit=0 / total") {
    val c = gridColl()
    val page = c.get(limit = 3, offset = 3, orderBy = Seq("k1"))
    assert(page.results.map(_.id) === Seq("i4","i5","i6"))
    assert(page.total === 10)
    assert(c.get(limit = 0).total === 10)
    assert(c.get(limit = 0).results.size === 10)
    assert(c.get(limit = 3).results.size === 3)
    assert(c.get(offset = 8, limit = 5, orderBy = Seq("k1")).results.map(_.id) === Seq("i9","i0"))
  }

  // --- where (test_sqlite.py:225-316) ---
  test("where string compare ops") {
    val c = gridColl()
    assert(c.get(where = Map("k2" -> "a")).total === 3)
    assert(c.get(where = Map("k2" -> Map("$eq" -> "a"))).total === 3)
    assert(c.get(where = Map("k2" -> Map("$gt" -> "a"))).total === 6)
    assert(c.get(where = Map("k2" -> Map("$lt" -> "a"))).total === 0)
    assert(c.get(where = Map("k2" -> Map("$gte" -> "b"))).total === 6)
    assert(c.get(where = Map("k2" -> Map("$lte" -> "b"))).total === 6)
  }

  test("where numeric compare ops (operand typing, core.py:272-287)") {
    val c = gridColl(numeric = true)
    assert(c.get(where = Map("k2" -> 1)).total === 3)
    assert(c.get(where = Map("k2" -> Map("$gt" -> 1))).total === 6)
    assert(c.get(where = Map("k2" -> Map("$lt" -> 1))).total === 0)
    assert(c.get(where = Map("k1" -> Map("$gte" -> 5, "$lte" -> 7))).total === 3)
  }

  test("numeric where over NON-numeric metadata filters the doc, not crash (ANSI)") {
    // metadata is schemaless: one "N/A" value must not abort the query
    // (Spark 4 ANSI cast would throw; try_cast -> NULL -> filtered)
    val c = coll()
    c.add(Seq("d1", "d2"), ids = Some(Seq("x", "y")),
      metadatas = Some(Seq(Map("views" -> "120"), Map("views" -> "N/A"))))
    assert(c.get(where = Map("views" -> Map("$gt" -> 100))).results.map(_.id) === Seq("x"))
    assert(c.get(where = Map("views" -> Map("$lt" -> 1000))).total === 1)
  }

  test("$in / $nin with NULL-exclusion semantics") {
    val c = gridColl()
    val in = c.get(where = Map("k1" -> Map("$in" -> Seq("a","b","c","d"))))
    assert(in.total === 4)
    assert(in.results.map(_.id).toSet === Set("i1","i2","i3","i4"))
    val nin = c.get(where = Map("k1" -> Map("$nin" -> Seq("a","b","c","d"))))
    assert(nin.total === 5) // i0 (no metadata) excluded, like the reference
    assert(nin.results.map(_.id).toSet === Set("i5","i6","i7","i8","i9"))
  }

  test("invalid operator raises") {
    val c = gridColl()
    intercept[IllegalArgumentException](c.get(where = Map("k1" -> Map("in" -> Seq("a")))))
  }

  test("where composes with FTS") {
    val c = gridColl()
    assert(c.query("Lorem", where = Map("k2" -> "a")).total === 3)
    assert(c.query("missing", where = Map("k2" -> "a")).total === 0)
  }

  // --- vector search (FIXTURES.md §1.2, test_sqlite.py:348-379) ---
  private object DictEmbedder extends Embedder {
    private val m = Map(
      "Lorem ipsum dolor" -> Array(1f, 1f, 1f),
      "sit amet" -> Array(1f, -1f, 1f),
      "consectetur" -> Array(-1f, -1f, 1f),
      "adipiscing" -> Array(-1f, -1f, -1f))
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map(m)
  }

  test("vector search exact cosine ±1/3 fixture") {
    val c = coll(embedder = Some(DictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"))
    val r = c.query("consectetur", vectorSearch = true)
    assert(r.total === 2)
    assert(r.results.map(_.content) === Seq("sit amet", "Lorem ipsum dolor"))
    assert(math.abs(r.results(0).rank.get - 1.0 / 3) < 1e-6)
    assert(math.abs(r.results(1).rank.get + 1.0 / 3) < 1e-6)

    val page = c.query("consectetur", vectorSearch = true, offset = 1, limit = 1)
    assert(page.results.map(_.content) === Seq("Lorem ipsum dolor"))
    val past = c.query("consectetur", vectorSearch = true, offset = 2)
    assert(past.results.isEmpty)
    assert(past.total === 2) // SURVEY §7.4: true pre-limit total
  }

  test("vector update re-embeds") {
    val c = coll(embedder = Some(DictEmbedder))
    val ids = c.add(Seq("Lorem ipsum dolor"))
    c.update(ids, Seq("sit amet"))
    val r = c.query("consectetur", vectorSearch = true)
    assert(r.total === 1)
    assert(math.abs(r.results.head.rank.get - 1.0 / 3) < 1e-6)
  }

  test("persisted vector index: probe, delta maintenance, drop") {
    import TestSpark.spark.implicits._
    val c = coll(embedder = Some(DictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    assert(c.vectorIndex().isEmpty)
    intercept[IllegalStateException](c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 1))
    c.createVectorIndex(numTables = 8, numPlanes = 2, dim = 3)
    val ix = c.vectorIndex().get
    assert((ix.numTables, ix.numPlanes, ix.dim) === (8, 2, 3))
    val top = c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 1).collect()
    assert(top.length === 1 && top.head.getString(2) === "a") // cosine 1.0 with itself
    // add() delta-maintains the index: the new doc is probeable without rebuild
    c.add(Seq("consectetur"), ids = Some(Seq("d")))
    val ids = c.vectorIndex().get.buckets.select("id").as[String].collect().toSet
    assert(ids === Set("a", "b", "d"))
    // delete removes the doc's bucket rows
    c.delete(Seq("a"))
    assert(c.vectorIndex().get.buckets.select("id").as[String].collect().toSet === Set("b", "d"))
    c.deleteAll()
    assert(c.vectorIndex().isEmpty)
  }

  /** DictEmbedder's fixture vectors for the known strings, a deterministic
    * hash-derived 3-vector for anything else — the IVF test upserts novel
    * contents after the index exists.
    */
  private object OpenDictEmbedder extends Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map {
      case "Lorem ipsum dolor" => Array(1f, 1f, 1f)
      case "sit amet" => Array(1f, -1f, 1f)
      case "consectetur" => Array(-1f, -1f, 1f)
      case t =>
        val h = t.hashCode
        Array((((h & 0xFF) - 128) / 128f) + 0.001f, (((h >> 8) & 0xFF) - 128) / 128f,
          (((h >> 16) & 0xFF) - 128) / 128f)
    }
  }

  test("persisted IVF index: probe, delta maintenance, staleness retrain, exclusivity") {
    import TestSpark.spark.implicits._
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root, embedder = Some(OpenDictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    assert(c.ivfIndex().isEmpty)
    intercept[IllegalArgumentException](
      c.createVectorIndex(kind = "bogus"))
    c.createVectorIndex(kind = "ivf", numCentroids = 2, iters = 3,
      maxSample = 1000, nprobe = 2)
    val ix = c.ivfIndex().get
    assert(ix.centroids.size === 2)
    val top = c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 1).collect()
    assert(top.length === 1 && top.head.getString(2) === "a") // cosine 1.0 with itself
    // add() delta-maintains assignments against the STORED centroids —
    // resolved assignments must equal a fresh assignment of all docs
    c.add(Seq("consectetur"), ids = Some(Seq("d")))
    val resolved = c.ivfIndex().get.assignments
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val fresh = graft.ext.Ivf.assign(c.docs(), c.ivfIndex().get.centroids)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(resolved === fresh && resolved.map(_._1) === Set("a", "b", "d"))
    // delete removes the doc's assignment
    c.delete(Seq("a"))
    assert(c.ivfIndex().get.assignments.select("id").as[String].collect().toSet
      === Set("b", "d"))
    // staleness retrain: force delta mass past the base, compact() retrains
    // (params survive; the rebuilt index covers exactly the current docs)
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
      "spark.graft.compact.auto" -> "false") {
      (1 to 3).foreach(i => c.add(
        Seq(s"novum verbum $i", s"aliud verbum $i"), ids = Some(Seq(s"n$i", s"m$i"))))
      assert(Stores.deltaCount(spark, Stores.ivfDir(root), "test") > 0)
      c.compact()
      assert(Stores.deltaCount(spark, Stores.ivfDir(root), "test") === 0)
      assert(c.ivfIndex().get.assignments.select("id").as[String].collect().toSet
        === Set("b", "d", "n1", "m1", "n2", "m2", "n3", "m3"))
      assert(c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 2).count() === 2)
    }
    // building LSH drops IVF (mutual exclusion), and vice versa
    c.createVectorIndex(numTables = 4, numPlanes = 2, dim = 3)
    assert(c.ivfIndex().isEmpty && c.vectorIndex().nonEmpty)
    c.createVectorIndex(kind = "ivf", numCentroids = 2, iters = 2, nprobe = 2)
    assert(c.ivfIndex().nonEmpty && c.vectorIndex().isEmpty)
    c.deleteAll()
    assert(c.ivfIndex().isEmpty)
  }

  test("persisted PQ index: probe, delta maintenance, staleness retrain, exclusivity") {
    import TestSpark.spark.implicits._
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root, embedder = Some(OpenDictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    assert(c.pqIndex().isEmpty)
    // 3-dim embeddings: m=3 (dsub=1), small books; candK covers the corpus
    // so the exact rerank makes probes exact
    c.createVectorIndex(kind = "pq", m = 3, numCentroids = 4, iters = 3,
      maxSample = 1000, candK = 50)
    val (cb0, _, candK0) = c.pqIndex().get
    assert(cb0.m === 3 && cb0.dsub === 1 && candK0 === 50)
    val top = c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 1).collect()
    assert(top.length === 1 && top.head.getString(2) === "a") // cosine 1.0 with itself
    // add() delta-maintains codes against the STORED codebooks — resolved
    // codes must equal a fresh encode of all docs
    c.add(Seq("consectetur"), ids = Some(Seq("d")))
    val (cb1, codes1, _) = c.pqIndex().get
    val resolved = codes1.collect().map(r => (r.getString(0), r.getSeq[Byte](1))).toSet
    val fresh = graft.ext.Pq.encode(c.docs(), cb1)
      .collect().map(r => (r.getString(0), r.getSeq[Byte](1))).toSet
    assert(resolved === fresh && resolved.map(_._1) === Set("a", "b", "d"))
    // delete removes the doc's codes
    c.delete(Seq("a"))
    assert(c.pqIndex().get._2.select("id").as[String].collect().toSet
      === Set("b", "d"))
    // staleness retrain: force delta mass past the base, compact() retrains
    // codebooks (params survive; the rebuilt codes cover the current docs)
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
      "spark.graft.compact.auto" -> "false") {
      (1 to 3).foreach(i => c.add(
        Seq(s"novum verbum $i", s"aliud verbum $i"), ids = Some(Seq(s"n$i", s"m$i"))))
      assert(Stores.deltaCount(spark, Stores.pqDir(root), "test") > 0)
      c.compact()
      assert(Stores.deltaCount(spark, Stores.pqDir(root), "test") === 0)
      assert(c.pqIndex().get._2.select("id").as[String].collect().toSet
        === Set("b", "d", "n1", "m1", "n2", "m2", "n3", "m3"))
      assert(c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 2).count() === 2)
    }
    // mutual exclusion across all three kinds
    c.createVectorIndex(numTables = 4, numPlanes = 2, dim = 3)
    assert(c.pqIndex().isEmpty && c.vectorIndex().nonEmpty)
    c.createVectorIndex(kind = "pq", m = 3, numCentroids = 4, iters = 2)
    assert(c.pqIndex().nonEmpty && c.vectorIndex().isEmpty && c.ivfIndex().isEmpty)
    c.createVectorIndex(kind = "ivf", numCentroids = 2, iters = 2, nprobe = 2)
    assert(c.ivfIndex().nonEmpty && c.pqIndex().isEmpty)
    c.createVectorIndex(kind = "pq", m = 3, numCentroids = 4, iters = 2)
    assert(c.pqIndex().nonEmpty && c.ivfIndex().isEmpty)
    c.deleteAll()
    assert(c.pqIndex().isEmpty)
  }

  test("persisted IVF-PQ index: probe, delta maintenance, exclusivity") {
    import TestSpark.spark.implicits._
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root, embedder = Some(OpenDictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    assert(c.ivfPqIndex().isEmpty)
    // nprobe covers every list and candK the corpus, so probes are exact
    c.createVectorIndex(kind = "ivfpq", numCentroids = 2, nprobe = 2,
      m = 3, candK = 50, iters = 3, maxSample = 1000)
    val (cents0, cb0, _, nprobe0, candK0) = c.ivfPqIndex().get
    assert(cents0.size === 2 && cb0.m === 3 && nprobe0 === 2 && candK0 === 50)
    // sharing the cent/book tables must NOT read as an IVF or flat-PQ index
    assert(c.ivfIndex().isEmpty && c.pqIndex().isEmpty)
    val top = c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 1).collect()
    assert(top.length === 1 && top.head.getString(2) === "a")
    // delta maintenance: resolved rows == fresh assign+encode of all docs
    c.add(Seq("consectetur"), ids = Some(Seq("d")))
    val (cents1, cb1, rows1, _, _) = c.ivfPqIndex().get
    val resolved = rows1.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Byte](2))).toSet
    // fresh derivation mirrors the STORED encoding flag (r14: measured
    // raw-vs-residual selection, persisted with the books)
    val fresh = {
      import org.apache.spark.sql.functions.{col => fcol}
      graft.ext.Ivf.assign(c.docs(), cents1)
        .join(c.docs().select(fcol("id"), fcol("embedding")), Seq("id"))
        .select(fcol("id"), fcol("cluster"),
          graft.ext.Pq.encodeFor(fcol("embedding"), fcol("cluster"), cents1,
            cb1, c.ivfPqResidual()).as("codes"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Byte](2))).toSet
    }
    assert(resolved === fresh && resolved.map(_._1) === Set("a", "b", "d"))
    // delete removes the doc's row
    c.delete(Seq("a"))
    assert(c.ivfPqIndex().get._3.select("id").as[String].collect().toSet
      === Set("b", "d"))
    assert(c.vectorTopK(Seq("q" -> Seq(1f, 1f, 1f)), 2).count() === 2)
    // mutual exclusion with the other kinds, both directions
    c.createVectorIndex(kind = "pq", m = 3, numCentroids = 4, iters = 2)
    assert(c.ivfPqIndex().isEmpty && c.pqIndex().nonEmpty)
    c.createVectorIndex(kind = "ivfpq", numCentroids = 2, nprobe = 2,
      m = 3, candK = 50, iters = 2)
    assert(c.ivfPqIndex().nonEmpty && c.pqIndex().isEmpty && c.ivfIndex().isEmpty)
    assert(!Stores.partitionExists(spark, Stores.pqDir(root), "test"))
    // writeIvfPq crash window (codes+books written, centroids not yet):
    // every accessor reads None, the auto paths take the EXACT fallback
    // instead of throwing, and compact() sweeps the dead residue
    Stores.dropPartition(spark, Stores.ivfCentDir(root), "test")
    assert(c.ivfPqIndex().isEmpty)
    assert(c.vectorTopKAuto(Seq("q" -> Seq(1f, 1f, 1f)), 2).count() === 2) // exact arm, no throw
    TestSpark.withConfs("spark.graft.compact.auto" -> "false")(c.compact())
    assert(!Stores.partitionExists(spark, Stores.ivfPqDir(root), "test"))
    assert(!Stores.partitionExists(spark, Stores.pqBookDir(root), "test"))
    c.deleteAll()
    assert(c.ivfPqIndex().isEmpty)
  }

  test("an LSH store without embedded docs takes the exact fallback") {
    val q = Seq("q" -> Seq(1f, 1f, 1f))
    // no embedder: createVectorIndex writes an LSH store with no rows
    val root = freshRoot()
    val plain = coll(root, "plain")
    plain.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    plain.createVectorIndex(numTables = 4, numPlanes = 2, dim = 3)
    assert(plain.vectorIndex().isEmpty)
    assert(plain.vectorTopKAuto(q, 2).count() === 0)
    assert(plain.vectorTopKWhere(q, 2, Map("lang" -> "en")).count() === 0)
    assert(Collection.vectorSearchAll(spark, root, q, 2).count() === 0)
    // LSH over two embedded docs, then a merge-path delete of both
    val c = coll(embedder = Some(OpenDictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
    c.createVectorIndex(numTables = 4, numPlanes = 2, dim = 3)
    assert(c.vectorIndex().nonEmpty)
    c.delete(Seq("a", "b"))
    assert(c.vectorIndex().isEmpty)
    assert(c.vectorTopKAuto(q, 2).count() === 0)
  }

  test("index maintenance: every kind's stored rows equal a fresh derivation") {
    import graft.index.{PostingsIndex, Stores}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col => fcol, lit, size}
    import spark.implicits._
    def stored(c: Collection, dir: String => String, schema: org.apache.spark.sql.types.StructType) =
      Stores.readPartition(spark, dir(c.root), c.name, schema)
    // (kind, build, (stored rows, rows derived from docs() under the stored parameters))
    val kinds: Seq[(String, Collection => Unit, Collection => (DataFrame, DataFrame))] = Seq(
      ("lsh", _.createVectorIndex(numTables = 4, numPlanes = 2, dim = 3), { c =>
        val ix = c.vectorIndex().get
        (stored(c, Stores.annDir, Stores.annSchema), graft.ext.LshIndex.build(c.docs(), "id",
          "embedding", ix.numTables, ix.numPlanes, ix.dim, ix.seed).toStoreFrame)
      }),
      ("ivf", _.createVectorIndex(kind = "ivf", numCentroids = 2, iters = 3,
          maxSample = 1000, nprobe = 2), { c =>
        (stored(c, Stores.ivfDir, Stores.ivfSchema),
          graft.ext.Ivf.assign(c.docs(), c.ivfIndex().get.centroids))
      }),
      ("pq", _.createVectorIndex(kind = "pq", m = 3, numCentroids = 4, iters = 3,
          maxSample = 1000), { c =>
        (stored(c, Stores.pqDir, Stores.pqSchema), graft.ext.Pq.encode(c.docs(), c.pqIndex().get._1))
      }),
      ("ivfpq", _.createVectorIndex(kind = "ivfpq", numCentroids = 2, nprobe = 2, m = 3,
          iters = 3, maxSample = 1000), { c =>
        val (cents, cb, _, _, _) = c.ivfPqIndex().get
        (stored(c, Stores.ivfPqDir, Stores.ivfPqSchema),
          graft.ext.Ivf.assign(c.docs(), cents)
            .join(c.docs().select(fcol("id"), fcol("embedding")), Seq("id"))
            .select(fcol("id"), fcol("cluster"), graft.ext.Pq.encodeFor(fcol("embedding"),
              fcol("cluster"), cents, cb, c.ivfPqResidual()).as("codes")))
      }))
    def minhash(c: Collection): (DataFrame, DataFrame) = {
      val (n, bands, rpb) = c.dedupIndex().get
      (stored(c, Stores.minhashDir, Stores.minhashSchema),
        graft.ext.Dedup.bandedSignatureRows(c.docs(), "id", "content", n, bands, rpb)
          .withColumn("n", lit(n)).withColumn("bands", lit(bands))
          .withColumn("rows_per_band", lit(rpb)))
    }
    def sorted(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(fcol): _*).collect().map(_.toString).sorted.toSeq
    def docs(ids: Seq[String], tag: String) = ids.map(i => s"$tag text for $i, $tag words")
    // every vector kind with FTS, plus one collection without it (doclen
    // then comes from tokenizing the docs)
    val lifecycles = kinds.map { case (k, b, p) => (k, true, b, Option(p)) } :+
      (("nofts", false, (_: Collection) => (), None))
    for ((kind, fts, build, pair) <- lifecycles; deltaPath <- Seq(false, true)) {
      // the docs the collection must hold: id -> content
      var live = Map.empty[String, String]
      def check(c: Collection, step: String): Unit = {
        val at = s"$kind deltaPath=$deltaPath after $step"
        for ((store, (got, want)) <- pair.map(p => kind -> p(c)).toSeq :+ ("minhash" -> minhash(c))) {
          val expected = sorted(want, got.columns.toSeq)
          assert(expected.nonEmpty, s"$store: $at")
          assert(sorted(got, got.columns.toSeq) === expected, s"$store: $at")
        }
        assert(sorted(c.docs(), Seq("id", "content")) ===
          live.toSeq.map { case (i, t) => s"[$i,$t]" }.sorted, s"docs: $at")
        val dl = live.toSeq.toDF("id", "content").select(fcol("id"),
            size(graft.functions.TextFunctions.tokens(fcol("content"), false)).cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(sorted(stored(c, Stores.doclenDir, Stores.doclenSchema), Seq("id", "dl")) ===
          dl.toSeq.map { case (i, n) => s"[$i,$n]" }.sorted, s"doclen: $at")
        val st = stored(c, Stores.collStatsDir, Stores.collStatsSchema).collect()
        assert(st.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
          Seq((dl.size.toLong, dl.values.sum.toDouble / dl.size)), s"collstats: $at")
        if (fts) assert(sorted(stored(c, Stores.postingsDir, Stores.postingsSchema),
            Seq("term", "id", "tf", "dl")) === sorted(PostingsIndex.build(c.docs()),
            Seq("term", "id", "tf", "dl")), s"postings: $at")
        else assert(!Stores.partitionExists(spark, Stores.postingsDir(c.root), c.name), at)
      }
      def add(c: Collection, ids: Seq[String], tag: String): Unit = {
        val texts = docs(ids, tag)
        c.add(texts, ids = Some(ids))
        live ++= ids.zip(texts)
      }
      val c = coll(embedder = Some(OpenDictEmbedder), useFts = fts)
      add(c, (0 until 8).map(i => s"d$i"), "base")
      build(c)
      c.createDedupIndex()
      check(c, "build")
      val confs = if (deltaPath) Seq("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") else Nil
      TestSpark.withConfs(confs: _*) {
        add(c, Seq("n0", "n1", "n2"), "added")
        check(c, "add")
        add(c, Seq("d1", "d2", "n0"), "updated")
        check(c, "update")
        c.delete(Seq("d3", "n1"))
        live --= Seq("d3", "n1")
        check(c, "delete")
        add(c, Seq("m0", "d3"), "late")
        check(c, "second add")
        assert(deltaPath == Stores.deltaCount(spark, Stores.docsDir(c.root), c.name) > 0)
        c.compact()
        check(c, "compact")
      }
    }
  }

  test("fts and vector coexist") {
    val c = coll(embedder = Some(DictEmbedder))
    c.add(Seq("Lorem ipsum dolor", "sit amet"))
    assert(c.query("Lorem").total === 1)
    assert(c.query("consectetur", vectorSearch = true).total === 2)
  }

  // --- validation (core.py:200-205) ---
  test("mode validation errors") {
    val c = coll(embedder = Some(DictEmbedder))
    c.add(Seq("Lorem ipsum dolor"))
    intercept[IllegalArgumentException](
      c.query("consectetur", vectorSearch = true, orderBy = Seq("k1")))
    val noEmb = coll()
    noEmb.add(Seq("x"))
    intercept[IllegalArgumentException](noEmb.query("x", vectorSearch = true))
    val noFts = coll(useFts = false)
    noFts.add(Seq("Lorem"))
    intercept[IllegalArgumentException](noFts.query("Lorem"))
    assert(noFts.get().total === 1) // scan still fine
  }

  test("persistence across Collection instances") {
    val root = freshRoot()
    Collection(spark, root, "p").add(Seq("Lorem ipsum"), ids = Some(Seq("d1")))
    val again = Collection(spark, root, "p")
    assert(again.count() === 1)
    assert(again.query("lorem").results.head.id === "d1")
  }

  test("doclen store: avg_dl stays exact through delta upserts, deletes, compaction") {
    import graft.index.Stores
    // force the delta path
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      val root = freshRoot()
      val c = Collection(spark, root, "dl")
      def stats(): (Long, Double) = {
        val r = Stores.readPartition(spark, Stores.collStatsDir(root), "dl",
          Stores.collStatsSchema).head()
        (r.getLong(0), r.getDouble(1))
      }
      c.add(Seq("one two three", "four five", "six"), ids = Some(Seq("a", "b", "c")))
      assert(stats() === ((3L, 2.0)))                 // (3 + 2 + 1) / 3
      c.add(Seq("x y z w v"), ids = Some(Seq("b")))   // replace dl 2 -> 5 via delta
      assert(stats() === ((3L, 3.0)))                 // (3 + 5 + 1) / 3
      c.add(Seq(""), ids = Some(Seq("c")))            // token-less replacement: dl 0
      assert(stats() === ((3L, 8.0 / 3)))
      c.delete(Seq("a"))
      assert(stats() === ((2L, 2.5)))                 // (5 + 0) / 2
      c.compact()
      assert(stats() === ((2L, 2.5)))                 // compaction preserves stats inputs
      assert(Stores.deltaCount(spark, Stores.doclenDir(root), "dl") === 0)
    }
  }

  test("appendDelta rejects ordinal collisions and id-less delta frames") {
    import graft.index.Stores
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = freshRoot() + "/store"
    val base = Seq(("a", 1L)).toDF("id", "v")
    Stores.overwritePartition(spark, dir, "t", base)
    // id-less schema: the read side resolves deltas by id and would silently
    // ignore the write — must fail at write time
    intercept[IllegalArgumentException](
      Stores.appendDelta(spark, dir, "t", base.select(col("v"))))
    Stores.appendDelta(spark, dir, "t", Seq(("b", 2L)).toDF("id", "v"))
    // simulate a concurrent writer racing the same ordinal (a stray FILE at
    // the next ordinal: not listed as a delta — dirs only — so the ordinal
    // isn't bumped, but the commit target exists): Hadoop rename would
    // otherwise land the batch somewhere reads never look
    val clash = new java.io.File(s"$dir/collection=t/.delta-00000002")
    assert(clash.createNewFile())
    intercept[java.io.IOException](
      Stores.appendDelta(spark, dir, "t", Seq(("c", 3L)).toDF("id", "v")))
  }

  test("delta segments: upserts append O(batch) deltas; compact folds them; content identical throughout") {
    import graft.index.Stores
    // toy-sized partitions take the direct merge path and auto-compaction
    // folds small deltas — disable both to pin the raw segment mechanics
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      val root = freshRoot()
      val c = Collection(spark, root, "seg")
      c.add(Seq("alpha beta", "gamma delta", "epsilon"), ids = Some(Seq("a", "b", "c")))
      assert(Stores.deltaCount(spark, Stores.docsDir(root), "seg") === 0) // first write = base
      // upsert overriding one id + adding one; then a token-less override;
      // then a delete — each an appended delta, never a base rewrite
      c.add(Seq("beta replaced", "zeta new"), ids = Some(Seq("b", "d")))
      assert(Stores.deltaCount(spark, Stores.docsDir(root), "seg") === 1)
      c.add(Seq(""), ids = Some(Seq("a"))) // now token-less: postings rows must die via gone
      c.delete(Seq("c"))
      assert(Stores.deltaCount(spark, Stores.docsDir(root), "seg") === 3)
      def state(): (Long, Set[(String, String)], Set[String], Long) = {
        val docs = c.docs().select("id", "content").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        val hits = c.query("beta").results.map(_.id).toSet
        val stats = Stores.readPartition(spark, Stores.collStatsDir(root), "seg",
          Stores.collStatsSchema).head()
        (c.count(), docs, hits, stats.getLong(0))
      }
      val before = state()
      assert(before._1 === 3)
      assert(before._2 === Set("a" -> "", "b" -> "beta replaced", "d" -> "zeta new"))
      assert(before._3 === Set("b")) // old "alpha beta" postings for a are gone
      assert(before._4 === 3)
      c.compact()
      assert(Stores.deltaCount(spark, Stores.docsDir(root), "seg") === 0)
      assert(Stores.deltaCount(spark, Stores.postingsDir(root), "seg") === 0)
      assert(state() === before) // resolution and the compacted base agree
    }
  }

  test("delete probes collections in one scan: special-char names and delta-only docs") {
    val root = freshRoot()
    // the name charset's worst case: every char URLEncoder percent-escapes
    // must round-trip through Spark's partition-value unescaping in the
    // batched whole-store probe scan
    val weird = Collection(spark, root, "ok-name_+~#=/123")
    weird.add(Seq("target alpha", "keeper beta"), ids = Some(Seq("t1", "k1")))
    val other = Collection(spark, root, "plain")
    other.add(Seq("bystander gamma"), ids = Some(Seq("b1")))
    // a doc that exists ONLY in a delta segment (base scan can't see it):
    // force the delta path, then delete it cross-collection from `other`
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0") {
      weird.add(Seq("delta-only doc"), ids = Some(Seq("d1")))
      other.delete(Seq("t1", "d1", "missing"))
    }
    assert(weird.docs().select("id").collect().map(_.getString(0)).toSet === Set("k1"))
    assert(other.count() === 1)
  }

  test("postings build plans ZERO shuffles (per-row term counts, not a groupBy)") {
    import TestSpark.spark.implicits._
    import graft.index.PostingsIndex
    val docs = Seq(("d1", "alpha beta alpha"), ("d2", "beta gamma")).toDF("id", "content")
    val built = PostingsIndex.build(docs)
    // the scale property of the whole ingest path: per-(id, term) tf comes
    // from one in-row pass, so nothing crosses the wire
    val plan = built.queryExecution.executedPlan
    assert(!plan.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      s"postings build must not shuffle:\n$plan")
    // and the rows are the classic shape: tf summed per term, dl = doc tokens
    val rows = built.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set(("alpha", "d1", 2L, 3L), ("beta", "d1", 1L, 3L),
      ("beta", "d2", 1L, 2L), ("gamma", "d2", 1L, 2L)))
  }

  test("manifest: mismatched open-time flags throw; deleteAll resets them") {
    import graft.index.Stores
    val root = freshRoot()
    val c = Collection(spark, root, "m", foldAccents = true)
    c.add(Seq("café talk"), ids = Some(Seq("d1"))) // first ingest persists the manifest
    assert(Stores.readManifest(spark, root, "m") ===
      Some(Stores.Manifest(useFts = true, foldAccents = true)))
    // consistent re-open works; mismatched flags throw instead of silently
    // mis-querying (unfolded open of a folded index misses accented matches)
    Collection(spark, root, "m", foldAccents = true)
    val e = intercept[IllegalArgumentException](Collection(spark, root, "m"))
    assert(e.getMessage.contains("foldAccents"))
    intercept[IllegalArgumentException](
      Collection(spark, root, "m", useFts = false, foldAccents = true))
    // a never-ingested name under the same root validates nothing
    Collection(spark, root, "other", useFts = false)
    // deleteAll clears the manifest — recreation may change flags
    Collection(spark, root, "m", foldAccents = true).deleteAll()
    assert(Stores.readManifest(spark, root, "m").isEmpty)
    Collection(spark, root, "m").add(Seq("plain"), ids = Some(Seq("d2")))
    assert(Stores.readManifest(spark, root, "m") ===
      Some(Stores.Manifest(useFts = true, foldAccents = false)))
  }

  test("sweep: planted crash residue is removed; live partitions untouched") {
    import graft.index.Stores
    import org.apache.hadoop.fs.Path
    val root = freshRoot()
    val c = coll(root, "sw")
    c.add(Seq("alpha beta"), ids = Some(Seq("d1")))
    val docsDir = Stores.docsDir(root)
    val fs = new Path(docsDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant: a crash-orphaned tmp past its (short) grace, a FRESH tmp (kept
    // — could be a sibling collection's in-flight write), a stale old (past
    // grace) and a fresh old (kept — crash-recovery data inside the window)
    def plant(name: String, ageMs: Long): Unit = {
      fs.mkdirs(new Path(s"$docsDir/$name"))
      if (ageMs > 0) fs.setTimes(new Path(s"$docsDir/$name"),
        System.currentTimeMillis() - ageMs, -1)
    }
    plant(".tmp-orphan", 2L * 3600 * 1000)
    plant(".tmp-inflight", 0)
    plant(".old-stale", 8L * 24 * 3600 * 1000)
    plant(".old-fresh", 0)
    assert(Stores.sweep(spark, docsDir) === 2)
    assert(!fs.exists(new Path(s"$docsDir/.tmp-orphan")))
    assert(fs.exists(new Path(s"$docsDir/.tmp-inflight")))
    assert(!fs.exists(new Path(s"$docsDir/.old-stale")))
    assert(fs.exists(new Path(s"$docsDir/.old-fresh")))
    // compact() runs the sweep too, and the store still reads back intact
    plant(".tmp-orphan2", 2L * 3600 * 1000)
    c.compact()
    assert(!fs.exists(new Path(s"$docsDir/.tmp-orphan2")))
    assert(c.query("alpha").results.map(_.id) === Seq("d1"))
  }

  test("missing stats partition self-heals from doclen instead of NaN ranks") {
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root, "heal")
    c.add(Seq("alpha beta gamma", "alpha delta"), ids = Some(Seq("d1", "d2")))
    val ranksBefore = c.query("alpha").results.map(h => h.id -> h.rank).toMap
    // simulate the crash window: stats partition gone, postings/doclen intact
    Stores.dropPartition(spark, Stores.collStatsDir(root), "heal")
    val hits = c.query("alpha").results
    assert(hits.map(_.id).toSet === Set("d1", "d2"))
    // ranks are real BM25 numbers again (not NaN from n_docs=0), and the
    // healed stats row matches the pre-crash one
    assert(hits.forall(h => h.rank.exists(r => !r.isNaN)))
    assert(hits.map(h => h.id -> h.rank).toMap === ranksBefore)
    val healed = Stores.readPartition(spark, Stores.collStatsDir(root), "heal",
      Stores.collStatsSchema).head()
    assert(healed.getLong(0) === 2L)
  }

  test("ingest batch replay is idempotent: the at-least-once foreachBatch contract") {
    // streamIngest's sink can redeliver a batch after crash/restart; the
    // id-keyed upsert must converge, not duplicate
    val c = coll(freshRoot(), "replay")
    val batch = spark.createDataFrame(Seq(("d1", "alpha beta"), ("d2", "gamma delta")))
      .toDF("id", "content")
    c.addDf(batch)
    val snap = c.docs().collect().map(_.toString).sorted.toSeq
    c.addDf(batch) // replay
    assert(c.count() === 2L)
    assert(c.docs().collect().map(_.toString).sorted.toSeq === snap)
    assert(c.query("alpha").results.map(_.id) === Seq("d1")) // postings intact too
  }

  test("maintain(): delta-heavy store with crash residue restored to clean state") {
    import graft.index.Stores
    import TestSpark.spark.implicits._
    val root = freshRoot()
    val c = Collection(spark, root, "mt", Some(OpenDictEmbedder))
    // force delta appends
    TestSpark.withConfs("spark.graft.compact.auto" -> "false",
        "spark.graft.store.directUpsertMaxBytes" -> "0") {
      c.add(Seq("Lorem ipsum dolor", "sit amet"), ids = Some(Seq("a", "b")))
      c.createVectorIndex(numTables = 8, numPlanes = 2, dim = 3)
      (1 to 5).foreach(i => c.add(Seq(s"novel document $i"), ids = Some(Seq(s"d$i"))))
      assert(Stores.deltaCount(spark, Stores.docsDir(root), "mt") > 0,
        "fixture must be delta-heavy")
      // crash residue: an orphaned in-flight write and a recovery copy
      val tmpDir = java.nio.file.Paths.get(s"${Stores.docsDir(root)}/.tmp-crash")
      val oldDir = java.nio.file.Paths.get(s"${Stores.annDir(root)}/.old-crash")
      java.nio.file.Files.createDirectories(tmpDir)
      java.nio.file.Files.createDirectories(oldDir)
      java.nio.file.Files.writeString(tmpDir.resolve("junk.parquet"), "x")
      // crash window between doclen write and its stats row: stats missing
      Stores.dropPartition(spark, Stores.collStatsDir(root), "mt")
      Thread.sleep(5) // sweep's zero-grace compare is strict
      val rep = c.maintain().head()
      assert(rep.getLong(0) === 7L, "n_docs re-derived from the resolved store")
      assert(rep.getDouble(1) > 0.0)
      assert(rep.getLong(2) === 0L, "all docs delta segments folded")
      assert(rep.getLong(3) >= 2L, "both residue dirs swept")
      assert(!java.nio.file.Files.exists(tmpDir) && !java.nio.file.Files.exists(oldDir))
      // the folded store still serves every surface
      assert(c.count() === 7L)
      assert(c.query("novel").results.map(_.id).toSet === (1 to 5).map(i => s"d$i").toSet)
      assert(c.vectorIndex().get.buckets.select("id").as[String].collect().toSet
        === Set("a", "b") ++ (1 to 5).map(i => s"d$i"))
      // idempotent: a second maintain reports the same clean state
      val rep2 = c.maintain().head()
      assert(rep2.getLong(0) === 7L && rep2.getLong(2) === 0L && rep2.getLong(3) === 0L)
    }
  }

  test("facets: metadata composition with missing keys counted as NULL") {
    val c = coll(freshRoot(), "facets")
    c.add(Seq("a", "b", "c"), ids = Some(Seq("d1", "d2", "d3")),
      metadatas = Some(Seq(Map("lang" -> "en"), Map("lang" -> "en"), Map("year" -> "2024"))))
    val out = c.facets(Seq("lang"), k = 5).collect()
      .map(r => Option(r.getString(1)) -> (r.getLong(2), r.getInt(4))).toMap
    assert(out(Some("en")) === ((2L, 1)))
    assert(out(None) === ((1L, 2))) // d3 has no lang: NULL facet value, ranked after
  }

  test("phraseSearch: adjacency, case/punct folding, repeats, where, limit") {
    val c = coll(freshRoot(), "phrase")
    c.add(
      contents = Seq(
        "alpha beta gamma",     // p1: match
        "beta alpha",           // p2: order wrong
        "alpha x beta",         // p3: not adjacent
        "say ALPHA, BETA!",     // p4: match (case + punctuation separators)
        "x a b a y",            // p5: matches "a b a"
        "a b b a"),             // p6: does not
      ids = Some(Seq("p1", "p2", "p3", "p4", "p5", "p6")),
      metadatas = Some(Seq(Map("k" -> "1"), Map("k" -> "1"), Map("k" -> "1"),
        Map("k" -> "2"), Map("k" -> "1"), Map("k" -> "1"))))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      import spark.implicits._
      df.select("id").as[String].collect().toSeq
    }
    assert(ids(c.phraseSearch("alpha beta")).toSet === Set("p1", "p4"))
    // phrase with a REPEATED token: the AND gate over distinct terms is a
    // superset; adjacency must still require the full run
    assert(ids(c.phraseSearch("a b a")) === Seq("p5"))
    // single-token phrase degenerates to a term query
    assert(ids(c.phraseSearch("gamma")) === Seq("p1"))
    // where-filter composes; limit paginates the ranked frame
    assert(ids(c.phraseSearch("alpha beta", where = Map("k" -> "2"))) === Seq("p4"))
    assert(c.phraseSearch("alpha beta", limit = 1).count() === 1L)
    // rank column present and positive for matches
    val r = c.phraseSearch("alpha beta").select("rank").collect().map(_.getDouble(0))
    assert(r.nonEmpty && r.forall(_ > 0.0))
    val e = intercept[IllegalArgumentException](c.phraseSearch("  ,, "))
    assert(e.getMessage.contains("phrase"))
    // plan: the adjacency verify stays ABOVE the candidate join — pushed
    // onto the docs scan it would re-tokenize the whole corpus. The docs
    // FileScan's data filters must not contain contains_slice.
    val plan = c.phraseSearch("alpha beta").queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toList
    assert(scanLines.nonEmpty && !scanLines.exists(_.contains("contains_slice")), plan)
    assert(plan.contains("contains_slice"), plan) // …but the verify IS in the plan
  }

  test("docsAsOf/history: upserts and deletes travel; compaction folds history") {
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      import spark.implicits._
      val c = coll(freshRoot(), "tt")
      c.addDf(Seq(("a", "alpha v1"), ("b", "beta v1"), ("d", "doomed")).toDF("id", "content"))
      c.addDf(Seq(("a", "alpha v2"), ("c", "new gamma")).toDF("id", "content"))
      c.delete(Seq("d"))
      assert(c.history() === Seq(0L, 1L, 2L))
      def state(df: org.apache.spark.sql.DataFrame): Map[String, String] =
        df.select("id", "content").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state(c.docsAsOf(0)) ===
        Map("a" -> "alpha v1", "b" -> "beta v1", "d" -> "doomed"))
      assert(state(c.docsAsOf(1)) ===
        Map("a" -> "alpha v2", "b" -> "beta v1", "c" -> "new gamma", "d" -> "doomed"))
      // delete era: d gone; ordinals past the newest read latest
      assert(state(c.docsAsOf(2)) === state(c.docs()))
      assert(!state(c.docsAsOf(99)).contains("d"))
      // compaction folds: only the base snapshot survives, holding latest state
      c.compact()
      assert(c.history() === Seq(0L))
      assert(state(c.docsAsOf(0)) ===
        Map("a" -> "alpha v2", "b" -> "beta v1", "c" -> "new gamma"))
    }
  }

  test("extendedQueryFrame: phrase/near leaves compose with and/or; plain queries match queryFrame") {
    import spark.implicits._
    val c = coll(freshRoot(), "extq")
    c.add(
      contents = Seq(
        "alpha beta gamma",     // e1: phrase "alpha beta"; near(alpha gamma, 2)
        "beta alpha",           // e2: no phrase; near(alpha beta, 1)
        "alpha x x x beta",     // e3: no phrase; near at 4
        "delta only"),          // e4: delta arm
      ids = Some(Seq("e1", "e2", "e3", "e4")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSet
    assert(ids(c.extendedQueryFrame("\"alpha beta\" or delta")) === Set("e1", "e4"))
    assert(ids(c.extendedQueryFrame("near(alpha beta, 1) and beta")) === Set("e1", "e2"))
    assert(ids(c.extendedQueryFrame("near(alpha gamma, 2) and beta")) === Set("e1"))
    assert(ids(c.extendedQueryFrame("near(alpha beta, 4) or \"delta only\""))
      === Set("e1", "e2", "e3", "e4"))
    // matched docs carry BM25 rank over the expanded terms; pure-phrase rank > 0
    val ranked = c.extendedQueryFrame("\"alpha beta\"")
      .select("id", "rank").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranked.keySet === Set("e1") && ranked("e1") > 0.0)
    // no extended leaves -> identical to the parity pipeline
    val a = c.extendedQueryFrame("alpha or delta").select("id", "rank").collect().toSeq
    val b = c.queryFrame("alpha or delta").select("id", "rank").collect().toSeq
    assert(a === b)
    // empty extended query degrades to the scan
    assert(c.extendedQueryFrame("").count() === 4)
    // plan: the extended verifies stay ABOVE their candidate joins — a
    // pushed-down verify would re-tokenize the whole corpus (the lit()
    // marker regression this pins: constant markers fold away)
    val plan = c.extendedQueryFrame("\"alpha beta\" or near(gamma delta, 3)")
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toList
    assert(!scans.exists(s => s.contains("contains_slice") || s.contains("token_min_span")), plan)
    assert(plan.contains("contains_slice") && plan.contains("token_min_span"), plan)
  }

  test("indexStats: dictionary sizes, df ranking, stats after upsert") {
    val c = coll(freshRoot(), "ix")
    c.add(Seq("a b c", "a b", "a"), ids = Some(Seq("d1", "d2", "d3")))
    val rows = c.indexStats(topK = 2).collect()
    assert(rows.length === 2)
    val byRn = rows.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(byRn(1L)._1 === "a" && byRn(1L)._2 === 3L) // df ranking
    assert(byRn(2L)._1 === "b" && byRn(2L)._2 === 2L)
    val (_, _, nDocs, nTerms, nPostings, avgDl) = byRn(1L)
    assert(nDocs === 3L && nTerms === 3L && nPostings === 6L)
    assert(math.abs(avgDl - 2.0) < 1e-9)
    // stats track upserts (d3 gains tokens)
    c.addDf({ import spark.implicits._
      Seq(("d3", "z z q")).toDF("id", "content") })
    val after = c.indexStats(topK = 1).head()
    assert(after.getLong(3) === 3L && after.getLong(4) === 5L) // terms: a b c z q
    assert(math.abs(after.getDouble(6) - (3 + 2 + 3) / 3.0) < 1e-6) // column rounds to 6dp
  }

  test("nearSearch: window span, order-insensitive, multi-term, verify above join") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val c = coll(freshRoot(), "near")
    c.add(
      contents = Seq(
        "alpha x x beta",       // n1: span 3
        "beta x alpha",         // n2: span 2, reversed order
        "alpha x x x x beta",   // n3: span 5
        "alpha only here"),     // n4: missing beta
      ids = Some(Seq("n1", "n2", "n3", "n4")))
    import spark.implicits._
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSet
    assert(ids(c.nearSearch("alpha beta", maxSpan = 3)) === Set("n1", "n2"))
    assert(ids(c.nearSearch("alpha beta", maxSpan = 2)) === Set("n2"))
    assert(ids(c.nearSearch("alpha beta", maxSpan = 5)) === Set("n1", "n2", "n3"))
    // multi-term min window via the expression directly: a@1,4 b@2 c@5 -> 3
    val span = Seq(("q a b q a c")).toDF("content")
      .select(graft.functions.TextFunctions.tokenMinSpan(
        graft.functions.TextFunctions.tokens(col("content")),
        array(lit("a"), lit("b"), lit("c"))).as("s"))
      .head().getInt(0)
    assert(span === 3)
    // missing term -> NULL, not 0
    val miss = Seq(("a b")).toDF("content")
      .select(graft.functions.TextFunctions.tokenMinSpan(
        graft.functions.TextFunctions.tokens(col("content")),
        array(lit("a"), lit("z"))))
      .head()
    assert(miss.isNullAt(0))
    val e = intercept[IllegalArgumentException](c.nearSearch("solo", maxSpan = 3))
    assert(e.getMessage.contains("2 distinct terms"))
    // verify stays above the candidate join (the phraseSearch guarantee)
    val plan = c.nearSearch("alpha beta", maxSpan = 3).queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toList
    assert(!scans.exists(_.contains("token_min_span")), plan)
    assert(plan.contains("token_min_span"), plan)
  }

  test("searchAll: federated over a root, skips non-FTS, tags collection") {
    import spark.implicits._
    val root = freshRoot()
    coll(root, "c1").add(Seq("alpha match here", "nothing"), ids = Some(Seq("a", "b")))
    coll(root, "c2").add(Seq("another alpha doc"), ids = Some(Seq("x")))
    coll(root, "c3", useFts = false).add(Seq("alpha invisible"), ids = Some(Seq("z")))
    val hits = Collection.searchAll(spark, root, "alpha")
      .select("collection", "id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(hits === Set(("c1", "a"), ("c2", "x"))) // c3 skipped (no FTS)
    // per-collection limit applies within each arm
    assert(Collection.searchAll(spark, root, "alpha", limit = 1).count() === 2)
    val e = intercept[IllegalArgumentException](
      Collection.searchAll(spark, freshRoot(), "alpha"))
    assert(e.getMessage.contains("no FTS-capable"))
  }

  test("graft_search and a filtered or unlimited searchAll build their frames without a Spark job") {
    graft.plans.GraftFunctions.registerTables(spark)
    val root = freshRoot()
    coll(root, "c1").add(Seq("alpha match here", "nothing"), ids = Some(Seq("a", "b")),
      metadatas = Some(Seq(Map("k" -> "1"), Map("k" -> "2"))))
    coll(root, "c2").add(Seq("another alpha doc"), ids = Some(Seq("x")),
      metadatas = Some(Seq(Map("k" -> "1"))))
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val built = TestSpark.actionsOf {
      frames = Seq(
        spark.sql(s"SELECT id, rank FROM graft_search('$root', 'c1', 'alpha', 5)"),
        spark.sql(s"SELECT collection, id FROM graft_search_all('$root', 'alpha')"),
        Collection.searchAll(spark, root, "alpha"),
        Collection.searchAll(spark, root, "alpha", limit = 5, where = Map("k" -> "1")))
    }
    assert(built.isEmpty, built.mkString("\n"))
    // the frames are the distributed arm's plans and answer like the API
    assert(frames.map(_.count()) === Seq(1L, 2L, 2L, 2L))
    assert(frames.head.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      coll(root, "c1").query("alpha", limit = 5).results.map(h => (h.id, h.rank.get)))
  }

  /** Six docs: 2 is an exact copy of 1, 3 a near copy of 1 (one token
    * appended: 3-shingle Jaccard 10/11), 6 an exact copy of 5.
    */
  private val dupFixture = {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    Seq("1" -> base, "2" -> base, "3" -> s"$base tail",
      "4" -> "completely different text about spark plans here",
      "5" -> "unique little document", "6" -> "unique little document")
  }

  test("dedup: in-place removal via delete, every index consistent, idempotence") {
    import spark.implicits._
    import graft.index.Stores
    def build(dedupIndex: Option[Int]): (String, Collection) = {
      val root = freshRoot()
      val c = coll(root, "cdup", embedder = Some(OpenDictEmbedder))
      c.add(dupFixture.map(_._2), ids = Some(dupFixture.map(_._1)))
      c.createImpactIndex()
      c.createVectorIndex(numTables = 8, numPlanes = 2, dim = 3)
      dedupIndex.foreach(n => c.createDedupIndex(n = n))
      (root, c)
    }
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").as[String].collect().toSet
    val removedIds = Set("2", "3", "6")
    val survivors = Set("1", "4", "5")
    for (dedupIndex <- Seq(None, Some(3), Some(5))) {
      val (root, c) = build(dedupIndex)
      val embedded = c.docs().select("id", "embedding").as[(String, Seq[Float])].collect().toMap
      assert(c.dedup() === 3L, s"dedupIndex $dedupIndex")
      assert(ids(c.docs()) === survivors, s"dedupIndex $dedupIndex")
      // every index holds exactly the surviving ids
      def store(dir: String => String, schema: org.apache.spark.sql.types.StructType) =
        ids(Stores.readPartition(spark, dir(root), "cdup", schema))
      assert(store(Stores.postingsDir, Stores.postingsSchema) === survivors)
      assert(store(Stores.doclenDir, Stores.doclenSchema) === survivors)
      assert(ids(c.vectorIndex().get.buckets) === survivors)
      if (dedupIndex.isDefined) {
        assert(store(Stores.minhashDir, Stores.minhashSchema) === survivors)
        assert(c.dedupIndex().map(_._1) === dedupIndex)
        val near = ids(c.nearDuplicates(dupFixture.map { case (id, t) => id -> t }, 0.8))
        assert(near.nonEmpty && near.subsetOf(survivors), near)
      }
      // no read path returns a removed id
      assert(c.query("w1 w2").results.map(_.id) === Seq("1"))
      val top = ids(c.searchTopK("w1", 10)) ++ ids(c.searchTopK("unique", 10))
      assert(top === Set("1", "5"))
      val vec = ids(c.vectorTopK(removedIds.toSeq.map(id => id -> embedded(id)), 10))
      assert(vec.nonEmpty && vec.subsetOf(survivors), vec)
      assert(c.indexStats(topK = 1).head().getLong(3) === 3L)
      // idempotent: a second pass removes nothing
      assert(c.dedup() === 0L)
      assert(ids(c.docs()) === survivors)
    }
  }

  test("dedup: a non-default dedup index is not read; the default one is") {
    import spark.implicits._
    import graft.index.Stores
    // rewrites the stored bands as a hash of the whole content: only exact
    // copies still share buckets, so a dedup that reads them finds no near
    // copy
    def scatterBands(root: String, c: Collection): Unit = {
      val dir = Stores.minhashDir(root)
      val scattered = Stores.readPartition(spark, dir, "cdup", Stores.minhashSchema)
        .join(c.docs().select("id", "content"), "id")
        .withColumn("bh", org.apache.spark.sql.functions.xxhash64($"content", $"band"))
        .drop("content")
      Stores.overwritePartition(spark, dir, "cdup", scattered, sortBy = Seq("band", "bh"))
    }
    def survivors(n: Int): Set[String] = {
      val root = freshRoot()
      val c = coll(root, "cdup")
      c.add(dupFixture.map(_._2), ids = Some(dupFixture.map(_._1)))
      c.createDedupIndex(n = n)
      scatterBands(root, c)
      c.dedup()
      c.docs().select("id").as[String].collect().toSet
    }
    assert(survivors(5) === Set("1", "4", "5")) // bands of 5-shingles ignored
    assert(survivors(3) === Set("1", "3", "4", "5")) // stored bands read
  }

  test("dedup stays inside its collection: a sibling sharing ids is byte-for-byte untouched") {
    import spark.implicits._
    def snapshot(root: String, coll: String): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString)
        .filter(p => p.contains(s"collection=$coll/") || p.endsWith(s"manifest/$coll.json"))
        .map(p => p -> java.nio.file.Files.readAllBytes(base.resolve(p)).toSeq).toMap
      finally s.close()
    }
    for (deltaPath <- Seq(false, true)) {
      val confs = if (deltaPath) Seq("spark.graft.store.directUpsertMaxBytes" -> "0") else Nil
      TestSpark.withConfs(confs: _*) {
        val root = freshRoot()
        val main = coll(root, "main")
        val other = coll(root, "other")
        for (c <- Seq(main, other)) {
          c.addDf(dupFixture.toDF("id", "content"))
          c.createImpactIndex()
          c.createDedupIndex()
        }
        val before = snapshot(root, "other")
        assert(before.keys.exists(_.startsWith("docs/")) &&
          before.keys.exists(_.startsWith("minhash/")), before.keys)
        assert(main.dedup() === 3L)
        assert(main.docs().select("id").as[String].collect().toSet === Set("1", "4", "5"))
        val after = snapshot(root, "other")
        assert(after.keySet === before.keySet, s"deltaPath=$deltaPath")
        before.foreach { case (p, bytes) => assert(after(p) == bytes, s"$p changed, deltaPath=$deltaPath") }
        assert(other.count() === 6L)
      }
    }
  }

  test("dedup: the distributed cluster route removes the same docs") {
    import spark.implicits._
    def run(maxDriverBytes: Long): (Long, Set[String]) = {
      val c = coll(freshRoot(), "cdup")
      c.add(dupFixture.map(_._2), ids = Some(dupFixture.map(_._1)))
      c.createDedupIndex()
      (c.dedupBounded(0.8, maxDriverBytes), c.docs().select("id").as[String].collect().toSet)
    }
    assert(run(0L) === (3L, Set("1", "4", "5")))
    assert(run(graft.ext.Dedup.DriverClusterMaxBytes) === (3L, Set("1", "4", "5")))
  }

  test("dedup: a threshold outside (0, 1] fails fast") {
    val c = coll()
    c.add(dupFixture.map(_._2), ids = Some(dupFixture.map(_._1)))
    for (t <- Seq(1.5, Double.NaN, -1.0, 0.0))
      intercept[IllegalArgumentException](c.dedup(t))
    assert(c.count() === 6L)
  }

  test("diffSnapshots + Collection.list: era classification and store catalog") {
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      import spark.implicits._
      val root = freshRoot()
      val c = coll(root, "d1")
      c.addDf(Seq(("a", "one"), ("b", "two"), ("d", "gone soon")).toDF("id", "content"))
      c.addDf(Seq(("a", "one v2"), ("c", "brand new")).toDF("id", "content"))
      c.delete(Seq("d"))
      val d = c.diffSnapshots(0, Long.MaxValue).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(d === Map("a" -> "changed", "b" -> "unchanged",
        "c" -> "added", "d" -> "removed"))
      // era-to-era diff: segment 1 -> 2 sees only the delete
      val d12 = c.diffSnapshots(1, 2).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(d12("d") === "removed" && d12("a") === "unchanged")
      coll(root, "d2").add(Seq("x"))
      assert(Collection.list(spark, root) === Seq("d1", "d2"))
      assert(Collection.list(spark, freshRoot()) === Seq.empty)
    }
  }

  test("an emptied dedup index is dropped by the next write") {
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root)
    c.add(Seq("alpha beta gamma delta", "zeta eta theta iota"), ids = Some(Seq("a", "b")))
    c.createDedupIndex()
    c.delete(Seq("a", "b"))
    c.add(Seq("kappa lambda mu nu"), ids = Some(Seq("c")))
    assert(!Stores.partitionExists(spark, Stores.minhashDir(root), "test"))
    assert(c.dedupIndex().isEmpty)
  }

  test("phraseSearch: foldAccents collection matches folded phrase both directions") {
    val root = freshRoot()
    val c = Collection(spark, root, "folded", foldAccents = true)
    c.add(Seq("un café noir", "cafe au lait"), ids = Some(Seq("f1", "f2")))
    import spark.implicits._
    assert(c.phraseSearch("café noir").select("id").as[String].collect().toSeq === Seq("f1"))
    // folded query form matches the accented content too
    assert(c.phraseSearch("cafe noir").select("id").as[String].collect().toSeq === Seq("f1"))
  }

  test("persisted dedup index: probe, delta maintenance, delete, deleteAll") {
    import TestSpark.spark.implicits._
    import graft.index.Stores
    val root = freshRoot()
    val c = coll(root)
    // 20 distinct tokens; the variant changes only the LAST word, touching
    // exactly one trigram shingle: jaccard = 17/19 ≈ 0.895
    val words = (1 to 20).map(i => s"tok$i")
    val docA = words.mkString(" ")
    val docB = (words.init :+ "other").mkString(" ")
    val distinctDoc = (1 to 20).map(i => s"zed$i").mkString(" ")
    intercept[IllegalStateException] { c.nearDuplicates(Seq("q" -> docA)) }
    c.add(Seq(docA, distinctDoc), ids = Some(Seq("a", "z")))
    c.createDedupIndex()
    assert(c.dedupIndex() === Some((3, 32, 4)))
    // probe = exact copy → jaccard 1.0 on a; near-variant → ~0.895 on a
    val hits = c.nearDuplicates(Seq("q1" -> docA, "q2" -> docB), threshold = 0.8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(hits.map(t => (t._1, t._2)).toSet === Set(("q1", "a"), ("q2", "a")))
    assert(hits.find(_._1 == "q1").get._3 === 1.0)
    assert(math.abs(hits.find(_._2 == "a").filter(_._1 == "q2").map(_._3).getOrElse(
      hits.find(_._1 == "q2").get._3) - 17.0 / 19.0) < 1e-9)
    // DELTA maintenance: force the delta path, add a near-dup of docA
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
      "spark.graft.compact.auto" -> "false") {
      c.add(Seq(docB), ids = Some(Seq("b")))
      assert(Stores.deltaCount(spark, Stores.minhashDir(root), "test") > 0)
      val hits2 = c.nearDuplicates(Seq("q" -> docA), threshold = 0.8)
        .select("id").as[String].collect().toSet
      assert(hits2 === Set("a", "b")) // found via the delta, no rebuild
      // compact folds the delta; probe result unchanged
      c.compact()
      assert(Stores.deltaCount(spark, Stores.minhashDir(root), "test") === 0)
      assert(c.nearDuplicates(Seq("q" -> docA), threshold = 0.8).count() === 2)
      // replacing a doc's content re-bands it (gone sidecar claims the id)
      c.update(Seq("b"), Seq(distinctDoc))
      assert(c.nearDuplicates(Seq("q" -> docA), threshold = 0.8)
        .select("id").as[String].collect().toSet === Set("a"))
      // delete drops the doc from the index
      c.delete(Seq("a"))
      assert(c.nearDuplicates(Seq("q" -> docA), threshold = 0.8).count() === 0)
    }
    // MERGE path maintenance (small partition rewrite) also re-bands
    c.add(Seq(docA), ids = Some(Seq("a2")))
    val probe = c.nearDuplicates(Seq("q" -> docA), threshold = 0.8)
    assert(probe.select("id").as[String].collect().toSet === Set("a2"))
    // probe plan: the banded query rows broadcast against the skinny store
    // (the corpus is never re-signatured)
    assert(probe.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // DataFrame probe arm (the shard-screening path) agrees with the Seq arm
    val dfHits = c.nearDuplicatesDf(
        Seq("q" -> docA, "r" -> distinctDoc).toDF("qid", "content"), 0.8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    // b was updated to distinctDoc above, so probe r matches both z and b
    assert(dfHits === Set(("q", "a2", 1.0), ("r", "z", 1.0), ("r", "b", 1.0)))
    c.deleteAll()
    assert(c.dedupIndex().isEmpty)
    assert(!Stores.partitionExists(spark, Stores.minhashDir(root), "test"))
  }

  test("streamScreen: per-batch screening from the persisted index, tracks live writes") {
    import TestSpark.spark.implicits._
    val root = freshRoot()
    val c = coll(root)
    val docA = (1 to 20).map(i => s"scr$i").mkString(" ")
    val docB = (1 to 20).map(i => s"oth$i").mkString(" ")
    c.add(Seq(docA), ids = Some(Seq("a")))
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    // missing index fails at wiring time, not at the Nth batch
    intercept[IllegalStateException] {
      c.streamScreen(mem.toDF().toDF("qid", "content")) { _ => () }
    }
    c.createDedupIndex()
    val got = scala.collection.mutable.Set[(String, String)]()
    val q = c.streamScreen(mem.toDF().toDF("qid", "content")) { out =>
      got ++= out.select("qid", "id").collect()
        .map(r => (r.getString(0), r.getString(1)))
    }.start()
    try {
      mem.addData(("q1", docA), ("q2", docB)); q.processAllAvailable()
      assert(got.toSet === Set(("q1", "a")))
      c.add(Seq(docB), ids = Some(Seq("b"))) // live write between batches
      mem.addData(("q3", docB)); q.processAllAvailable()
      assert(got.toSet === Set(("q1", "a"), ("q3", "b")))
    } finally q.stop()
  }

  test("merge-path upsert drops no broadcast hints (HintErrorLogger silent)") {
    // the add() id set is driver-side-small and broadcast-hinted into the
    // merge joins; a hint landing on a side Spark cannot build is silently
    // dropped with only a HintErrorLogger warning — this pins that every
    // hint on the merge path sits on a buildable side, so a future dropped-
    // hint regression fails a test instead of hiding in the logs
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender(
        "graft-hint-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("HintErrorLogger"))
          events.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // the appender must hang off the ROOT LoggerConfig of the CURRENT
    // LoggerContext: a named-logger addAppender resolves against a config
    // that Spark's slf4j route does not pass through (verified: it
    // captures nothing while the warning still prints)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val c = coll()
      c.add(Seq("alpha beta", "gamma delta"), ids = Some(Seq("a", "b")))
      // second add on a small existing store = the direct-merge path, where
      // the hinted id set feeds the docs/postings/doclen/minhash merges
      c.add(Seq("alpha epsilon", "zeta eta"), ids = Some(Seq("a", "c")))
      // and the delta path (forced): unhinted, but must also stay silent
      TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0")(
        c.add(Seq("theta iota"), ids = Some(Seq("d"))))
      assert(c.count() === 4L)
      assert(events.isEmpty,
        s"dropped join hints on the upsert path:\n${events.toArray.mkString("\n")}")
    } finally {
      rootCfg.removeAppender("graft-hint-capture")
      ctx.updateLoggers()
      appender.stop()
    }
  }

  // --- query(): one Spark action for total + page ---

  /** query() pinned against its own lazy pipeline: `total` is the
    * unpaginated frame's count, the page is that frame's order cut at
    * offset/limit (ids and ranks). Returns the result for literal checks.
    */
  private def queryAgreesWithFrame(c: Collection, q: String = "", limit: Int = 0,
                                   offset: Int = 0, where: Map[String, Any] = Map.empty,
                                   orderBy: graft.model.OrderBy = graft.model.OrderBy.none,
                                   vectorSearch: Boolean = false): graft.model.QueryResult = {
    val r = c.query(q, limit, offset, where, orderBy, vectorSearch)
    val frame = c.queryFrame(q, where = where, orderBy = orderBy, vectorSearch = vectorSearch)
    assert(r.total === frame.count(), s"total of '$q' limit=$limit offset=$offset")
    val all = frame.collect().toSeq.map(row =>
      (row.getString(0), if (row.isNullAt(3)) None else Some(row.getDouble(3))))
    val rest = all.drop(math.max(offset, 0))
    assert(r.results.map(h => (h.id, h.rank)) === (if (limit > 0) rest.take(limit) else rest),
      s"page of '$q' limit=$limit offset=$offset")
    r
  }

  test("query() total matrix: limit, offset past the end, empty where, orderBy, vector") {
    val c = gridColl()
    assert(queryAgreesWithFrame(c, limit = 3).total === 10)
    assert(queryAgreesWithFrame(c).total === 10)
    // past Spark's top-k threshold the page is a global sort: still one count
    assert(queryAgreesWithFrame(c, "Lorem", limit = Int.MaxValue).total === 10)
    assert(queryAgreesWithFrame(c, offset = 4).results.size === 6)
    val past = queryAgreesWithFrame(c, limit = 3, offset = 20)
    assert(past.total === 10 && past.results.isEmpty)
    assert(queryAgreesWithFrame(c, "Lorem", limit = 3, offset = 20).total === 10)
    assert(queryAgreesWithFrame(c, limit = 3, where = Map("k1" -> "zzz")).total === 0)
    assert(queryAgreesWithFrame(c, "Lorem", limit = 3, where = Map("k1" -> "zzz")).total === 0)
    assert(queryAgreesWithFrame(c, "Lorem", where = Map("k2" -> "a")).total === 3)
    val byMeta = queryAgreesWithFrame(c, limit = 3, offset = 2, orderBy = Seq("-k1"))
    assert(byMeta.total === 10 && byMeta.results.map(_.id) === Seq("i8", "i7", "i6"))
    assert(queryAgreesWithFrame(c, "Lorem", limit = 4, offset = 1,
      orderBy = Seq("k2", "k1")).total === 10)
    assert(queryAgreesWithFrame(c, "Lorem", limit = 0, offset = 3).results.size === 7)

    val v = coll(embedder = Some(DictEmbedder))
    v.add(Seq("Lorem ipsum dolor", "sit amet"))
    val top = queryAgreesWithFrame(v, "consectetur", limit = 1, vectorSearch = true)
    assert(top.total === 2 && top.results.map(_.content) === Seq("sit amet"))
    assert(queryAgreesWithFrame(v, "consectetur", offset = 1, vectorSearch = true)
      .results.map(_.content) === Seq("Lorem ipsum dolor"))
  }

  test("query() total on absent, emptied and delta-carrying collections") {
    val absent = coll()
    assert(queryAgreesWithFrame(absent, limit = 10).total === 0)
    assert(queryAgreesWithFrame(absent, "alpha", limit = 10).total === 0)
    assert(queryAgreesWithFrame(absent).total === 0)

    val emptied = coll()
    emptied.add(Seq("alpha beta", "beta gamma"), ids = Some(Seq("x", "y")))
    emptied.delete(Seq("x", "y"))
    assert(queryAgreesWithFrame(emptied, limit = 10).total === 0)
    assert(queryAgreesWithFrame(emptied, "beta", limit = 10).total === 0)

    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      val c = coll()
      c.add((1 to 5).map(i => s"alpha beta doc$i"), ids = Some((1 to 5).map(i => s"d$i")))
      c.add(Seq("alpha gamma", "alpha delta"), ids = Some(Seq("d2", "d6")))
      c.delete(Seq("d4"))
      assert(graft.index.Stores.deltaCount(spark,
        graft.index.Stores.docsDir(c.root), c.name) > 0, "expected delta segments")
      // no broadcast: the delta-resolving join is a sort-merge join, whose
      // id-ascending output must not let the page cut short the count
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val scan = queryAgreesWithFrame(c, limit = 2)
        assert(scan.total === 5 && scan.results.map(_.id) === Seq("d1", "d2"))
        assert(queryAgreesWithFrame(c, limit = 2, offset = 4).total === 5)
        assert(queryAgreesWithFrame(c, "alpha", limit = 2).total === 5)
        assert(queryAgreesWithFrame(c, "beta", limit = 10).total === 3)
        assert(queryAgreesWithFrame(c, limit = 2, orderBy = Seq("k")).total === 5)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("query(limit > 0) is one top-k action: no global sort, no cache") {
    val c = gridColl()
    def pageAction(plan: String): Unit = {
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("rangepartitioning"), plan)
      assert(!plan.contains("InMemoryTableScan"), plan)
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty)
    }
    c.query("Lorem", limit = 10) // memoizes the collstats value
    // the scan, and a ranked read on the distributed arm (forced)
    for ((h, q) <- Seq(c.withSliceMaxRows(-1) -> "Lorem", c -> "")) {
      var r: graft.model.QueryResult = null
      val acts = TestSpark.actionsOf { r = h.query(q, limit = 10) }
      assert(r.total === 10)
      assert(acts.map(_._1) === Seq("collect"), acts.mkString("\n"))
      pageAction(acts.head._2)
    }
    // the driver arm: the bounded slice collect, then the one page action
    var r: graft.model.QueryResult = null
    val acts = TestSpark.actionsOf { r = c.query("Lorem", limit = 10) }
    assert(r.total === 10)
    assert(acts.map(_._1) === Seq("collect", "collect"), acts.mkString("\n"))
    val slice = acts.head._2
    assert(slice.contains(s"CollectLimit ${Collection.SliceMaxRows + 1}"), slice)
    assert(slice.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("EqualTo(term,lorem)")), slice)
    pageAction(acts(1)._2)
  }

  test("prefix leaves push a StringStartsWith pre-filter into the postings scan") {
    val c = coll()
    c.add(Seq("bezel bezier alpha", "bezoar beta", "alpha zebra"), ids = Some(Seq("a", "b", "c")))
    val d = c.withSliceMaxRows(-1) // the distributed arm (forced)
    val plan = d.queryFrame("bez*", limit = 10).queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("StringStartsWith"), plan)
    // the driver arm pushes it into the slice collect
    val acts = TestSpark.actionsOf { c.queryFrame("bez*", limit = 10) }
    val slice = acts.map(_._2).find(p => p.contains("CollectLimit") && p.contains("postings"))
      .getOrElse(acts.mkString("\n"))
    assert(slice.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("StringStartsWith(term,bez)")), slice)
    for (h <- Seq(c, d)) {
      assert(h.query("bez*", limit = 10).results.map(_.id).toSet === Set("a", "b"))
      assert(h.query("bez* or zebra", limit = 10).total === 3)
    }
  }

  test("LSH probe buckets computed on the driver equal the Spark-computed ones") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val (tables, planes, dim, seed) = (16, 4, 64, 42L)
    // full-width and short vectors (a short vector dots over its own dims)
    val vecs = (0 until 40).map(i =>
      Seq.fill(if (i % 4 == 0) 10 else dim)(rnd.nextGaussian().toFloat))
    val ix = graft.ext.LshIndex(spark.emptyDataFrame, tables, planes, dim, seed)
    val viaSpark = vecs.zipWithIndex.toDF("v", "i")
      .select($"i", posexplode(graft.ext.Ann.lshBucketCol($"v", tables, planes, dim, seed))
        .as(Seq("table", "bucket")))
      .collect().groupBy(_.getInt(0))
      .map { case (i, rs) => i -> rs.map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted }
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(ix.probeBuckets(v).sorted === viaSpark(i), s"vector $i")
    }
    assert(ix.probeBuckets(null).isEmpty)
  }
}
