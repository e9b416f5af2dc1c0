package graftbench

import graft.api.Collection
import graft.index.Stores

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A generated read of the `search` workload. FTS kinds carry `q`; the
  * vector kinds carry `text`, which the collection's embedder embeds.
  */
final case class ReadOp(kind: String, q: FtsQuery, where: Option[Where], offset: Int, text: String)

object SearchOps {
  val Kinds: Seq[String] = Seq("and", "or", "prefix", "ranked", "where", "page",
    "vector_exact", "vector_ann", "impact_topk", "count")

  /** Cycle `c`: every kind once, in a seeded order. Terms are Zipf draws
    * stratified by (kind, slot, cycle) into ten equal-probability bands, so
    * every seed gets the same mix of popular and rare terms, in other words. */
  def cycle(corpus: Corpus, c: Int): Seq[ReadOp] = {
    val r = Rng.of(corpus.seed, 10, c)
    val kinds = ArrayBuffer(Kinds: _*)
    var i = kinds.size - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1 }
    kinds.toSeq.map { k =>
      val ki = Kinds.indexOf(k)
      def term(slot: Int) = corpus.termIn(r, (ki + 3 * slot + 7 * c) % 10, 10)
      def one = FtsQuery(Seq(TermLeaf(term(0))), isAnd = true)
      def two(and: Boolean) = {
        val a = term(0)
        var b = term(1)
        while (b == a) b = term(1)
        FtsQuery(Seq(TermLeaf(a), TermLeaf(b)), and)
      }
      k match {
        case "and" => ReadOp(k, two(true), None, 0, "")
        case "or" | "count" => ReadOp(k, two(false), None, 0, "")
        case "prefix" => ReadOp(k, FtsQuery(Seq(PrefixLeaf(term(0).take(3))), isAnd = true), None, 0, "")
        case "where" => ReadOp(k, one, Some(Where(Corpus.Langs(r.nextInt(Corpus.Langs.length)), 500)), 0, "")
        case "page" => ReadOp(k, one, None, 10, "")
        case "vector_exact" | "vector_ann" => ReadOp(k, null, None, 0, Seq(0, 1, 2).map(term).mkString(" "))
        case _ => ReadOp(k, one, None, 0, "") // ranked, impact_topk
      }
    }
  }
}

/** Read-only serving over a fully indexed collection of short documents. */
final class SearchWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val a = ctx.args
  private val n = a.int("docs")
  private val recallFloor = a.double("ann_recall_floor")
  private var coll: Collection = _
  private var docs: IndexedSeq[GenDoc] = _
  private var odocs: IndexedSeq[ODoc] = _
  private var vecs: IndexedSeq[(String, Array[Float])] = _
  private val built = mutable.Map[String, Double]()
  private val recalls = ArrayBuffer[Double]()

  /** Untimed JIT / codegen warm-up on a tiny throwaway collection that runs
    * ingest, index builds and every read path the loop uses. */
  def warmup(): Unit = {
    val c = Collection(ctx.spark, ctx.root("warm-search"), "warm", Some(ctx.embedder))
    val small = ctx.excluded((0 until 40).map(ctx.corpus.searchDoc))
    Out.step("warm.addDf")(c.addDf(small.toDF()))
    Out.step("warm.createImpactIndex")(c.createImpactIndex())
    Out.step("warm.createVectorIndex")(c.createVectorIndex())
    val t = ctx.corpus.vocab(0)
    Out.step("warm.query")(c.query(t, limit = 10))
    Out.step("warm.query_where")(c.query(s"$t or ${ctx.corpus.vocab(1)}", limit = 10, offset = 10,
      where = Where("en", 500).engine))
    Out.step("warm.query_prefix")(c.query(t.take(3) + "*", limit = 10))
    Out.step("warm.query_vector")(c.query(t, limit = 10, vectorSearch = true))
    Out.step("warm.vectorTopK")(c.vectorTopK(Seq(("q", ctx.embedder.vector(t).toSeq)), 10).collect())
    Out.step("warm.searchTopK")(c.searchTopK(t, 10).collect())
    Out.step("warm.count")(c.queryFrame(t).count())
  }

  def setup(): Unit = {
    val stage = ctx.stageDir("search")
    ctx.excluded {
      docs = (0 until n).map(ctx.corpus.searchDoc)
      docs.toDF().write.parquet(stage)
    }
    coll = Collection(ctx.spark, ctx.root("search"), "search", Some(ctx.embedder))
    val input = ctx.spark.read.parquet(stage)
    val userBytes = docs.map(_.userBytes).sum
    built("index.add_s") = timedSetup("addDf", userBytes)(coll.addDf(input))
    built("exec.impact_build_s") = timedSetup("createImpactIndex")(coll.createImpactIndex())
    built("ext.ann_build_s") = timedSetup("createVectorIndex")(coll.createVectorIndex())
    ctx.excluded {
      odocs = docs.map(ODoc.of(_))
      vecs = docs.map(d => (d.id, ctx.embedder.vector(d.content)))
    }
  }

  private def timedSetup(kind: String, userBytes: Long = 0L)(f: => Unit): Double = {
    ctx.call(kind, write = true, timed = false, userBytes = userBytes)(f)
    ctx.calls.last.wallMs / 1e3
  }

  def round(r: Int): Unit = SearchOps.cycle(ctx.corpus, r).foreach(read)

  private def read(op: ReadOp): Unit = ctx.op(op.kind, write = false) {
    def call[A](f: => A): A =
      ctx.call(op.kind, write = false, timed = true,
        parseUs = if (op.q == null) -1.0 else ctx.parseTime(op.q.render))(f)
    def hitsOf(res: graft.model.QueryResult) = res.results.map(h => (h.id, h.rank.getOrElse(Double.NaN)))
    op.kind match {
      case "vector_exact" =>
        val res = call(coll.query(op.text, limit = 10, vectorSearch = true))
        Oracle.checkPage(hitsOf(res), Some(res.total),
          Oracle.cosine(vecs, ctx.embedder.vector(op.text)), 0, 10)
      case "vector_ann" =>
        val q = ctx.embedder.vector(op.text)
        val rows = call(coll.vectorTopK(Seq(("q", q.toSeq)), 10).collect())
        val ids = rows.sortBy(_.getAs[Number]("rn").longValue).map(_.getAs[String]("id")).toSeq
        val rec = Oracle.recall(ids, Oracle.cosine(vecs, q), 10)
        recalls += rec
        if (rec >= recallFloor) None else Some(f"recall@10 $rec%.2f below floor $recallFloor")
      case "impact_topk" =>
        val rows = call(coll.searchTopK(op.q.render, 10).collect())
        Oracle.checkPage(rows.map(r => (r.getAs[String]("id"), r.getAs[Double]("rank"))).toSeq,
          None, Oracle.fts(odocs, op.q), 0, 10)
      case "count" =>
        val total = call(coll.queryFrame(op.q.render).count())
        val exp = Oracle.fts(odocs, op.q).total
        if (total == exp) None else Some(s"count $total != expected $exp")
      case _ =>
        val res = call(coll.query(op.q.render, limit = 10, offset = op.offset,
          where = op.where.map(_.engine).getOrElse(Map.empty)))
        Oracle.checkPage(hitsOf(res), Some(res.total), Oracle.fts(odocs, op.q, op.where), op.offset, 10)
    }
  }

  def finish(): Unit =
    if (recalls.nonEmpty) Out.metric("vector_ann.recall_min", recalls.min, "ratio")

  def space(): (Long, Long) = (Main.dirBytes(coll.root), docs.map(_.userBytes).sum)

  def layerMetrics(): Seq[(String, Double, String)] =
    Seq(("index.add_s", built("index.add_s"), "s"),
      ("exec.impact_build_s", built("exec.impact_build_s"), "s"),
      ("ext.ann_build_s", built("ext.ann_build_s"), "s"))
}

/** Delta-segment health of every store under a collection root. */
object Deltas {
  def stores(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getPath).sorted

  /** (deltas, delta bytes) summed over every store of `coll` under `root`. */
  def state(ctx: Ctx, root: String, coll: String): (Int, Long) = {
    val per = stores(root).map(s => (Stores.deltaCount(ctx.spark, s, coll), Stores.segmentBytes(ctx.spark, s, coll)._2))
    (per.map(_._1).sum, per.map(_._2).sum)
  }

  def report(ctx: Ctx, root: String, compactions: Int): Seq[(String, Double, String)] = {
    val name = new java.io.File(root).getName
    val (d, b) = state(ctx, root, name)
    Seq(("index.deltas", d.toDouble, "count"), ("index.delta_bytes", b.toDouble, "bytes"),
      ("index.compactions", compactions.toDouble, "count"))
  }
}

/** One planned round of the `churn` workload. */
final case class ChurnRound(upserts: Seq[(String, String, Long)], // (id, marker, version)
                            deletes: Seq[String], markerProbe: String, goneProbe: String,
                            term: String)

/** Writes interleaved with reads on a collection whose docs store is past
  * the engine's direct-merge limit, so every write takes the delta path.
  */
final class ChurnWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val a = ctx.args
  private val n0 = a.int("docs")
  private val tokens = (a.int("tokens_min"), a.int("tokens_max"))
  private val blob = a.int("blob_bytes")
  private val batch = a.int("add_batch")
  private val nDelete = a.int("delete_batch")
  private val minStore = a.double("min_store_mb") * 1048576
  private var coll: Collection = _
  private val built = mutable.Map[String, Double]()

  /** The live set as the benchmark tracks it: id -> (doc, user bytes). */
  private val live = mutable.LinkedHashMap[String, (ODoc, Long)]()
  /** Ids in write order (stale entries skipped), for recency-skewed updates. */
  private val order = ArrayBuffer[String]()
  private var nextId = n0
  private var compactions = 0
  private var lastDocsDeltas = 0

  private def doc(id: String, marker: String, version: Long, blobBytes: Int): GenDoc =
    ctx.corpus.churnDoc(id, marker, version, tokens, blobBytes)

  /** `d` may carry a shortened blob; user bytes count the full one. */
  private def track(d: GenDoc): Unit = {
    live(d.id) = (ODoc.of(d), d.userBytes - d.metadata("blob").length + blob)
    order += d.id
  }

  def warmup(): Unit = {
    val c = Collection(ctx.spark, ctx.root("warm-churn"), "warm", Some(ctx.embedder))
    val small = ctx.excluded((0 until 40).map(i => doc(f"w$i%03d", s"b${i}x", i, 64)))
    Out.step("warm.addDf")(c.addDf(small.toDF()))
    Out.step("warm.createImpactIndex")(c.createImpactIndex())
    Out.step("warm.createVectorIndex")(c.createVectorIndex())
    Out.step("warm.add")(c.add(small.take(5).map(_.content), Some(small.take(5).map(_.id)), Some(small.take(5).map(_.metadata))))
    Out.step("warm.delete")(c.delete(small.slice(5, 7).map(_.id)))
    Out.step("warm.query")(c.query(small(10).content.split(" ").last, limit = 10))
    Out.step("warm.searchTopK")(c.searchTopK(ctx.corpus.vocab(0), 10).collect())
  }

  def setup(): Unit = {
    val stage = ctx.stageDir("churn")
    Out.step("stage")(ctx.excluded {
      val corpus = ctx.corpus
      val (t, b) = (tokens, blob)
      ctx.spark.range(0, n0, 1, a.int("cpus")).as[Long]
        .map(i => corpus.churnDoc(f"c$i%07d", s"b${i}x", i, t, b))
        .write.parquet(stage)
      initLive()
    })
    coll = Collection(ctx.spark, ctx.root("churn"), "churn", Some(ctx.embedder))
    val userBytes = live.valuesIterator.map(_._2).sum
    built("index.add_s") = timedSetup("addDf", userBytes)(coll.addDf(ctx.spark.read.parquet(stage)))
    built("exec.impact_build_s") = timedSetup("createImpactIndex")(coll.createImpactIndex())
    built("ext.ann_build_s") = timedSetup("createVectorIndex")(coll.createVectorIndex())
    val (base, delta) = Stores.segmentBytes(ctx.spark, Stores.docsDir(coll.root), coll.name)
    require(base + delta > minStore,
      s"docs store holds ${base + delta} bytes, not above ${minStore.toLong}: writes would not take the delta path")
    // untimed warm-up round on the real store: the first delta-path writes
    // and delta-resolving reads pay their one-time costs here
    Out.step("warm_round")(runRound(-1, timed = false))
  }

  private def timedSetup(kind: String, userBytes: Long = 0L)(f: => Unit): Double = {
    ctx.call(kind, write = true, timed = false, userBytes = userBytes)(f)
    ctx.calls.last.wallMs / 1e3
  }

  /** Tracks the initial corpus (text only; the blobs live in Spark). */
  def initLive(): Unit = (0 until n0).foreach(i => track(doc(f"c$i%07d", s"b${i}x", i, 0)))

  private def applyUpserts(docs: Seq[GenDoc]): Unit = {
    nextId += docs.count(d => !live.contains(d.id))
    docs.foreach(track)
  }

  /** The first `rounds` plans with the tracked state advanced as the engine
    * calls would advance it — the operation sequence without the engine. */
  def simulate(rounds: Int): Seq[ChurnRound] = {
    initLive()
    (0 until rounds).map { r =>
      val p = plan(r)
      applyUpserts(p.upserts.map { case (id, m, v) => doc(id, m, v, 0) })
      p.deletes.foreach(live.remove)
      p
    }
  }

  /** Plans round `r` from the seed and the live set alone, so the same seed
    * gives the same operations whatever the timing. */
  def plan(r: Int): ChurnRound = {
    val rng = Rng.of(ctx.corpus.seed, 20, r + 1)
    val ups = mutable.LinkedHashSet[String]()
    while (ups.size < batch / 2) {
      val u = rng.nextDouble()
      val id = order(order.size - 1 - (order.size * u * u * u).toInt)
      if (live.contains(id)) ups += id
    }
    val fresh = (0 until batch - ups.size).map(j => f"c${nextId + j}%07d")
    val upserts = (ups.toSeq ++ fresh).zipWithIndex.map { case (id, j) =>
      (id, s"m${r + 1}x$j", (r + 2).toLong * 10000000L + j) // base docs use versions < 1e7
    }
    val batchIds = upserts.map(_._1).toSet
    val candidates = live.keysIterator.filterNot(batchIds).toIndexedSeq
    val dels = mutable.LinkedHashSet[String]()
    while (dels.size < nDelete) dels += candidates(rng.nextInt(candidates.size))
    ChurnRound(upserts, dels.toSeq, upserts(rng.nextInt(upserts.size))._1,
      dels.toSeq(rng.nextInt(dels.size)), ctx.corpus.term(rng))
  }

  def round(r: Int): Unit = runRound(r, timed = true)

  private def runRound(r: Int, timed: Boolean): Unit = {
    val p = plan(r)
    val docs = ctx.excluded(p.upserts.map { case (id, m, v) => doc(id, m, v, blob) })
    ctx.op("add", write = true) {
      ctx.call("add", write = true, timed, userBytes = docs.map(_.userBytes).sum) {
        coll.add(docs.map(_.content), Some(docs.map(_.id)), Some(docs.map(_.metadata)))
      }
      None
    }
    applyUpserts(docs)
    afterWrite()
    val goneMarker = live(p.goneProbe)._1.tokens.last
    ctx.op("delete", write = true) {
      ctx.call("delete", write = true, timed)(coll.delete(p.deletes))
      None
    }
    p.deletes.foreach(live.remove)
    afterWrite()
    val marker = live(p.markerProbe)._1.tokens.last
    ctx.op("marker", write = false) {
      val res = ctx.call("marker", write = false, timed, parseUs = ctx.parseTime(marker))(coll.query(marker, limit = 10))
      val ids = res.results.map(_.id)
      if (res.total == 1 && ids == Seq(p.markerProbe)) None
      else Some(s"marker $marker of ${p.markerProbe}: total ${res.total}, ids ${ids.mkString(",")}")
    }
    ctx.op("gone", write = false) {
      val res = ctx.call("gone", write = false, timed, parseUs = ctx.parseTime(goneMarker))(coll.query(goneMarker, limit = 10))
      if (res.total == 0 && res.results.isEmpty) None
      else Some(s"deleted ${p.goneProbe} still found by $goneMarker: ${res.results.map(_.id).mkString(",")}")
    }
    ctx.op("impact_topk", write = false) {
      val q = FtsQuery(Seq(TermLeaf(p.term)), isAnd = true)
      val rows = ctx.call("impact_topk", write = false, timed, parseUs = ctx.parseTime(p.term)) {
        coll.searchTopK(p.term, 10).collect()
      }
      Oracle.checkPage(rows.map(r => (r.getAs[String]("id"), r.getAs[Double]("rank"))).toSeq,
        None, ctx.excluded(Oracle.fts(live.valuesIterator.map(_._1).toSeq, q)), 0, 10)
    }
  }

  /** Tracks store health after each write (traced runs only: a listing of
    * every store). A docs-store delta count that falls counts as a compaction. */
  private def afterWrite(): Unit = if (ctx.trace.isDefined) {
    val d = Stores.deltaCount(ctx.spark, Stores.docsDir(coll.root), coll.name)
    if (d < lastDocsDeltas) compactions += 1
    lastDocsDeltas = d
  }

  def finish(): Unit = ctx.op("final_count", write = false) {
    val c = coll.count()
    if (c == live.size) None else Some(s"count $c != tracked live set ${live.size}")
  }

  def space(): (Long, Long) = (Main.dirBytes(coll.root), live.valuesIterator.map(_._2).sum)

  def layerMetrics(): Seq[(String, Double, String)] =
    Seq(("index.add_s", built("index.add_s"), "s"),
      ("exec.impact_build_s", built("exec.impact_build_s"), "s"),
      ("ext.ann_build_s", built("ext.ann_build_s"), "s")) ++
      Deltas.report(ctx, coll.root, compactions)
}

/** The `build` corpus: `n` short documents plus planted duplicates. */
object BuildCorpus {
  /** For `groups` originals of at least 20 tokens, one or two planted
    * copies each: exact (same text) or near (one extra token appended, a
    * word 3-shingle Jaccard of at least 18/19). Copies get the ids after the
    * originals'. Returns the documents and the planted groups (original
    * first).
    */
  def make(c: Corpus, n: Int, groups: Int): (IndexedSeq[GenDoc], Seq[Seq[String]]) = {
    val originals = (0 until n).map(c.searchDoc)
    val r = Rng.of(c.seed, 30, 0)
    val eligible = originals.filter(_.content.count(_ == ' ') >= 19)
    val picked = mutable.LinkedHashSet[GenDoc]()
    while (picked.size < groups) picked += eligible(r.nextInt(eligible.size))
    var next = n
    val copies = ArrayBuffer[GenDoc]()
    val planted = picked.toSeq.map { o =>
      o.id +: (0 until 1 + r.nextInt(2)).map { _ =>
        val text = if (r.nextDouble() < 0.5) o.content else o.content + " " + c.term(r)
        val d = GenDoc(f"d$next%07d", text, o.metadata)
        next += 1
        copies += d
        d.id
      }
    }
    (originals ++ copies, planted)
  }
}

/** The training-data side: bulk ingest into a fresh root, index builds and
  * near-duplicate removal. A round is one full build; its two reads
  * (count, id listing) check the ingest and the dedup outcome.
  */
final class BuildWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val a = ctx.args
  private var docs: IndexedSeq[GenDoc] = _
  private var planted: Seq[Seq[String]] = _
  private var stage: String = _
  private var lastRoot: String = _
  private val steps = mutable.Map[String, ArrayBuffer[Double]]()

  def warmup(): Unit = {
    val (small, _) = ctx.excluded(BuildCorpus.make(ctx.corpus, 40, 3))
    val c = Collection(ctx.spark, ctx.root("warm-build"), "warm", Some(ctx.embedder))
    Out.step("warm.addDf")(c.addDf(small.toDF()))
    Out.step("warm.count")(c.count())
    Out.step("warm.createImpactIndex")(c.createImpactIndex())
    Out.step("warm.createVectorIndex")(c.createVectorIndex())
    Out.step("warm.createDedupIndex")(c.createDedupIndex())
    Out.step("warm.dedup")(c.dedup(0.8))
    Out.step("warm.ids")(c.docs().select("id").collect())
  }

  def setup(): Unit = ctx.excluded {
    val made = BuildCorpus.make(ctx.corpus, a.int("docs"), a.int("dup_groups"))
    docs = made._1
    planted = made._2
    stage = ctx.stageDir("build")
    docs.toDF().write.parquet(stage)
  }

  private def step[A](kind: String, write: Boolean, userBytes: Long = 0L)(f: => A): A = {
    val res = ctx.call(kind, write, timed = true, userBytes = userBytes)(f)
    steps.getOrElseUpdate(kind, ArrayBuffer()) += ctx.calls.last.wallMs / 1e3
    res
  }

  def round(r: Int): Unit = {
    if (lastRoot != null) deleteTree(lastRoot)
    lastRoot = ctx.root(s"build-$r")
    val c = Collection(ctx.spark, lastRoot, "build", Some(ctx.embedder))
    val extra = planted.map(_.size - 1).sum
    ctx.op("addDf", write = true) {
      step("addDf", write = true, userBytes = docs.map(_.userBytes).sum)(c.addDf(ctx.spark.read.parquet(stage)))
      None
    }
    ctx.op("count", write = false) {
      val k = step("count", write = false)(c.count())
      if (k == docs.size) None else Some(s"count after ingest $k != ${docs.size}")
    }
    ctx.op("createImpactIndex", write = true) { step("createImpactIndex", write = true)(c.createImpactIndex()); None }
    ctx.op("createVectorIndex", write = true) { step("createVectorIndex", write = true)(c.createVectorIndex()); None }
    ctx.op("createDedupIndex", write = true) { step("createDedupIndex", write = true)(c.createDedupIndex()); None }
    ctx.op("dedup", write = true) {
      val removed = step("dedup", write = true)(c.dedup(0.8))
      if (removed == extra) None else Some(s"dedup removed $removed docs, planted $extra duplicates")
    }
    ctx.op("ids", write = false) {
      val ids = step("ids", write = false)(c.docs().select("id").collect()).map(_.getString(0)).toSet
      val inGroups = planted.flatten.toSet
      val strays = docs.iterator.map(_.id).filterNot(inGroups).filterNot(ids).take(3).toSeq
      val badGroups = planted.filter(g => g.count(ids) != 1).take(3)
      if (strays.isEmpty && badGroups.isEmpty && ids.size == docs.size - extra) None
      else Some(s"${ids.size} survivors (expected ${docs.size - extra}); lost non-duplicates " +
        s"${strays.mkString(",")}; groups without exactly one survivor ${badGroups.map(_.mkString("+")).mkString(",")}")
    }
  }

  private def deleteTree(p: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_)) finally s.close()
  }

  def finish(): Unit = {
    val perRound = ctx.calls.filter(_.timed).map(_.wallMs).sum / 1e3 / steps("addDf").size
    Out.metric("docs_per_s", docs.size / perRound, "1/s")
  }

  def space(): (Long, Long) = {
    val gone = planted.flatMap(_.tail).toSet
    (Main.dirBytes(lastRoot), docs.iterator.filterNot(d => gone(d.id)).map(_.userBytes).sum)
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    def med(k: String) = Stats.median(steps(k).toSeq)
    Seq(("index.add_s", med("addDf"), "s"), ("exec.impact_build_s", med("createImpactIndex"), "s"),
      ("ext.ann_build_s", med("createVectorIndex"), "s"), ("ext.dedup_index_s", med("createDedupIndex"), "s"),
      ("ext.dedup_s", med("dedup"), "s"))
  }
}
