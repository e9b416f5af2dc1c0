package graft

import graft.api.Collection
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The impact-ordered postings sidecar (ranked-FTS early termination):
  * certified-exact serving, full-path fallback, and the O(batch) insert /
  * invalidate-on-update maintenance contract.
  */
class ImpactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-impact-").toString

  /** Corpus with a REALISTIC (zipf-ish) tf profile — what the certificate
    * is designed for: "common" appears once in most docs (so the sidecar
    * truncation bound is ub(tf=1), well under saturation) and ~50 times in
    * every 13th doc (the unambiguous top-tf serving set); "rare" rides on
    * those docs; "alpha" is everywhere with tf 1-3. A tf-FLAT corpus (all
    * postings near the same tf) makes single-term certificates fail by
    * construction — BM25's tf-part saturates — and falls back, which the
    * cap-2 test pins separately.
    */
  private def corpus(n: Int): Seq[(String, String)] =
    (1 to n).map { i =>
      val body =
        if (i % 13 == 0) Seq.fill(50 + i % 7)("common").mkString(" ") + " rare"
        else "common"
      val alphas = Seq.fill(1 + i % 3)("alpha").mkString(" ")
      (f"d$i%05d", s"$body filler$i $alphas beta")
    }

  private def build(n: Int, cap: Int): Collection = {
    val c = Collection(spark, freshRoot(), "t")
    c.addDf(corpus(n).toDF("id", "content"))
    c.createImpactIndex(cap)
    c
  }

  /** (id, rank rounded) set of a frame — rounding absorbs float summation
    * order; selection differences would still change the SET.
    */
  private def pairs(df: DataFrame): Seq[(String, Double)] =
    df.select($"id", round($"rank", 9).as("r")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)

  private def assertSameTopK(c: Collection, q: String, k: Int,
                             offset: Int = 0): Unit =
    assert(pairs(c.searchTopK(q, k, offset)) ===
      pairs(c.queryFrame(q, limit = k, offset = offset)),
      s"searchTopK vs queryFrame mismatch for '$q' k=$k offset=$offset")

  test("single-term certified top-k equals full scoring (and serves)") {
    val c = build(400, cap = 64)
    assert(c.impactIndex() === Some(64))
    assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty, "expected certified serve")
    assertSameTopK(c, "common", 10)
    assertSameTopK(c, "common", 10, offset = 5)
    assertSameTopK(c, "rare", 5) // fully-stored term: bound 0, certifies with < cap matches
  }

  test("multi-term AND and OR certified top-k equal full scoring") {
    val c = build(400, cap = 64)
    assert(c.impactCertifiedTopK("common rare", 5, 0).nonEmpty)
    assertSameTopK(c, "common rare", 5) // implicit AND
    assertSameTopK(c, "rare or alpha", 8)
    // term absent from the corpus: AND -> empty, OR -> other leaf only
    assert(c.searchTopK("common zzzmissing", 5).count() === 0)
    assertSameTopK(c, "zzzmissing or rare", 5)
  }

  test("under-full AND certifies via completeness when one term is fully stored") {
    val c = build(400, cap = 64)
    // 'rare' (df ~30) is fully stored; 'common' (df 400) overflows the cap.
    // k=200 exceeds the ~30 AND matches, so the BOUNDED certificate can
    // never fire (top.length < n) — the COMPLETENESS rule must: every AND
    // match lives in rare's complete prefix, so the candidates are all
    // matches and the under-full answer is provably exact.
    val served = c.impactCertifiedTopK("rare common", 200, 0)
    assert(served.nonEmpty, "completeness certificate must serve the under-full AND")
    assert(served.get.count() < 200)
    assertSameTopK(c, "rare common", 200)
    // sanity: same query, single overflowing term, still falls back under-full
    assert(c.impactCertifiedTopK("common", 500, 0).isEmpty,
      "an overflowing single term has no completeness proof")
  }

  test("failed certificate falls back to the full path (still exact)") {
    val c = build(400, cap = 2) // cap 2 < k: the prefix can't certify top-10
    assert(c.impactCertifiedTopK("common", 10, 0).isEmpty, "expected fallback")
    assertSameTopK(c, "common", 10)
  }

  test("prefix and mixed-boolean queries take the full path") {
    val c = build(200, cap = 64)
    assert(c.impactCertifiedTopK("fill*", 5, 0).isEmpty)
    assertSameTopK(c, "fill*", 5)
    assert(c.impactCertifiedTopK("common rare or alpha", 5, 0).isEmpty) // non-flat
    assertSameTopK(c, "common rare or alpha", 5)
  }

  test("single-term serving never touches the postings store") {
    val c = build(300, cap = 64)
    val served = c.impactCertifiedTopK("common", 10, 0)
    assert(served.nonEmpty)
    val expected = pairs(served.get)
    // brutal proof: remove the postings partition and serve again — the
    // certified single-term path reads meta + sidecar + collstats + docs only
    val postingsPart = new java.io.File(
      graft.index.Stores.partitionPath(graft.index.Stores.postingsDir(c.root), "t"))
    val moved = new java.io.File(postingsPart.getParent, "collection=hidden")
    assert(postingsPart.renameTo(moved))
    try assert(pairs(c.impactCertifiedTopK("common", 10, 0).get) === expected)
    finally assert(moved.renameTo(postingsPart))
  }

  test("single-term certified serving plans no shuffle") {
    val c = build(300, cap = 64)
    c.impactCertifiedTopK("common", 10, 0) // warm the gate and meta caches
    var served: Option[DataFrame] = None
    val acts = TestSpark.actionsOf { served = c.impactCertifiedTopK("common", 10, 0) }
    assert(served.nonEmpty, "expected certified serve")
    // one rows-store row per (term, id): the per-doc scores need no aggregate
    acts.foreach { case (_, plan) =>
      assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"), plan)
    }
    assertSameTopK(c, "common", 10)
  }

  test("pure-insert delta keeps the sidecar exact and servable") {
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
    spark.conf.set("spark.graft.compact.auto", "false")
    try {
      val c = build(300, cap = 32)
      // new ids only, including docs that must ENTER the common top-k
      val batch = (1 to 40).map { i =>
        (f"n$i%05d", Seq.fill(200 + i)("common").mkString(" ") + " rare gamma")
      }
      c.addDf(batch.toDF("id", "content"))
      val served = c.impactCertifiedTopK("common", 10, 0)
      assert(served.nonEmpty, "pure insert must stay servable")
      // delta-born docs actually serve from the sidecar
      assert(served.get.select("id").as[String].collect().exists(_.startsWith("n")))
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "rare gamma", 5)
      assertSameTopK(c, "gamma", 5) // brand-new term, fully delta-born
    } finally {
      spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
      spark.conf.set("spark.graft.compact.auto", "true")
    }
  }

  test("gone-aware: an update delta KEEPS serving certified; compact() restores the exact meta") {
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
    spark.conf.set("spark.graft.compact.auto", "false")
    try {
      val c = build(300, cap = 32)
      // d00013 is a top-tf 'common' doc AND a 'rare' doc — replacing its
      // content exercises both removal (old terms) and birth (new terms)
      c.update(Seq("d00013"), Seq("totally different content now"))
      val served = c.impactCertifiedTopK("common", 10, 0)
      assert(served.nonEmpty,
        "gone-aware serving must stay certified through an update delta")
      assert(!served.get.select("id").as[String].collect().contains("d00013"),
        "the updated doc no longer matches its OLD terms")
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "rare", 5) // df shrank by the update — recounted
      // terms born in the update serve from the mirrored rows (no meta row
      // -> bound 0 -> completeness certificate)
      assert(c.impactCertifiedTopK("different", 3, 0).nonEmpty)
      assertSameTopK(c, "different", 3)
      // a pure insert while stale keeps the mirror regime (still serves)
      c.addDf(Seq(("n99901", Seq.fill(300)("common").mkString(" ") + " rare"))
        .toDF("id", "content"))
      assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty)
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "rare", 5)
      c.compact()
      assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty,
        "compact must re-derive the exact meta")
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "different", 3)
    } finally {
      spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
      spark.conf.set("spark.graft.compact.auto", "true")
    }
  }

  test("gone-aware: a delete delta KEEPS serving certified; deleted docs are provably gone") {
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
    spark.conf.set("spark.graft.compact.auto", "false")
    try {
      val c = build(300, cap = 32)
      // d00013/d00026: the two highest-ranked 'common' docs and 'rare' docs
      val before = c.impactCertifiedTopK("common", 10, 0)
      assert(before.nonEmpty)
      assert(before.get.select("id").as[String].collect().contains("d00013"))
      c.delete(Seq("d00013", "d00026"))
      val served = c.impactCertifiedTopK("common", 10, 0)
      assert(served.nonEmpty,
        "gone-aware serving must stay certified through a delete delta")
      val ids = served.get.select("id").as[String].collect().toSet
      assert(!ids.contains("d00013") && !ids.contains("d00026"))
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "rare", 5)    // df shrank by 2 — recounted exactly
      assertSameTopK(c, "common rare", 5) // multi-term through the mirror
      // a SECOND delete while already stale: the fingerprint-keyed df
      // cache must miss (new postings state) and the newly-deleted doc
      // must vanish — a cache serving the previous stale state would
      // keep it in the candidates and skew idf
      val next = c.impactCertifiedTopK("common", 1, 0).get
        .select("id").as[String].collect().head
      c.delete(Seq(next))
      val after = c.impactCertifiedTopK("common", 10, 0)
      assert(after.nonEmpty, "stale-on-stale delete must keep serving")
      assert(!after.get.select("id").as[String].collect().contains(next))
      assertSameTopK(c, "common", 10)
      assertSameTopK(c, "rare", 5)
      c.compact()
      assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty)
      assertSameTopK(c, "common", 10)
    } finally {
      spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
      spark.conf.set("spark.graft.compact.auto", "true")
    }
  }

  test("merge-path delete to EMPTY drops both impact stores, no orphans; rebuild re-registers") {
    // default directUpsertMaxBytes: the delete takes the merge-rewrite path,
    // whose sidecar re-derive sees an EMPTY postings frame — it must drop
    // BOTH stores (registration gone, impactParams() None, no orphaned
    // empty dirs), mirroring compact()'s emptied-collection branch, and a
    // later re-add + createImpactIndex must register cleanly again
    import graft.index.Stores
    val root = freshRoot()
    val c = Collection(spark, root, "t")
    c.addDf(corpus(50).toDF("id", "content"))
    c.createImpactIndex(cap = 16)
    assert(c.impactIndex() === Some(16))
    c.delete((1 to 50).map(i => f"d$i%05d"))
    assert(c.count() === 0L)
    assert(c.impactIndex() === None, "emptied corpus must drop the registration")
    assert(!Stores.partitionExists(spark, Stores.impactDir(root), "t"),
      "rows store dir must not be orphaned")
    assert(!Stores.partitionExists(spark, Stores.impactMetaDir(root), "t"),
      "meta store dir must not be orphaned")
    assert(c.searchTopK("common", 5).isEmpty) // serving survives the drop
    // re-populate with a certifiable corpus (≥ k high-tf docs, same bar as
    // the other lifecycle tests) and re-register
    c.addDf(corpus(200).toDF("id", "content"))
    c.createImpactIndex(cap = 32)
    assert(c.impactIndex() === Some(32))
    assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty,
      "re-created index must serve certified again")
    assertSameTopK(c, "common", 10)
  }

  test("small-collection merge path rebuilds the sidecar exactly") {
    // default directUpsertMaxBytes: updates/deletes take the merge-rewrite
    // path, which re-derives the sidecar — no staleness window at all
    val c = build(200, cap = 32)
    c.update(Seq("d00001"), Seq("fresh words here"))
    assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty,
      "merge path must leave a servable sidecar")
    assertSameTopK(c, "common", 10)
    c.delete(Seq("d00015", "d00014"))
    assert(c.impactCertifiedTopK("common", 10, 0).nonEmpty)
    assertSameTopK(c, "common", 10)
  }

  test("randomized corpora: a certificate NEVER disagrees with full scoring") {
    // Fixed-seed fuzz over tf-flat-ish random corpora, small caps, and k
    // far beyond the hit counts — the regimes where a wrong certificate
    // would hide (saturated tf-parts, under-full results, OR-dropped
    // leaves). Whatever the sidecar certifies must equal the full path;
    // whatever it declines must still be served exactly via fallback.
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    var served = 0
    var declined = 0
    for (trial <- 0 until 3) {
      val n = 150 + trial * 70
      val docs = (1 to n).map { i =>
        val body = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
        // a sparse term gives the certificates something provable: df stays
        // at or under the cap, so bound-0 and AND-completeness can fire
        (f"d$i%05d", if (i % 37 == 0) s"$body rarex" else body)
      }
      val c = Collection(spark, freshRoot(), "t")
      c.addDf(docs.toDF("id", "content"))
      c.createImpactIndex(cap = Seq(4, 16, 64)(trial))
      for (q <- Seq("aa", "bb cc", "dd or ee", "aa bb cc", "gg",
                    "rarex", "rarex aa", "rarex or zzmissing");
           k <- Seq(3, 500)) {
        val full = pairs(c.queryFrame(q, limit = k))
        c.impactCertifiedTopK(q, k, 0) match {
          case Some(f) =>
            served += 1
            assert(pairs(f) === full, s"trial=$trial q='$q' k=$k certified mismatch")
          case None =>
            declined += 1
            assert(pairs(c.searchTopK(q, k)) === full,
              s"trial=$trial q='$q' k=$k fallback mismatch")
        }
      }
    }
    info(s"certified serves: $served, fallbacks: $declined")
    assert(served > 0, "fuzz must exercise the certified path")
    assert(declined > 0, "fuzz must exercise the fallback path")
  }

  test("randomized mutations: gone-aware certificates never disagree with full scoring") {
    // The stale-df regime's end-to-end pin: random corpora, then a random
    // interleaving of deletes / updates / pure inserts on the DELTA path
    // (no compaction), checking certified-vs-full equality after every op.
    // This is where a wrong bound, a missed gone-claim, or a stale-df serve
    // would surface as a score or membership mismatch.
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
    spark.conf.set("spark.graft.compact.auto", "false")
    try {
      val rnd = new scala.util.Random(4321)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      var served = 0
      var declined = 0
      for (trial <- 0 until 2) {
        val n = 120 + trial * 60
        def doc(i: Int): String = {
          val body = Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" ")
          if (i % 23 == 0) s"$body rarex" else body
        }
        val c = Collection(spark, freshRoot(), "t")
        c.addDf((1 to n).map(i => (f"d$i%05d", doc(i))).toDF("id", "content"))
        c.createImpactIndex(cap = Seq(8, 32)(trial))
        var nextId = n
        for (op <- 0 until 4) {
          rnd.nextInt(3) match {
            case 0 => // delete a few random live docs (ok if already gone)
              c.delete(Seq.fill(3)(f"d${1 + rnd.nextInt(n)}%05d").distinct)
            case 1 => // update random docs to fresh random content
              val ids = Seq.fill(2)(f"d${1 + rnd.nextInt(n)}%05d").distinct
              c.update(ids, ids.map(_ => doc(rnd.nextInt(50))))
            case 2 => // pure insert while (possibly) stale
              nextId += 1
              c.addDf(Seq((f"d$nextId%05d", doc(nextId))).toDF("id", "content"))
          }
          for (q <- Seq("aa", "bb cc", "dd or ee", "rarex", "rarex aa");
               k <- Seq(3, 400)) {
            val full = pairs(c.queryFrame(q, limit = k))
            c.impactCertifiedTopK(q, k, 0) match {
              case Some(f) =>
                served += 1
                assert(pairs(f) === full,
                  s"trial=$trial op=$op q='$q' k=$k certified mismatch after mutation")
              case None =>
                declined += 1
                assert(pairs(c.searchTopK(q, k)) === full,
                  s"trial=$trial op=$op q='$q' k=$k fallback mismatch")
            }
          }
        }
      }
      info(s"gone-aware certified serves: $served, fallbacks: $declined")
      assert(served > 0, "mutation fuzz must exercise the gone-aware certified path")
    } finally {
      spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
      spark.conf.set("spark.graft.compact.auto", "true")
    }
  }

  test("createImpactIndex validates inputs") {
    val c = Collection(spark, freshRoot(), "t")
    intercept[IllegalArgumentException](c.createImpactIndex()) // empty collection
    val nf = Collection(spark, freshRoot(), "nf", useFts = false)
    nf.addDf(Seq(("a", "some text")).toDF("id", "content"))
    intercept[IllegalArgumentException](nf.createImpactIndex())
  }

  test("duplicate terms fail fast; huge k+offset falls back instead of wrapping") {
    import graft.exec.ImpactTopK
    // duplicate terms would make the AND arity filter (__m === live.size)
    // certify a WRONG empty answer — the contract rejects them up front
    val empty = spark.emptyDataFrame
    val e = intercept[IllegalArgumentException](ImpactTopK.certifiedTopK(
      empty, empty, empty, 10L, 5.0, Seq("a", "a"), isAnd = true, n = 5))
    assert(e.getMessage.contains("distinct"))
    // k + offset overflows Int: the certified arm must DECLINE (never wrap
    // negative and crash on its own n >= 1 require); the fallback then
    // surfaces Spark's own clear SUM_OF_LIMIT_AND_OFFSET analysis error —
    // byte-identical with what a sidecar-less collection does at this depth
    val c = build(60, cap = 16)
    assert(c.impactCertifiedTopK("common", Int.MaxValue, 2).isEmpty,
      "wrapped depth must decline, not crash")
    val ex = intercept[Exception](c.searchTopK("common", Int.MaxValue, 2).count())
    assert(ex.getMessage.contains("LIMIT"), ex.getMessage)
    // the largest LEGAL depth still serves (falls back on a failed
    // certificate, exactly like any other uncertifiable query)
    assert(c.searchTopK("common", Int.MaxValue - 2, 2).count() > 0)
  }

  test("ranked(): local pre-prune lowers to WindowGroupLimit and preserves rows+meta") {
    import graft.exec.ImpactTopK
    // adversarial spread: one hot term across MANY input partitions — the
    // local top-(cap+1) heaps must be lossless for both the cap cut and
    // the rank-cap bound row, with df still counted from the raw postings
    val post = (1 to 500).map(i => ("hot", f"d$i%04d", (i % 97).toLong, 50L))
      .toDF("term", "id", "tf", "dl").repartition(16)
    val cap = 8
    val r = ImpactTopK.ranked(post, cap)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    val rows = ImpactTopK.rowsFromRanked(r, cap).collect()
    assert(rows.length === cap)
    // top-cap by (tf desc, id asc) — recompute naively
    val naive = (1 to 500).map(i => (f"d$i%04d", (i % 97).toLong))
      .sortBy { case (id, tf) => (-tf, id) }.take(cap)
    assert(rows.map(x => (x.getString(1), x.getLong(2))).sortBy(naive.indexOf)
      .toSeq === naive)
    val meta = ImpactTopK.metaFromRanked(post, r, cap).collect().head
    assert(meta.getLong(1) === 500L, "df must count the RAW postings")
    assert(meta.getLong(2) === naive.last._2,
      "bound_tf must be the tf at rank cap")
  }
}
