package graft

import graft.api.Collection
import graft.exec.Bm25
import graft.index.Stores
import graft.model.{OrderBy, QueryResult}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two BM25 arms: the driver arm (the query's postings slice scored in
  * the driver) and the distributed arm (column arithmetic) must give the
  * same ids, order, total and ranks; the slice bound must hold.
  */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-bm25-").toString

  test("driver idf and tf-part equal Spark's Column arithmetic bit for bit") {
    val rnd = new scala.util.Random(99)
    val grid = for {
      nDocs <- Seq(1L, 7L, 4000L, 123457L, 1L << 40)
      df <- Seq(1L, 2L, 3L, nDocs / 3 + 1, nDocs).filter(_ <= nDocs).distinct
      tf <- Seq(1L, 2L, 5L, 17L, 1000L)
      dl <- Seq(0L, 1L, 13L, 250L, 99991L)
      avgDl <- Seq(1.0, 13.75, 21.333333333333332, rnd.nextDouble() * 500 + 0.5)
    } yield (nDocs, df, tf, dl, avgDl)
    val frame = grid.toDF("n_docs", "df", "tf", "dl", "avg_dl")
    val cols = Seq(Bm25.idfCol(col("n_docs"), col("df")).as("idf"),
      Bm25.tfPartCol(col("avg_dl")).as("tfp"))
    // interpreted (a local relation's projection folds on the driver) and
    // generated code (the repartition keeps the projection in a stage)
    for (f <- Seq(frame, frame.repartition(2))) {
      val got = f.select(cols ++ Seq("n_docs", "df", "tf", "dl", "avg_dl").map(col): _*)
        .collect()
      assert(got.length === grid.size)
      got.foreach { r =>
        val (n, d, tf, dl, a) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))
        assert(java.lang.Double.doubleToRawLongBits(Bm25.idf(n, d)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(0)), s"idf($n, $d)")
        assert(java.lang.Double.doubleToRawLongBits(Bm25.tfPart(tf, dl, a)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"tfPart($tf, $dl, $a)")
      }
    }
  }

  /** Distinct scoring leaves of `q` (how exactly the arms must agree). */
  private def leafCount(q: String): Int =
    graft.parse.QueryParser.parse(q).map(graft.model.BoolQuery.leaves(_).distinct.size)
      .getOrElse(0)

  /** The two arms' (id, rank) sequences agree: same ids in the same order,
    * ranks bit-identical for one or two leaves and within 1e-12 relative
    * otherwise (summation order). Beyond two leaves, two docs whose ranks
    * are that close may be ordered by the last ulp, so a position may then
    * hold the other doc of the near tie.
    */
  private def assertSameHits(driver: Seq[(String, Option[Double])],
                             dist: Seq[(String, Option[Double])], leaves: Int,
                             ctx: String): Unit = {
    assert(driver.size === dist.size, ctx)
    assert(driver.map(_._1).sorted === dist.map(_._1).sorted, ctx)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    driver.zip(dist).foreach { case ((id1, r1), (id2, r2)) =>
      if (leaves <= 2) assert((id1, r1) === (id2, r2), ctx)
      else {
        assert(r1.isDefined === r2.isDefined, ctx)
        for (a <- r1; b <- r2) assert(close(a, b), s"$ctx: $id1 $a vs $id2 $b")
        if (id1 != id2) {
          val rank = (driver ++ dist).toMap
          assert(close(rank(id1).get, rank(id2).get), s"$ctx: $id1 vs $id2")
        }
      }
    }
  }

  private def hits(r: QueryResult): Seq[(String, Option[Double])] =
    r.results.map(h => (h.id, h.rank))

  private def frameHits(df: org.apache.spark.sql.DataFrame): Seq[(String, Option[Double])] =
    df.collect().toSeq.map(r => (r.getString(0), if (r.isNullAt(3)) None else Some(r.getDouble(3))))

  test("the driver and distributed arms agree: every query shape, call option and store state") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("aa", "bb", "cc", "dd", "car", "card", "cart", "cat", "scar")
    def doc(i: Int): (String, String, Map[String, String]) = {
      val body = Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (f"d$i%04d", body, Map("k" -> (i % 3).toString, "n" -> (i % 7).toString))
    }
    val queries = Seq("aa", "aa bb", "aa or bb", "aa bb or cc", "aa or bb cc", "car*",
      "c*t", "*ar", "ca*d or dd", "zz", "aa zz", "zz or bb", "aa bb cc dd",
      "car* or aa or bb", "c*r* aa")
    def check(c: Collection, state: String): Unit = {
      val d = c.withSliceMaxRows(-1)
      for (q <- queries) {
        val n = leafCount(q)
        val calls: Seq[(String, Collection => Seq[(String, Option[Double])])] = Seq(
          "limit 10" -> (h => hits(h.query(q, limit = 10))),
          "where+offset" -> (h => hits(h.query(q, limit = 5, offset = 3,
            where = Map("k" -> "1")))),
          "limit 0" -> (h => hits(h.query(q))),
          "orderBy" -> (h => hits(h.query(q, limit = 6, orderBy = OrderBy(Seq("-n"))))),
          "queryFrame" -> (h => frameHits(h.queryFrame(q, limit = 10, offset = 2))),
          "searchTopK" -> (h => frameHits(h.searchTopK(q, 5))))
        for ((name, call) <- calls)
          assertSameHits(call(c), call(d), n, s"$state '$q' $name")
        assert(c.query(q, limit = 3).total === d.query(q, limit = 3).total, s"$state '$q' total")
        assert(c.queryFrame(q).count() === d.queryFrame(q).count(), s"$state '$q' count")
      }
    }
    // a fresh collection (one merge-path base)
    val plain = Collection(spark, freshRoot(), "t")
    val first = (1 to 120).map(doc)
    plain.add(first.map(_._2), ids = Some(first.map(_._1)), metadatas = Some(first.map(_._3)))
    check(plain, "plain")
    // delta segments (upsert, update, delete) plus a crash-residue posting
    // whose id has no docs row: both arms count it in df, neither returns it
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      val c = Collection(spark, freshRoot(), "t")
      c.add(first.map(_._2), ids = Some(first.map(_._1)), metadatas = Some(first.map(_._3)))
      val more = (100 to 160).map(doc)
      c.add(more.map(_._2), ids = Some(more.map(_._1)), metadatas = Some(more.map(_._3)))
      c.delete((1 to 120 by 9).map(i => f"d$i%04d"))
      Stores.appendDelta(spark, Stores.postingsDir(c.root), "t",
        Seq(("aa", "ghost", 3L, 4L), ("card", "ghost", 1L, 4L)).toDF("term", "id", "tf", "dl"))
      assert(Stores.deltaCount(spark, Stores.docsDir(c.root), "t") >= 2)
      assert(c.query("aa").results.forall(_.id != "ghost"))
      check(c, "delta")
    }
  }

  test("an over-bound slice takes the distributed arm: bounded collect, same answer, one INFO line") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    val c = Collection(spark, freshRoot(), "t")
    c.add((1 to 20).map(i => if (i % 4 == 0) s"hot rare$i" else s"hot filler w$i"),
      ids = Some((1 to 20).map(i => f"d$i%02d")))
    c.query("hot", limit = 5) // memoizes the collstats value
    val bound = 3
    val small = c.withSliceMaxRows(bound)
    val forced = c.withSliceMaxRows(-1)
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("graft-bm25-bound", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.startsWith("graft.exec.Bm25"))
          events.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    val loggerName = Bm25.getClass.getName
    val prevLevel = LogManager.getLogger(loggerName).getLevel
    rootCfg.addAppender(appender, Level.INFO, null)
    Configurator.setLevel(loggerName, Level.INFO)
    ctx.updateLoggers()
    try {
      // "hot" has 20 postings: over the bound of 3
      var got: QueryResult = null
      val acts = TestSpark.actionsOf { got = small.query("hot", limit = 5) }
      val slices = acts.map(_._2).filter(_.contains("CollectLimit"))
      assert(slices.size === 1, acts.mkString("\n"))
      assert(slices.head.contains(s"CollectLimit ${bound + 1}"), slices.head)
      // then the distributed arm's plan: the page action scans postings
      val page = acts.map(_._2).filterNot(_.contains("CollectLimit"))
      assert(page.size === 1 && page.head.contains("postings"), page.mkString("\n"))
      assert(events.size === 1, events.toArray.mkString("\n"))
      assert(events.get(0).contains(s"more than $bound rows"), events.get(0))
      assert(got.total === 20L)
      assert(hits(got) === hits(c.query("hot", limit = 5)))
      assert(hits(got) === hits(forced.query("hot", limit = 5)))
      // the over-bound outcome is remembered under the postings
      // fingerprint: a repeat (or a smaller bound) collects nothing and
      // logs nothing; a larger bound collects again
      events.clear()
      for (h <- Seq(small, c.withSliceMaxRows(bound - 1))) {
        val again = TestSpark.actionsOf { got = h.query("hot", limit = 5) }
        assert(again.size === 1 && again.head._2.contains("postings"), again.mkString("\n"))
        assert(hits(got) === hits(forced.query("hot", limit = 5)))
      }
      assert(events.isEmpty, events.toArray.mkString("\n"))
      val wider = TestSpark.actionsOf { got = c.withSliceMaxRows(20).query("hot", limit = 5) }
      assert(wider.size === 2 && wider.head._2.contains("CollectLimit 21"), wider.mkString("\n"))
      assert(hits(got) === hits(forced.query("hot", limit = 5)))
      // a postings write changes the fingerprint: the slice is collected again
      c.add(Seq("hot again"), ids = Some(Seq("d21")))
      val fresh = TestSpark.actionsOf { got = small.query("hot", limit = 5) }
      assert(fresh.count(_._2.contains(s"CollectLimit ${bound + 1}")) === 1, fresh.mkString("\n"))
      assert(got.total === 21L)
      assert(events.size === 1, events.toArray.mkString("\n"))
      // a slice within the bound stays on the driver: no postings in the page
      events.clear()
      val acts2 = TestSpark.actionsOf { got = small.query("rare8 or rare12", limit = 5) }
      assert(acts2.size === 2 && !acts2(1)._2.contains("postings"), acts2.mkString("\n"))
      assert(events.isEmpty, events.toArray.mkString("\n"))
      assert(hits(got) === hits(forced.query("rare8 or rare12", limit = 5)))
    } finally {
      Configurator.setLevel(loggerName, prevLevel)
      rootCfg.removeAppender("graft-bm25-bound")
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
