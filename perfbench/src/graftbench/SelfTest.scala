package graftbench

import java.nio.file.Files
import java.security.MessageDigest

/** Tests of the benchmark itself: seed determinism, the tail rule, the
  * oracle's ability to reject wrong answers, and oracle-engine agreement on
  * tiny corpora of every workload. Prints one SELFTEST line per test and
  * exits 1 on any failure.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"SELFTEST ok $name") }
    catch { case e: Throwable => failures += 1; println(s"SELFTEST FAIL $name: ${e.getMessage}") }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def searchFingerprint(seed: Long): String = {
    val c = new Corpus(seed, 20000)
    sha((0 until 2000).iterator.map(c.searchDoc(_).toString) ++
      (0 until 50).iterator.flatMap(SearchOps.cycle(c, _)).map(_.toString))
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)

    test("search corpus and operations are byte-identical for one seed") {
      check(searchFingerprint(7) == searchFingerprint(7), "same seed, different bytes")
      check(searchFingerprint(7) != searchFingerprint(8), "different seeds, same bytes")
    }
    test("churn documents are byte-identical for one seed") {
      def fp(seed: Long) = { val c = new Corpus(seed, 20000)
        sha((0 until 200).iterator.map(i => c.churnDoc(s"c$i", s"b${i}x", i, (100, 200), 4096).toString)) }
      check(fp(7) == fp(7), "same seed, different bytes")
      check(fp(7) != fp(8), "different seeds, same bytes")
      val c = new Corpus(7, 20000)
      check(c.churnDoc("a", "m", 3, (100, 200), 0).content == c.churnDoc("a", "m", 3, (100, 200), 4096).content,
        "the blob changes the text")
    }
    test("tail: highest percentile with at least ten samples beyond it") {
      val t100 = Stats.tail((1 to 100).map(_.toDouble))
      check(t100.value == 90.0 && t100.percentile == 90.0 && t100.beyond == 10 && t100.ruleMet, s"1..100 -> $t100")
      val t11 = Stats.tail((1 to 11).map(_.toDouble))
      check(t11.value == 1.0 && t11.beyond == 10 && t11.ruleMet, s"1..11 -> $t11")
      val t10 = Stats.tail((1 to 10).map(_.toDouble))
      check(t10.value == 10.0 && !t10.ruleMet, s"1..10 -> $t10")
      // ties at the boundary push the tail down to keep ten strictly above
      val tied = Stats.tail((1 to 20).map(_.toDouble) ++ Seq(11.0, 11.0))
      check(tied.value == 10.0 && tied.beyond == 12, s"ties -> $tied")
      check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
    }
    test("oracle rejects wrong pages") {
      val exp = Expected(3, IndexedSeq(("a", 3.0), ("b", 2.0), ("c", 1.0)))
      check(Oracle.checkPage(Seq(("a", 3.0), ("b", 2.0)), Some(3), exp, 0, 2).isEmpty, "correct page rejected")
      check(Oracle.checkPage(Seq(("b", 2.0), ("a", 3.0)), Some(3), exp, 0, 2).nonEmpty, "swapped order accepted")
      check(Oracle.checkPage(Seq(("a", 3.0), ("b", 2.0)), Some(4), exp, 0, 2).nonEmpty, "wrong total accepted")
      check(Oracle.checkPage(Seq(("a", 3.0), ("x", 2.0)), Some(3), exp, 0, 2).nonEmpty, "non-match accepted")
      check(Oracle.checkPage(Seq(("a", 3.0), ("b", 2.5)), Some(3), exp, 0, 2).nonEmpty, "wrong rank accepted")
      check(Oracle.checkPage(Seq(("c", 1.0)), Some(3), exp, 2, 2).isEmpty, "last page rejected")
      val tie = Expected(2, IndexedSeq(("a", 1.0), ("b", 1.0)))
      check(Oracle.checkPage(Seq(("b", 1.0), ("a", 1.0)), None, tie, 0, 2).nonEmpty, "tie out of id order accepted")
    }

    val spark = Main.session(args.int("cpus"), args.work)
    try {
      val tiny = Map("docs" -> "300", "vocab" -> "60", "ann_recall_floor" -> "0.0",
        "tokens_min" -> "10", "tokens_max" -> "30", "blob_bytes" -> "64", "add_batch" -> "20",
        "delete_batch" -> "5", "min_store_mb" -> "0", "dup_groups" -> "10")
      def ctxFor(w: String, seed: Long) = new Ctx(spark, args.copy(workload = w, seed = seed,
        work = Files.createDirectories(args.work.resolve(s"$w-$seed")), params = args.params ++ tiny))

      test("churn operation sequence is identical for one seed") {
        def fp(seed: Long) = sha(new ChurnWorkload(ctxFor("churn", seed)).simulate(5).iterator.map(_.toString))
        check(fp(7) == fp(7), "same seed, different plans")
        check(fp(7) != fp(8), "different seeds, same plans")
      }
      test("oracle agrees with the engine on a tiny search corpus") {
        val ctx = ctxFor("search", 3)
        val w = new SearchWorkload(ctx)
        w.setup()
        (0 until 4).foreach(w.round)
        check(ctx.attempted == 40, s"${ctx.attempted} reads")
        check(ctx.failed == 0, s"${ctx.failed} of ${ctx.attempted} reads disagree")
      }
      test("dedup removes exactly the planted copies of a tiny build corpus") {
        val ctx = ctxFor("build", 3)
        val w = new BuildWorkload(ctx)
        w.setup()
        w.round(0)
        check(ctx.failed == 0, s"${ctx.failed} of ${ctx.attempted} build steps disagree")
      }
      test("oracle agrees with the engine on a tiny churned collection") {
        val ctx = ctxFor("churn", 3)
        val w = new ChurnWorkload(ctx)
        w.setup()
        (0 until 3).foreach(w.round)
        w.finish()
        check(ctx.failed == 0, s"${ctx.failed} of ${ctx.attempted} operations disagree")
      }
    } finally spark.stop()
    println(s"SELFTEST ${if (failures == 0) "passed" else s"failed $failures"}")
    if (failures > 0) sys.exit(1)
  }
}
