package graft

import graft.ext.{Ann, ByteStatsDecoder, Dedup, Graphs, Json, Multimodal, Pipeline, Quantize, TextStats, Web}
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for the ext/ layer (dedup, ANN, text stats, multimodal,
  * streaming) on small hand-checkable fixtures.
  */
class ExtSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = Seq(
    "d1" -> "the quick brown fox jumps over the lazy dog near the river bank",
    "d2" -> "the quick brown fox jumps over the lazy dog near the river shore", // near-dup of d1
    "d3" -> "completely different text about spark query engines and shuffles",
    "d4" -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of d1
    "d5" -> "tiny doc"
  )
  private def docs = base.toDF("id", "content")

  test("exactDupPairs: identical content collapses to (keep, dup)") {
    val pairs = Dedup.exactDupPairs(docs).collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSet === Set(("d1", "d4")))
  }

  test("dropExactDups / dropNearDups return the deduplicated corpus") {
    val kept = Dedup.dropExactDups(docs).select("id").as[String].collect().toSet
    assert(kept === Set("d1", "d2", "d3", "d5")) // d4 (exact dup of d1) dropped
    val near = Dedup.dropNearDups(docs, Dedup.minHashDupPairs(docs, threshold = 0.5))
      .select("id").as[String].collect().toSet
    assert(near === Set("d1", "d3", "d5")) // d2 and d4 both pair with d1
  }

  test("minHashDupPairs finds the planted near-dup and no unrelated pair") {
    val pairs = Dedup.minHashDupPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2")))
    assert(pairs.contains(("d1", "d4")) && pairs.contains(("d2", "d4"))) // exact dup too
    assert(!pairs.exists(p => p._1 == "d3" || p._2 == "d3"))
  }

  test("dedupCorpus: one survivor per cluster; short exact dups collapse too") {
    // d1≈d2 (near), d1=d4 (exact) → keep d1; d3, d5, d6 untouched... except
    // d5=d6: byte-identical TWO-TOKEN docs (shingle set EMPTY at n=3 — no
    // minhash pair possible), which only the exact-pair arm can collapse
    val corpus = (base :+ ("d6" -> "tiny doc")).toDF("id", "content")
    val kept = Dedup.dedupCorpus(corpus, threshold = 0.5)
      .select("id").as[String].collect().toSet
    assert(kept === Set("d1", "d3", "d5"))
  }

  test("dedupCorpusBy: keeps the highest-scoring doc per cluster; ties fall to min id") {
    // d1≈d2≈d4 one cluster (d4=d1 exact); scores pick d2 over min-id d1
    val scored = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog near the river bank", 10L),
      ("d2", "the quick brown fox jumps over the lazy dog near the river shore", 99L),
      ("d3", "completely different text about spark query engines and shuffles", 1L),
      ("d4", "the quick brown fox jumps over the lazy dog near the river bank", 10L)
    ).toDF("id", "content", "score")
    val kept = Dedup.dedupCorpusBy(scored, "score", threshold = 0.5)
      .select("id").as[String].collect().toSet
    assert(kept === Set("d2", "d3"))
    // equal scores degenerate to dedupCorpus (min id)
    val flat = Dedup.dedupCorpusBy(scored.withColumn("score", lit(1L)), "score",
      threshold = 0.5).select("id").as[String].collect().toSet
    assert(flat === Dedup.dedupCorpus(scored, threshold = 0.5)
      .select("id").as[String].collect().toSet)
  }

  test("dedupStream: batch mode distinct; streaming drops in-watermark duplicates") {
    // batch/backfill mode
    val ev = Seq((1L, "click", "2024-01-01 00:00:00"),
      (1L, "click", "2024-01-01 00:05:00"), // dup key
      (1L, "view", "2024-01-01 00:06:00"),
      (2L, "click", "2024-01-01 00:07:00"))
      .toDF("user_id", "event_type", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val got = EventStreams.dedupStream(ev, Seq("user_id", "event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "click"), (1L, "view"), (2L, "click")))
    // streaming mode: duplicate inside the watermark window is dropped
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("user_id", "event_type", "ts")
    val q = EventStreams.dedupStream(src, Seq("user_id", "event_type"),
        watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, "click", t("2024-01-01 00:00:00")),
      (1L, "click", t("2024-01-01 00:02:00")), // dup within watermark
      (2L, "view", t("2024-01-01 00:03:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT user_id, event_type FROM dedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "click"), (2L, "view")))
  }

  test("BucketJaccardPairs generator: exact threshold boundary, early-exit parity") {
    import graft.functions.HashFunctions
    // A={1..9}, B={2..10}: |A∩B|=8, J = 8/10 = 0.8 EXACTLY; C disjoint
    val rows = Seq(
      ("a", (1L to 9L).toSeq), ("b", (2L to 10L).toSeq),
      ("c", Seq(100L, 101L, 102L)))
      .toDF("id", "shh")
    def pairsAt(t: Double) = rows
      .agg(sort_array(collect_list(struct(col("id"), col("shh")))).as("docs"))
      .select(HashFunctions.bucketJaccardPairs(col("docs"), t)
        .as(Seq("id_a", "id_b", "jaccard")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(pairsAt(0.8) === Set(("a", "b", 0.8)), "J == t must qualify")
    assert(pairsAt(0.81) === Set.empty, "just above the boundary must not")
    // t = 0 emits every pair including disjoint ones at J = 0
    assert(pairsAt(0.0) === Set(("a", "b", 0.8), ("a", "c", 0.0), ("b", "c", 0.0)))
    // t = 1 keeps only identical sets
    val dup = Seq(("x", Seq(1L, 2L)), ("y", Seq(1L, 2L)), ("z", Seq(1L, 3L)))
      .toDF("id", "shh")
      .agg(sort_array(collect_list(struct(col("id"), col("shh")))).as("docs"))
      .select(HashFunctions.bucketJaccardPairs(col("docs"), 1.0)
        .as(Seq("id_a", "id_b", "jaccard")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(dup === Set(("x", "y", 1.0)))
  }

  test("scrubPii: counts on original, token replacement in pattern order") {
    val df = Seq(
      ("p1", "mail a@b.co and c.d+e@f-g.org, call +4915551234567, host 10.0.0.1 ok"),
      ("p2", "no pii here, just 1.2 numbers and an @ sign"),
      ("p3", "+123456789 twice +987654321 and ip 255.255.255.255")
    ).toDF("id", "content")
    val out = TextStats.scrubPii(df).collect().map(r =>
      r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(1))).toMap
    // columns: id, content(scrubbed), n_email, n_ip, n_phone
    val byName = TextStats.scrubPii(df).columns.toSeq
    assert(byName === Seq("id", "content", "n_email", "n_ip", "n_phone"))
    val p1 = out("p1")
    assert((p1._1, p1._2, p1._3) === ((2L, 1L, 1L)))
    assert(p1._4 === "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP> ok")
    val p2 = out("p2")
    assert((p2._1, p2._2, p2._3) === ((0L, 0L, 0L)))
    assert(p2._4 === "no pii here, just 1.2 numbers and an @ sign")
    val p3 = out("p3")
    assert((p3._1, p3._2, p3._3) === ((0L, 1L, 2L)))
    assert(p3._4 === "<PHONE> twice <PHONE> and ip <IP>")
  }

  test("sampleStratified: deterministic, stratum-independent, default drops") {
    val rows = (0 until 2000).map(i => (s"doc$i", if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val fracs = Map("en" -> 0.5, "de" -> 0.2)
    val once = Pipeline.sampleStratified(rows, "lang", fracs)
      .select("id").as[String].collect().toSet
    val twice = Pipeline.sampleStratified(rows, "lang", fracs)
      .select("id").as[String].collect().toSet
    assert(once === twice, "membership must be a pure function of the id")
    // fractions approximately honored (md5 uniformity; 1000 per stratum)
    val en = once.count(_.stripPrefix("doc").toInt % 2 == 0)
    val de = once.size - en
    assert(math.abs(en / 1000.0 - 0.5) < 0.08, s"en fraction off: $en")
    assert(math.abs(de / 1000.0 - 0.2) < 0.08, s"de fraction off: $de")
    // changing ANOTHER stratum's fraction must not churn this stratum's set
    val enOnly = Pipeline.sampleStratified(rows, "lang", Map("en" -> 0.5))
      .select("id").as[String].collect().toSet
    assert(enOnly === once.filter(_.stripPrefix("doc").toInt % 2 == 0))
    // absent stratum + default 0.0 -> dropped entirely
    assert(!enOnly.exists(_.stripPrefix("doc").toInt % 2 == 1))
  }

  test("packSequences: per-shard running offsets cut into budget-sized bins") {
    // single shard => offsets are prefix sums in id order
    val d = Seq(("a", "w " * 30), ("b", "w " * 40), ("c", "w " * 50), ("d", "w"))
      .toDF("id", "content")
    val packed = Pipeline.packSequences(d, budget = 64, shards = 1)
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(packed === Array(
      ("a", 30L, 0L, 0L),    // [0, 30)
      ("b", 40L, 30L, 0L),   // starts at 30, still bin 0 (straddles into 1)
      ("c", 50L, 70L, 1L),   // starts at 70 -> bin 1
      ("d", 1L, 120L, 1L)))
    // packStats: doc-start mass per bin
    val stats = Pipeline.packStats(
      Pipeline.packSequences(d, budget = 64, shards = 1), budget = 64)
      .orderBy("bin").collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats === Array((0L, 2L, 70L), (1L, 2L, 51L)))
    // sharding partitions the id set; every doc appears exactly once
    val sharded = Pipeline.packSequences(d, budget = 64, shards = 4)
    assert(sharded.select("id").as[String].collect().sorted === Array("a", "b", "c", "d"))
  }

  test("mixCorpora: fractions derive from token totals; saturation keeps all") {
    // A: 100 docs x 10 tokens = 1000; B: 50 x 10 = 500
    val rows = (0 until 100).map(i => (s"a$i", ("w " * 10).trim, "A")) ++
      (0 until 50).map(i => (s"b$i", ("w " * 10).trim, "B"))
    val d = rows.toDF("id", "content", "source")
    // budget 800 split 50/50 -> target 400 each -> fracA 0.4, fracB 0.8
    val mixed = Pipeline.mixCorpora(d, "source", Map("A" -> 0.5, "B" -> 0.5), 800)
      .select("id").as[String].collect().toSet
    // the mechanism IS sampleStratified at the derived fractions
    val expect = Pipeline.sampleStratified(d, "source",
      Map("A" -> 0.4, "B" -> 0.8)).select("id").as[String].collect().toSet
    assert(mixed === expect)
    assert(mixed === Pipeline.mixCorpora(d, "source", Map("A" -> 0.5, "B" -> 0.5), 800)
      .select("id").as[String].collect().toSet, "deterministic")
    // ample budget -> every source saturates at fraction 1.0
    val all = Pipeline.mixCorpora(d, "source", Map("A" -> 0.5, "B" -> 0.5), 100000)
    assert(all.count() === 150)
    // sources outside the weight spec are dropped
    val withC = (rows :+ (("c1", "w w", "C"))).toDF("id", "content", "source")
    assert(!Pipeline.mixCorpora(withC, "source", Map("A" -> 1.0), 100000)
      .select("source").as[String].collect().contains("C"))
    // a weighted source whose EVERY doc has null content sums to NULL
    // tokens — must mix as 0 tokens (keep nothing), not crash the driver
    val withNull = (rows :+ (("n1", null: String, "N"))).toDF("id", "content", "source")
    val nulled = Pipeline.mixCorpora(withNull, "source",
      Map("A" -> 0.5, "N" -> 0.5), 800).select("source").as[String].collect()
    assert(!nulled.contains("N") && nulled.nonEmpty)
  }

  test("repetition: duplicate lines and top-2-gram coverage, hand-checked") {
    val d = Seq(
      // 4 non-empty lines, 1 duplicated -> dup_line_frac 0.25;
      // "spam spam spam spam" -> top 2-gram "spam spam" tf=3 of 7 tokens
      ("r1", "spam spam spam spam\nother line\nother line\n\nlast words"),
      ("r2", "all distinct tokens here"), // top tf 1, frac 2/4
      ("r3", "x")                         // < n tokens: tf 0, frac 0
    ).toDF("id", "content")
    val got = TextStats.repetition(d, n = 2).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(r.fieldIndex("n_lines")),
        math.round(r.getDouble(r.fieldIndex("dup_line_frac")) * 1e6) / 1e6,
        r.getLong(r.fieldIndex("top_ngram_tf")),
        math.round(r.getDouble(r.fieldIndex("top_ngram_frac")) * 1e6) / 1e6))
    assert(got === Array(
      ("r1", 4L, 0.25, 3L, 0.6), // 10 tokens, "spam spam" tf 3 -> 6/10
      ("r2", 1L, 0.0, 1L, 0.5),
      ("r3", 1L, 0.0, 0L, 0.0)))
  }

  test("stripBoilerplate: short, low-alpha, and boundary lines hand-checked") {
    val d = Seq(
      ("b1", "Home | About | Contact\n>>> *** <<<\nok\nthis is real prose content\n(c) 2024"),
      ("b2", "1234567890 12\nalpha bravo charlie"), // digits-only fails ratio
      ("b3", ""),                                   // one empty line, dropped
      ("b4", null.asInstanceOf[String])
    ).toDF("id", "content")
    val got = TextStats.stripBoilerplate(d).orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(r.fieldIndex("content_clean")),
        r.getLong(r.fieldIndex("n_lines_kept")), r.getLong(r.fieldIndex("n_lines_total"))))
    assert(got(0) === (("b1",
      // nav line: len 22, 16 alpha >= 11 -> kept (length/alpha filter, not
      // semantic); ">>> *** <<<" alpha 0 -> dropped; "ok" len 2 -> dropped;
      // "(c) 2024" len 8 -> dropped
      "Home | About | Contact\nthis is real prose content", 2L, 5L)))
    assert(got(1) === (("b2", "alpha bravo charlie", 1L, 2L)))
    assert(got(2) === (("b3", "", 0L, 1L)))
    assert(got(3) === (("b4", null, 0L, 0L)))
  }

  test("dedupLinesCorpus: cross-doc, within-doc, trim-keyed, and null edges") {
    val d = Seq(
      ("la", "keep me alone\nshared line\nkeep a"),
      ("lb", "shared line\nkeep b\n\n   "),          // empty/whitespace lines kept
      ("lc", "same twice\nsame twice\nkeep c"),      // within-doc repeat counts toward df
      ("ld", null.asInstanceOf[String]),
      ("le", "  shared line  \nkeep e")              // trim-keyed match, df=3 with la/lb
    ).toDF("id", "content")
    val got = Dedup.dedupLinesCorpus(d).orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(r.fieldIndex("content_dedup")),
        r.getLong(r.fieldIndex("n_lines_kept")), r.getLong(r.fieldIndex("n_lines_total"))))
    assert(got(0) === (("la", "keep me alone\nkeep a", 2L, 3L)))
    assert(got(1) === (("lb", "keep b\n\n   ", 3L, 4L)))
    assert(got(2) === (("lc", "keep c", 1L, 3L)))
    assert(got(3) === (("ld", null, 0L, 0L)))
    assert(got(4) === (("le", "keep e", 1L, 2L)))
  }

  test("dedupLinesCorpus: fully-boilerplate doc empties; no dups is identity") {
    val d = Seq(("f1", "only this\nonly this"), ("f2", "untouched text")).toDF("id", "content")
    val got = Dedup.dedupLinesCorpus(d).orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(r.fieldIndex("content_dedup")),
        r.getLong(r.fieldIndex("n_lines_kept"))))
    assert(got(0) === (("f1", "", 0L)))
    assert(got(1) === (("f2", "untouched text", 1L)))
  }

  test("maxMultiplicity: empty/null/tie edge cases match the HOF count") {
    import graft.functions.HashFunctions
    val d = Seq(
      ("e", Seq.empty[String]),                       // empty -> 0
      ("one", Seq("a")),                              // singleton -> 1
      ("tie", Seq("a", "b", "a", "b")),               // tie -> 2
      ("run", Seq("x", "x", "x", "y"))                // clear max -> 3
    ).toDF("id", "arr")
    val got = d.select(col("id"), HashFunctions.maxMultiplicity(col("arr")).as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("e" -> 0L, "one" -> 1L, "tie" -> 2L, "run" -> 3L))
    // null elements are skipped, not counted
    val withNull = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'a', CAST(NULL AS STRING), CAST(NULL AS STRING)) AS arr")
    assert(withNull.select(HashFunctions.maxMultiplicity(col("arr")))
      .head().getLong(0) === 2L)
  }

  test("contaminationHits / decontaminate: shared n-grams flag the leak") {
    val corpus = Seq(
      ("t1", "alpha beta gamma delta epsilon zeta"), // contains bench 4-gram
      ("t2", "totally unrelated words here now ok"),
      ("t3", "beta gamma delta epsilon something else") // same 4-gram again
    ).toDF("id", "content")
    val bench = Seq(("b1", "xx beta gamma delta epsilon yy")).toDF("id", "content")
    val hits = Pipeline.contaminationHits(corpus, bench, n = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(hits === Set(("t1", "b1", 1L), ("t3", "b1", 1L)))
    val clean = Pipeline.decontaminate(corpus, bench, n = 4)
      .select("id").as[String].collect().toSet
    assert(clean === Set("t2"))
    // below threshold: minHits=2 keeps single-gram overlaps
    val lax = Pipeline.decontaminate(corpus, bench, n = 4, minHits = 2)
      .select("id").as[String].collect().toSet
    assert(lax === Set("t1", "t2", "t3"))
  }

  test("dupClusters: connected components assign min reachable id") {
    // chain a-b, b-c plus isolated pair x-y => clusters {a,b,c}->a, {x,y}->x
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("dupClusters: 10k-node chain converges in O(log n) star rounds") {
    // a path graph is the worst case for label propagation (diameter = n);
    // star contraction must finish well inside maxIter = 20 ≈ log2(10k) + slack
    val n = 10000
    val chain = (0 until n - 1)
      .map(i => (f"n$i%05d", f"n${i + 1}%05d")).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(chain, maxIter = 20)
    assert(got.count() === n)
    assert(got.select("cluster").distinct().collect().map(_.getString(0)).toSeq === Seq("n00000"))
  }

  test("ngramJaccardPairs matches brute-force jaccard exactly") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.1)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    // d1 vs d4 identical -> 1.0
    assert(pairs(("d1", "d4")) === 1.0)
    // d1 vs d2: 11 distinct 3-gram shingles each, 10 shared (last differs)
    assert(math.abs(pairs(("d1", "d2")) - 10.0 / 12.0) < 1e-12)
  }

  test("simHash: identical docs hamming 0; near-dups within small distance") {
    val pairs = Dedup.simHashDupPairs(docs, maxHamming = 16)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(pairs(("d1", "d4")) === 0L)
    assert(pairs.get(("d1", "d2")).exists(_ <= 16L))
    assert(!pairs.keySet.exists(p => p._1 == "d3" || p._2 == "d3"))
  }

  private def vecCorpus = Seq(
    ("v1", Seq(1f, 0f, 0f, 0f)),
    ("v2", Seq(0.9f, 0.1f, 0f, 0f)),
    ("v3", Seq(0f, 1f, 0f, 0f)),
    ("v4", Seq(0f, 0f, 1f, 0f)),
    ("v5", Seq(-1f, 0f, 0f, 0f))
  ).toDF("id", "embedding")

  test("native shingle expression matches the HOF reference formulation") {
    import graft.functions.TextFunctions
    val df = (base :+ ("d6" -> "a b")).toDF("id", "content")
    val toks = TextFunctions.tokens(col("content"))
    val rows = df.select(
      array_sort(TextFunctions.shingles(toks, 3)).as("native"),
      array_sort(TextFunctions.shinglesHof(toks, 3)).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("Ann.exactTopK ranks by cosine with deterministic ties") {
    val top = Ann.exactTopK(vecCorpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 3)
      .orderBy("rn").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(top.toSeq === Seq((1, "v1"), (2, "v2"), (3, "v3")))
  }

  test("Ann.exactTopKAll (DataFrame query batch) agrees with exactTopK") {
    val qdf = Seq(("q", Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    val a = Ann.exactTopKAll(vecCorpus, qdf, k = 3)
      .orderBy("rn").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(a.toSeq === Seq((1, "v1"), (2, "v2"), (3, "v3")))
  }

  test("Ann.lshTopK achieves full recall on separated clusters") {
    val exact = Ann.exactTopK(vecCorpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 2)
    val approx = Ann.lshTopK(vecCorpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 2,
      numTables = 8, numPlanes = 4, dim = 4)
    assert(Ann.recallAtK(exact, approx) >= 0.5) // v1 must share all-bits bucket with q
    val ids = approx.select("id").as[String].collect().toSet
    assert(ids.contains("v1"))
  }

  test("Ivf: spherical k-means separates orthogonal clusters; probe finds true neighbors") {
    import graft.ext.Ivf
    // three well-separated directions, a handful of vectors around each
    val corpus = Seq(
      ("a1", Seq(1f, 0f, 0f, 0f)), ("a2", Seq(0.95f, 0.05f, 0f, 0f)),
      ("a3", Seq(0.9f, 0f, 0.1f, 0f)),
      ("b1", Seq(0f, 1f, 0f, 0f)), ("b2", Seq(0f, 0.95f, 0.05f, 0f)),
      ("c1", Seq(0f, 0f, 1f, 0f)), ("c2", Seq(0f, 0.05f, 0.95f, 0f))
    ).toDF("id", "embedding")
    val ix = Ivf.build(corpus, k = 3, iters = 10, maxSample = 100)
    // members of one direction share a cluster
    val assign = ix.assignments.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(assign("a1") === assign("a2") && assign("a2") === assign("a3"))
    assert(assign("b1") === assign("b2"))
    assert(assign("c1") === assign("c2"))
    assert(Set(assign("a1"), assign("b1"), assign("c1")).size === 3)
    // nprobe=1 on a clustered corpus: exact top-k of the home cluster
    val top = ix.topK(corpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 2, nprobe = 1)
      .orderBy("rn").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(top.toSeq === Seq((1, "a1"), (2, "a2")))
    // recall vs exact is 1.0 here (home cluster holds the true neighbors)
    val exact = Ann.exactTopK(corpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 2)
    assert(Ann.recallAtK(exact, ix.topK(corpus, Seq("q" -> Seq(1f, 0f, 0f, 0f)), k = 2, nprobe = 1)) === 1.0)
  }

  test("Ivf.assign on ARRAY<DOUBLE> matches ARRAY<FLOAT>; duplicate qids rejected") {
    import graft.ext.Ivf
    val floats = Seq(
      ("a1", Seq(1f, 0f, 0f)), ("a2", Seq(0.9f, 0.1f, 0f)),
      ("b1", Seq(0f, 1f, 0f)), ("b2", Seq(0f, 0.9f, 0.1f))
    ).toDF("id", "embedding")
    val cents = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    val doubles = floats.select($"id", $"embedding".cast("array<double>").as("embedding"))
    // the expression reads with getFloat — without the input cast, double
    // slots scored garbage bytes and every row got a random cluster
    val fa = Ivf.assign(floats, cents).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val da = Ivf.assign(doubles, cents).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fa === da && fa === Map("a1" -> 0, "a2" -> 0, "b1" -> 1, "b2" -> 1))
    // duplicate query ids interleave two rankings — all driver-side entry
    // points must reject them; empty query batches return typed empty frames
    val dup = Seq("q" -> Seq(1f, 0f, 0f), "q" -> Seq(0f, 1f, 0f))
    intercept[IllegalArgumentException](Ann.exactTopK(floats, dup, 2))
    intercept[IllegalArgumentException](Ann.lshTopK(floats, dup, 2, dim = 3))
    intercept[IllegalArgumentException](
      graft.ext.LshIndex.build(floats, dim = 3).topK(floats, dup, 2))
    intercept[IllegalArgumentException](
      graft.ext.IvfIndex(Ivf.assign(floats, cents), cents).topK(floats, dup, 2))
    assert(graft.ext.IvfIndex(Ivf.assign(floats, cents), cents)
      .topK(floats, Nil, 2).count() === 0)
  }

  test("Ivf: deterministic rebuild and store-frame roundtrip") {
    import graft.ext.{Ivf, IvfIndex}
    val corpus = Seq(
      ("a1", Seq(1f, 0f, 0f, 0f)), ("a2", Seq(0.95f, 0.05f, 0f, 0f)),
      ("b1", Seq(0f, 1f, 0f, 0f)), ("b2", Seq(0f, 0.95f, 0.05f, 0f))
    ).toDF("id", "embedding")
    val ix1 = Ivf.build(corpus, k = 2, iters = 5, maxSample = 100)
    val ix2 = Ivf.build(corpus, k = 2, iters = 5, maxSample = 100)
    assert(ix1.centroids === ix2.centroids) // seed-fixed, hash-ordered init
    val rt = IvfIndex.fromStoreFrames(ix1.toStoreFrame, ix1.centroidsFrame)
    assert(rt.centroids === ix1.centroids)
    val q = Seq("q" -> Seq(0f, 1f, 0f, 0f))
    val direct = ix1.topK(corpus, q, k = 2, nprobe = 1)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    val viaRt = rt.topK(corpus, q, k = 2, nprobe = 1)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(viaRt === direct)
    // empty-cluster survival: k larger than distinct directions keeps old centroids
    val ix3 = Ivf.build(corpus, k = 4, iters = 3, maxSample = 100)
    assert(ix3.centroids.size === 4)
  }

  test("Ivf.boundedSample: selection matches the global-sort spec; no corpus-wide Sort in the plan") {
    import graft.ext.Ivf
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Sort => LSort}
    // 5,000 deterministic 8-dim vectors, maxSample well below the corpus so
    // the hash-threshold prefilter actually prunes
    val corpus = spark.range(5000).select(
      array((0 until 8).map(d => (hash(col("id"), lit(d)).cast("float") /
        lit(Int.MaxValue.toFloat)).cast("float")): _*).as("embedding"))
    val got = Ivf.boundedSample(corpus, "embedding", 1.0, 500, 42L)
    // parity with the spec the old implementation planned as a global sort
    val want = corpus.select(col("embedding").as("emb")).filter(col("emb").isNotNull)
      .orderBy(hash(col("emb"), lit(42L)), col("emb")).limit(500)
    assert(got.collect().map(_.getSeq[Float](0)).toSeq ===
      want.collect().map(_.getSeq[Float](0)).toSeq)
    // plan shape: every global Sort must sit above the hash-cutoff filter —
    // its input is O(maxSample) survivors, never the whole corpus
    val sorts = got.queryExecution.optimizedPlan.collect { case s: LSort if s.global => s }
    assert(sorts.nonEmpty, "expected the bounded survivor sort")
    sorts.foreach { s =>
      val bounded = s.child.collect {
        case f: LFilter if f.condition.sql.toLowerCase.contains("hash") &&
          f.condition.sql.contains("<=") => f
      }
      assert(bounded.nonEmpty, s"Sort not bounded by a hash-cutoff filter:\n${s.treeString}")
    }
  }

  test("embeddingDupPairs: near-identical vectors verified by exact cosine") {
    val pairs = Dedup.embeddingDupPairs(vecCorpus, threshold = 0.95,
      numTables = 8, numPlanes = 4, dim = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("v1", "v2")))
  }

  test("LshIndex: prebuilt probe equals per-call lshTopK; store-frame roundtrip") {
    import graft.ext.LshIndex
    val q = Seq("q" -> Seq(1f, 0f, 0f, 0f))
    val direct = Ann.lshTopK(vecCorpus, q, k = 2, numTables = 8, numPlanes = 4, dim = 4)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    val ix = LshIndex.build(vecCorpus, numTables = 8, numPlanes = 4, dim = 4)
    val viaIx = ix.topK(vecCorpus, q, k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(viaIx === direct)
    val rt = LshIndex.fromStoreFrame(ix.toStoreFrame).get
    assert((rt.numTables, rt.numPlanes, rt.dim, rt.seed) === (8, 4, 4, 42L))
    val viaRt = rt.topK(vecCorpus, q, k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(viaRt === direct)
    assert(LshIndex.fromStoreFrame(ix.toStoreFrame.limit(0)).isEmpty)
  }

  test("bucket cap: star edges keep connectivity; stats report the skipped mass") {
    // six near-copies, pairwise jaccard 6/8 — every pair qualifies at t=0.5
    val clones = (1 to 6).map(i =>
      (s"c$i", s"alpha beta gamma delta epsilon zeta eta theta end$i"))
      .toDF("id", "content")
    val full = Dedup.minHashDupPairs(clones, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(full.size === 15) // C(6,2): uncapped enumerates every pair
    val capped = Dedup.minHashDupPairs(clones, threshold = 0.5, maxBucket = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped.subsetOf(full) && capped.nonEmpty)
    // star edges through the bucket min keep the cluster connected
    val clusters = Dedup.dupClusters(capped.toSeq.toDF("id_a", "id_b"))
      .collect().map(r => r.getString(1)).toSet
    assert(clusters === Set("c1"))
    val st = Dedup.lshBucketStats(clones, maxBucket = 2).head()
    assert(st.getLong(1) > 0 && st.getLong(3) > 0) // oversized buckets, skipped pairs
    val stFull = Dedup.lshBucketStats(clones, maxBucket = 256).head()
    assert(stFull.getLong(1) === 0 && stFull.getLong(3) === 0)
  }

  test("TextStats.quality / tokenCounts / fingerprint / langId") {
    val q = TextStats.quality(Seq(("a", "the cat and the dog")).toDF("id", "content"))
      .select("n_tokens", "avg_token_len", "stopword_ratio", "quality").head()
    assert(q.getLong(0) === 5L)
    assert(math.abs(q.getDouble(1) - 15.0 / 5.0) < 1e-12)
    assert(math.abs(q.getDouble(2) - 3.0 / 5.0) < 1e-12) // the, and, the
    val tc = TextStats.tokenCounts(Seq(("a", "Hello, world! x2")).toDF("id", "content"))
      .select("n_ws", "n_bpe").head()
    assert(tc.getLong(0) === 3L) // Hello, | world! | x2
    assert(tc.getLong(1) === 6L) // hello , world ! x 2
    val fpDf = TextStats.fingerprint(Seq(("a", "one two three"), ("b", "one two three")).toDF("id", "content"), n = 8)
    val fps = fpDf.select("fingerprint").as[String].collect()
    assert(fps(0) === fps(1) && fps(0).length === 32) // short doc -> md5 of all tokens
    val lang = TextStats.langId(Seq(("a", "the cat of the house"), ("b", "der hund und die katze"),
      ("c", "xyzzy plugh")).toDF("id", "content"))
      .select("id", "pred_lang").as[(String, String)].collect().toMap
    assert(lang("a") === "en" && lang("b") === "de" && lang("c") === "und")
  }

  test("Multimodal.featurize: batched byte stats over BINARY, null-safe") {
    val df = Seq(("m1", "image", "a a b".getBytes("UTF-8")),
      ("m2", "image", null: Array[Byte]))
      .toDF("id", "modality", "media")
    val out = Multimodal.featurize(df, ByteStatsDecoder)
      .select("id", "features").collect()
      .map(r => r.getString(0) -> Option(r.getSeq[Float](1))).toMap
    assert(out("m1").get.toSeq === Seq(5f, 2f, 2f)) // 5 bytes, 2 spaces, 2 'a'
    assert(out("m2").isEmpty)
  }

  test("GraftFunctions: SQL surface over the native expressions") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT round(graft_cosine(array(1.0F,0.0F), array(1.0F,0.0F)), 6) c,
        |  graft_jaccard(array('a','b'), array('b','c')) j,
        |  size(graft_shingles(array('x','y','z'), 2)) ns,
        |  size(graft_minhash(array(42L), 8)) nm,
        |  graft_simhash64(array('tok')) sh,
        |  size(graft_lsh_buckets(array(1.0F,0.0F), 4, 3, 2)) nb,
        |  size(graft_hash_prefix(array('a','b','c','d','e'), 0.8)) np,
        |  graft_contains_slice(array('a','b','c'), array('b','c')) cs,
        |  graft_contains_slice(array('a','b','c'), array('c','b')) csn,
        |  graft_contains_slice(array('a','b','c'), cast(array() AS array<string>)) cse
        |""".stripMargin).head()
    assert(r.getDouble(0) === 1.0)
    assert(math.abs(r.getDouble(1) - 1.0 / 3.0) < 1e-12)
    assert(r.getInt(2) === 2)
    assert(r.getInt(3) === 8)
    assert(r.getLong(4) !== 0L)
    assert(r.getInt(5) === 4)
    // 0.8 parses as DECIMAL, not DOUBLE — the builder must accept it;
    // p = floor(0.2 * 5 + eps) + 1 = 2
    assert(r.getInt(6) === 2)
    assert(r.getBoolean(7) === true)   // contiguous run found
    assert(r.getBoolean(8) === false)  // same elements, wrong order
    assert(r.getBoolean(9) === true)   // empty needle matches everything
    // wrong arity fails with the signature, not IndexOutOfBounds
    val e = intercept[Exception](spark.sql("SELECT graft_cosine(array(1.0F))").head())
    assert(e.getMessage.contains("graft_cosine expects 2"))
    // r16: html / entity / multi-phrase SQL surface
    val r2 = spark.sql(
      """SELECT graft_html_text('<p>a &amp; b</p><script>no</script>') h,
        |  graft_html_entity_decode('&lt;x&gt; &amp;lt;') d,
        |  graft_multi_phrase('Buy Cheap Pills', array('cheap pills', 'x')) m,
        |  graft_multi_phrase('pillsbury', array('pills')) mn
        |""".stripMargin).head()
    assert(r2.getString(0) === "a & b")
    assert(r2.getString(1) === "<x> &lt;") // single pass: &amp;lt; → &lt;
    assert(r2.getBoolean(2) === true)
    assert(r2.getBoolean(3) === false)
    // non-foldable phrase list rejected with the contract message
    val e2 = intercept[Exception](spark.sql(
      "SELECT graft_multi_phrase('x', array(cast(rand() AS STRING)))").head())
    assert(e2.getMessage.contains("foldable ARRAY<STRING>"))
  }

  test("GraftFunctions.tables: graft_docs / graft_search SQL table functions") {
    graft.plans.GraftFunctions.registerTables(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-tf-").toString
    graft.api.Collection(spark, root, "main").addDf(Seq(
      ("1", "spark makes analytics fast"),
      ("2", "ducks swim in the pond"),
      ("3", "spark and ducks together")).toDF("id", "content"))
    assert(spark.sql(s"SELECT id FROM graft_docs('$root', 'main')").count() === 3)
    val hits = spark.sql(
      s"SELECT id FROM graft_search('$root', 'main', 'spark')")
      .as[String].collect().toSet
    assert(hits === Set("1", "3"))
    // the plan composes with outer SQL: join + filter across both functions
    val joined = spark.sql(
      s"""SELECT s.id FROM graft_search('$root', 'main', 'ducks') s
         |JOIN graft_docs('$root', 'main') d ON s.id = d.id
         |WHERE d.content LIKE '%spark%'""".stripMargin)
      .as[String].collect().toSeq
    assert(joined === Seq("3"))
    // optional limit arg paginates inside the plan
    assert(spark.sql(s"SELECT * FROM graft_search('$root', 'main', 'spark', 1)").count() === 1)
    // wrong arity fails with the signature
    val e = intercept[Exception](spark.sql(s"SELECT * FROM graft_docs('$root')").collect())
    assert(e.getMessage.contains("graft_docs expects 2"))
    // non-literal store args are rejected, not silently mis-planned
    val e2 = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_docs(concat('$root', ''), 'main')").collect())
    assert(e2.getMessage.contains("STRING literal"))
    // phrase table function: adjacency, not just AND
    val ph = spark.sql(s"SELECT id FROM graft_phrase('$root', 'main', 'spark makes')")
      .as[String].collect().toSeq
    assert(ph === Seq("1")) // doc 3 has both terms, not adjacent
    // extended grammar from SQL: phrase OR term in one query
    val ex = spark.sql(
      "SELECT id FROM graft_extended('" + root + "', 'main', '\"spark makes\" or pond')")
      .as[String].collect().toSet
    assert(ex === Set("1", "2"))
    // federated search from SQL (this root holds only 'main')
    val fed = spark.sql(s"SELECT collection, id FROM graft_search_all('$root', 'ducks')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fed === Set(("main", "2"), ("main", "3")))
    // time travel from SQL: upsert (delta path forced, auto-compaction off —
    // a direct merge OR a size-ratio compaction folds history by design,
    // and this tiny base sits right at the deltas-rival-base threshold)
    // then read the pre-upsert era
    TestSpark.withConfs("spark.graft.store.directUpsertMaxBytes" -> "0",
        "spark.graft.compact.auto" -> "false") {
      graft.api.Collection(spark, root, "main").addDf(
        Seq(("1", "spark makes analytics very fast")).toDF("id", "content"))
    }
    val v0 = spark.sql(s"SELECT content FROM graft_docs_asof('$root', 'main', 0) WHERE id = '1'")
      .head().getString(0)
    assert(v0 === "spark makes analytics fast")
    val v1 = spark.sql(s"SELECT content FROM graft_docs_asof('$root', 'main', 1) WHERE id = '1'")
      .head().getString(0)
    assert(v1 === "spark makes analytics very fast")
    // graft_warc: the crawl-native source as a SQL table
    val wtmp = java.nio.file.Files.createTempDirectory("graft-warc-sql-").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$wtmp/c.warc"),
      "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.com/p\r\n\r\n" +
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>sql warc</p>\r\n\r\n")
    val wr = spark.sql(
      s"SELECT target_uri, http_status, body FROM graft_warc('$wtmp/c.warc')").head()
    assert(wr.getString(0) === "https://ex.com/p")
    assert(wr.getInt(1) === 200)
    assert(wr.getString(2) === "<p>sql warc</p>")
    // graft_warc_gz: the member-gzip form of the same record, framed by
    // Content-Length, composing with an outer WHERE like any SQL source
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>sql warc</p>"
      gz.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://ex.com/p\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n" + http + "\r\n\r\n").getBytes("UTF-8"))
      gz.close(); bos.toByteArray
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$wtmp/c.warc.gz"), gzBytes)
    val wg = spark.sql(s"SELECT target_uri, http_status, body FROM " +
      s"graft_warc_gz('$wtmp/c.warc.gz') WHERE http_status = 200").head()
    assert(wg.getString(0) === "https://ex.com/p")
    assert(wg.getString(2) === "<p>sql warc</p>")
  }

  test("dedupStream: keyCols containing the timestamp column still analyzes") {
    val d = Seq(("u1", "2024-01-01 00:00:00"), ("u1", "2024-01-01 00:00:00"),
      ("u2", "2024-01-01 00:01:00"))
      .toDF("user_id", "s").select($"user_id", $"s".cast("timestamp").as("ts"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("user_id", "s")
      .select($"user_id", $"s".cast("timestamp").as("ts"))
    val out = EventStreams.dedupStream(stream, Seq("user_id", "ts"),
      watermark = Some("10 minutes"))
    val q = out.writeStream.format("memory").queryName("dd_ts").outputMode("append").start()
    mem.addData(("u1", "2024-01-01 00:00:00"), ("u1", "2024-01-01 00:00:00"),
      ("u2", "2024-01-01 00:01:00"))
    q.processAllAvailable(); q.stop()
    assert(spark.table("dd_ts").count() === 2)
    // batch branch with the same keys agrees
    assert(EventStreams.dedupStream(d, Seq("user_id", "ts")).count() === 2)
  }

  test("Collection.streamIngest: micro-batches upsert and index incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-").toString
    val c = graft.api.Collection(spark, root, "live")
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("id", "content")
    val q = c.streamIngest(stream).start()
    mem.addData(("s1", "hello stream"), ("s2", "spark engine"))
    q.processAllAvailable()
    assert(c.count() === 2)
    assert(c.query("stream").total === 1)
    mem.addData(("s1", "rewritten doc"), ("s3", "third doc"))  // upsert + insert
    q.processAllAvailable()
    q.stop()
    assert(c.count() === 3)
    assert(c.query("hello").total === 0)  // s1 replaced, postings refreshed
    assert(c.query("rewritten").total === 1)
    assert(c.query("doc").total === 2)
  }

  test("EventStreams.windowAgg: batch result matches streaming with watermark; late row dropped") {
    val batch = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:55:00", "click", 2.0),
      ("2024-01-01 01:05:00", "view", 5.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    val b = EventStreams.windowAgg(batch).orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(b.toSeq === Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 5.0)))

    // Streaming: watermark 10 min; a row arriving after the watermark passed
    // its window is dropped from the append output.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.windowAgg(sdf, watermark = Some("10 minutes"))
    val q = agg.writeStream.format("memory").queryName("win_out").outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((ts("2024-01-01 00:05:00"), "click", 1.0), (ts("2024-01-01 00:55:00"), "click", 2.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 02:00:00"), "view", 5.0)) // advances watermark past hour 0
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:10:00"), "click", 99.0)) // LATE: hour-0 already closed
    mem.addData((ts("2024-01-01 04:00:00"), "view", 1.0))   // advance + flush
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L, 3.0))) // late 99.0 NOT counted
    assert(!rows.exists(_._4 == 99.0))
  }

  test("chunkDocuments: stride windows cover every token; edge docs hand-checked") {
    val cd = Seq(
      ("c1", "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      ("c2", "a b c"),                          // n <= chunkSize: one chunk
      ("c3", ""),                               // no tokens: no chunks
      ("c4", null.asInstanceOf[String])         // null: no chunks
    ).toDF("id", "content")
    val out = Pipeline.chunkDocuments(cd, chunkSize = 4, stride = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    // 10 tokens, window 4, stride 3 -> starts 0,3,6 (last window reaches t9)
    assert(byDoc("c1").sortBy(_._2).toSeq === Seq(
      ("c1", 0L, 0L, 4L, "t0 t1 t2 t3"),
      ("c1", 1L, 3L, 4L, "t3 t4 t5 t6"),
      ("c1", 2L, 6L, 4L, "t6 t7 t8 t9")))
    assert(byDoc("c2").toSeq === Seq(("c2", 0L, 0L, 3L, "a b c")))
    assert(!byDoc.contains("c3") && !byDoc.contains("c4"))
    // ragged tail: 5 tokens, window 4, stride 3 -> starts 0,3; last has 2 tokens
    val tail = Pipeline.chunkDocuments(Seq(("t", "u v w x y")).toDF("id", "content"), 4, 3)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getString(4))).sortBy(_._1)
    assert(tail.toSeq === Seq((0L, 4L, "u v w x"), (3L, 2L, "x y")))
  }

  test("unigramNll: smoothed per-token nll matches the closed form; OOV and empty docs") {
    val cd = Seq(("d1", "a a b"), ("d2", "c"), ("d3", "")).toDF("id", "content")
    // counts: a=2, b=1, c=1; vocabSize=2 keeps (a,2) and (b,1) — the b/c tie
    // breaks on token text. N=4, V=2 -> denom = ln(4 + 2 + 1)
    val lnD = math.log(7.0)
    val got = TextStats.unigramNll(cd, vocabSize = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val expD1 = (2 * (lnD - math.log(3.0)) + (lnD - math.log(2.0))) / 3
    assert(got("d1")._1 === 3L)
    assert(math.abs(got("d1")._2 - expD1) < 1e-12)
    assert(math.abs(got("d1")._3 - math.exp(expD1)) < 1e-9)
    assert(got("d2")._1 === 1L && math.abs(got("d2")._2 - lnD) < 1e-12) // OOV: full denom cost
    assert(got("d3") === ((0L, 0.0, 1.0)))
  }

  test("duplicateSpans: shared, within-doc, and disjoint k-grams; strip rebuilds") {
    val cd = Seq(
      ("e1", "x y z p q r"),                 // shares "x y z" with e2
      ("e2", "x y z a b c"),
      ("e3", "m n o m n o m n o"),           // within-doc repeat: one full-doc span
      ("e4", "x y z k1 k2 k3 k4 u v w"),     // two disjoint shared grams with e5
      ("e5", "x y z q1 q2 q3 q4 u v w"),
      ("e6", "totally unique words only here")
    ).toDF("id", "content")
    val spans = Dedup.duplicateSpans(cd, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set(
      ("e1", 0L, 2L), ("e2", 0L, 2L),
      ("e3", 0L, 8L),
      ("e4", 0L, 2L), ("e4", 7L, 9L),
      ("e5", 0L, 2L), ("e5", 7L, 9L)))
    val stripped = Dedup.stripDuplicateSpans(cd, k = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(4), r.getLong(3)))).toMap // content_dedup, removed, total
    assert(stripped("e1") === (("p q r", 3L, 6L)))
    assert(stripped("e3") === (("", 9L, 9L)))
    assert(stripped("e4") === (("k1 k2 k3 k4", 6L, 10L)))
    assert(stripped("e6") === (("totally unique words only here", 0L, 5L)))
  }

  test("semanticDupPairs: k=1 equals exact all-pairs; clustered pairs are a verified subset") {
    val exact = Dedup.embeddingDupPairs(vecCorpus, threshold = 0.95, numTables = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val k1 = Dedup.semanticDupPairs(vecCorpus, threshold = 0.95, numClusters = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(k1 === exact && exact === Set(("v1", "v2")))
    // multi-cluster: every emitted pair is exactly verified (subset, no FPs)
    val k3 = Dedup.semanticDupPairs(vecCorpus, threshold = 0.95, numClusters = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(k3.subsetOf(exact))
    // near-identical vectors share a centroid, so the planted pair survives
    assert(k3 === Set(("v1", "v2")))
    val kept = Dedup.semanticDedup(vecCorpus, threshold = 0.95, numClusters = 3)
      .select("id").as[String].collect().toSet
    assert(kept === Set("v1", "v3", "v4", "v5")) // v2 = higher-id side
    // mega-cluster cap: star edges still verify exactly
    val capped = Dedup.semanticDupPairs(vecCorpus, threshold = 0.95,
      numClusters = 1, maxBucket = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped.subsetOf(exact))
  }

  test("dedupAgainst(near=false) works on a STREAM: stream-static anti join per batch") {
    // the continuous-crawl shape: filter a document stream against a
    // static reference corpus, exact arm only (the near arm aggregates —
    // batch territory)
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(("r1", "already in the training set")).toDF("id", "content")
    val mem = MemoryStream[(String, String)]
    val src = mem.toDF().toDF("id", "content")
    val q = Dedup.dedupAgainst(src, ref, near = false)
      .writeStream.format("memory").queryName("against_out")
      .outputMode("append").start()
    mem.addData(("d1", "already in the training set"), ("d2", "fresh content"))
    q.processAllAvailable()
    mem.addData(("d3", "already in the training set"), ("d4", "more fresh"))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT id FROM against_out")
      .collect().map(_.getString(0)).toSet
    assert(out === Set("d2", "d4")) // d1/d3 matched the reference, dropped
  }

  test("crossDupPairs: matches union-corpus minHash cross pairs; exact groups expand") {
    val corpus = Seq(
      "c1" -> "the quick brown fox jumps over the lazy dog near the river bank",
      "c2" -> "completely different text about spark query engines and shuffles",
      "c3" -> "the quick brown fox jumps over the lazy dog near the river bank" // = c1
    ).toDF("id", "content")
    val ref = Seq(
      "r1" -> "the quick brown fox jumps over the lazy dog near the river shore", // near c1/c3
      "r2" -> "unrelated reference material entirely about cooking pasta dishes"
    ).toDF("id", "content")
    val cross = Dedup.crossDupPairs(corpus, ref, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cross === Set(("c1", "r1"), ("c3", "r1"))) // exact group c1=c3 both match
    // consistency gate: union-corpus minHashDupPairs restricted to cross
    // pairs finds the same matches (same band shape, same verification)
    val union = corpus.unionByName(ref)
    val refIds = Set("r1", "r2")
    val unionCross = Dedup.minHashDupPairs(union, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(p => refIds.contains(p._1) ^ refIds.contains(p._2))
      .map(p => if (refIds.contains(p._2)) p else p.swap).toSet
    assert(cross === unionCross)
    // candidate cap: one witness is enough for removal semantics
    val capped = Dedup.crossDupPairs(corpus, ref, threshold = 0.5, maxCandidates = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped === cross)
    // cap diagnostics: one rep (c1=c3) has its single candidate, nothing cut
    val st = Dedup.crossDupStats(corpus, ref).head()
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      === ((1L, 0L, 1L, 1L)))
  }

  test("dedupAgainst: exact arm drops identical content; near arm adds fuzzy matches") {
    val corpus = Seq(
      "c1" -> "the quick brown fox jumps over the lazy dog near the river bank",
      "c2" -> "completely different text about spark query engines and shuffles",
      "c3" -> "tiny doc", // exact match in ref, below shingle width
      "c4" -> (null: String)
    ).toDF("id", "content")
    val ref = Seq(
      "r1" -> "the quick brown fox jumps over the lazy dog near the river shore",
      "r2" -> "tiny doc",
      "r3" -> (null: String)
    ).toDF("id", "content")
    val exactOnly = Dedup.dedupAgainst(corpus, ref, near = false)
      .select("id").as[String].collect().toSet
    assert(exactOnly === Set("c1", "c2", "c4")) // c3 exact-matched; null kept
    val both = Dedup.dedupAgainst(corpus, ref, threshold = 0.5)
      .select("id").as[String].collect().toSet
    assert(both === Set("c2", "c4")) // c1 near-matched r1 too
  }

  test("keySkewStats: hand-counted shares and skew factors, top-k bounded") {
    val d = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++ Seq.fill(10)("cold"))
      .zipWithIndex.map { case (k, i) => (s"r$i", k) }.toDF("id", "key")
    val out = Pipeline.keySkewStats(d, "key", k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    // mean count = 100/3; skew(hot) = 60/(100/3) = 1.8
    assert(out.toSeq === Seq(
      (1L, "hot", 60L, 0.6, 1.8),
      (2L, "warm", 30L, 0.3, 0.9))) // cold cut by k=2
    intercept[IllegalArgumentException](Pipeline.keySkewStats(d, "key", k = 0))
  }

  test("dedupLinesDoc: first occurrence survives in order; trim-variants collapse; zero shuffle") {
    val d = Seq(
      ("a", "x\ny\nx\n  y  \nz"), // drops the 2nd x and the trim-variant y
      ("b", "only"),
      ("c", null.asInstanceOf[String])
    ).toDF("id", "content")
    val out = Dedup.dedupLinesDoc(d).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out("a") === (("x\ny\nz", 2L)))
    assert(out("b") === (("only", 0L)))
    assert(out("c") === ((null, 0L)))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(Dedup.dedupLinesDoc(d).queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedupLinesDoc: native pass matches the HOF reference; 10k-line doc is fast") {
    import graft.functions.TextFunctions
    // parity oracle: the original O(lines²) HOF construction
    def hofKept(lines: org.apache.spark.sql.Column) =
      filter(lines, (l, i) => !exists(slice(lines, lit(1), i), p => trim(p) === trim(l)))
    val rnd = new scala.util.Random(7)
    val docs = (0 until 50).map { i =>
      val lines = (0 until 200).map { _ =>
        val pad = " " * rnd.nextInt(3)
        s"$pad line ${rnd.nextInt(40)}$pad"
      }
      (s"d$i", lines.mkString("\n"))
    }.toDF("id", "content")
    val both = docs
      .withColumn("native", TextFunctions.keepFirstByTrim(split(col("content"), "\n")))
      .withColumn("hof", hofKept(split(col("content"), "\n")))
    assert(both.filter(not(col("native") === col("hof"))).isEmpty,
      "native first-occurrence filter must equal the HOF reference")
    // the case the HOF version could not survive: one 10k-line doc in one
    // task — O(lines²) would be 10⁸ interpreted comparisons; the native
    // pass finishes in well under a second
    val big = Seq(("big", (0 until 10000).map(i => s"line ${i % 500}").mkString("\n")))
      .toDF("id", "content")
    val t0 = System.nanoTime()
    val r = Dedup.dedupLinesDoc(big).select("n_lines_dropped").head().getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r === 9500L)
    assert(secs < 10.0, s"10k-line doc took ${secs}s — not linear in lines")
  }

  test("saltedJoin equals the plain join; diffCorpora statuses hand-checked") {
    val l = (1 to 100).map(i => (s"d$i", if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val dim = Seq(("en", "E"), ("de", "D"), ("fr", "F")).toDF("lang", "name")
    val salted = graft.ext.Joins.saltedJoin(l, dim, Seq("lang"), salt = 4)
      .select("id", "lang", "name")
    val plain = l.join(dim, Seq("lang")).select("id", "lang", "name")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() === 100)
    intercept[IllegalArgumentException](
      graft.ext.Joins.saltedJoin(l, dim, Seq("lang"), salt = 0))

    val a = Seq(("k", "same"), ("c", "old"), ("r", "gone"), ("n", null))
      .toDF("id", "content")
    val b = Seq(("k", "same"), ("c", "new"), ("x", "born"), ("n", null))
      .toDF("id", "content")
    val st = graft.ext.Joins.diffCorpora(a, b).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st === Map("k" -> "unchanged", "c" -> "changed", "r" -> "removed",
      "x" -> "added", "n" -> "unchanged"))
  }

  test("asofNearest: closer side wins, distance ties break backward, LEFT OUTER") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"), // back at 09:59, fwd at 10:02 -> backward
      (1L, ts("2024-01-01 10:03:00"), "p2"), // back at 10:02 (1m), fwd at 10:04 (1m) -> tie -> backward
      (2L, ts("2024-01-01 10:00:00"), "p3"), // only a FORWARD right exists
      (3L, ts("2024-01-01 10:00:00"), "p4")  // no right at all -> nulls
    ).toDF("user_id", "ts", "pid")
    val r = Seq(
      (1L, ts("2024-01-01 09:59:00"), "v1"),
      (1L, ts("2024-01-01 10:02:00"), "v2"),
      (1L, ts("2024-01-01 10:04:00"), "v3"),
      (2L, ts("2024-01-01 10:05:00"), "v4")
    ).toDF("user_id", "ts", "vid")
    val out = graft.ext.Joins.asofNearest(l, r, keys = Seq("user_id"))
      .collect().map(rr => rr.getString(2) ->
        ((rr.getString(3), rr.getString(5)))).toMap
    assert(out("p1") === (("v1", "backward")))
    assert(out("p2") === (("v2", "backward"))) // equal 1-minute distance -> past wins
    assert(out("p3") === (("v4", "forward")))
    assert(out("p4") === ((null, null)))
    // same-instant right counts as distance 0 and reports backward
    val inst = graft.ext.Joins.asofNearest(l.limit(1),
      Seq((1L, ts("2024-01-01 10:00:00"), "v0")).toDF("user_id", "ts", "vid"),
      keys = Seq("user_id")).collect().head
    assert(inst.getString(3) === "v0" && inst.getString(5) === "backward")
  }

  test("tokenEntropy: closed-form values, empty/uniform/degenerate docs, zero shuffle") {
    val d = Seq(
      ("uni", "a b c d"),        // uniform over 4 types: H = ln 4, norm 1
      ("deg", "x x x x"),        // one type: H = 0, norm 1 (<=1 type rule)
      ("mix", "a a b"),          // H = -(2/3 ln 2/3 + 1/3 ln 1/3)
      ("empty", ""),
      ("nul", null.asInstanceOf[String])
    ).toDF("id", "content")
    val out = TextStats.tokenEntropy(d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(math.abs(out("uni")._1 - math.log(4)) < 1e-12 && out("uni")._2 === 1.0)
    assert(out("deg") === ((0.0, 1.0)))
    val hMix = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(out("mix")._1 - hMix) < 1e-12)
    assert(out("empty") === ((0.0, 1.0)) && out("nul") === ((0.0, 1.0)))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(TextStats.tokenEntropy(d).queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sampleFixedPerGroup: exactly k per group, growth-monotone, WindowGroupLimit plan") {
    val d = (1 to 50).map(i => (s"d$i", if (i <= 40) "big" else "small"))
      .toDF("id", "source")
    val out = Pipeline.sampleFixedPerGroup(d, "source", k = 5, seed = 9L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.count(_._2 == "big") === 5 && out.count(_._2 == "small") === 5)
    // short group (3 < k) keeps everything
    val short = Pipeline.sampleFixedPerGroup(d.limit(3), "source", k = 5).count()
    assert(short === 3)
    // growth monotone: adding docs evicts at most (never reshuffles) —
    // the survivors of the grown corpus ∩ old corpus ⊆ old survivors
    val grown = Pipeline.sampleFixedPerGroup(
      d.unionByName((51 to 80).map(i => (s"e$i", "big")).toDF("id", "source")),
      "source", k = 5, seed = 9L)
      .collect().map(_.getString(0)).toSet
    val old = out.map(_._1).toSet
    assert(grown.filter(_.startsWith("d")).subsetOf(old))
    // plan: rank filter lowers to WindowGroupLimit (map-side k-heaps)
    val plan = Pipeline.sampleFixedPerGroup(d, "source", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("tokenDistributionDrift: probabilities, JS terms, OOV bucket, ReusedExchange") {
    val a = Seq(("a1", "x x y"), ("a2", "y z")).toDF("id", "content")
    val b = Seq(("b1", "x y y y")).toDF("id", "content")
    val out = TextStats.tokenDistributionDrift(a, b, vocabSize = 10)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // A: x2 y2 z1 /5; B: x1 y3 /4
    assert(math.abs(out("x")._1 - 0.4) < 1e-12 && math.abs(out("x")._2 - 0.25) < 1e-12)
    assert(math.abs(out("y")._3 - 0.35) < 1e-12)  // shift = 0.75 - 0.4
    assert(math.abs(out("z")._4 - 0.1 * math.log(2)) < 1e-12) // one-sided term
    assert(out("__oov")._1 === 0.0 && out("__oov")._2 === 0.0)
    // JS symmetric in its two one-sided halves: total >= 0
    assert(out.values.map(_._4).sum >= 0)
    // vocabSize=1: per-side top-1 (x for A by tie-break, y for B) + real OOV mass
    val small = TextStats.tokenDistributionDrift(a, b, vocabSize = 1)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(small.keySet === Set("x", "y", "__oov"))
    assert(math.abs(small("__oov")._1 - 0.2) < 1e-12) // z's mass lumped
    // each side's count aggregation is computed ONCE (identical subtrees
    // dedup via ReuseExchange) — check with AQE off so the marker is static
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextStats.tokenDistributionDrift(a, b, vocabSize = 10)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("freqSketchProbe: CMS never underestimates, exact at coarse width, empty corpus") {
    val d = Seq(
      ("d1", "cat dog cat"),
      ("d2", "dog bird"),
      ("d3", "cat")).toDF("id", "content")
    val out = TextStats.freqSketchProbe(d, Seq("cat", "dog", "bird", "fish"), eps = 0.01)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 6 distinct tokens << width(2/eps = 200): estimates are EXACT here
    assert(out("cat") === ((3L, 6L)))
    assert(out("dog") === ((2L, 6L)))
    assert(out("bird") === ((1L, 6L)))
    assert(out("fish") === ((0L, 6L)))
    // empty corpus: zero counts, no NPE on the null sketch
    val empty = TextStats.freqSketchProbe(d.limit(0), Seq("cat"))
      .head()
    assert(empty.getLong(1) === 0L && empty.getLong(2) === 0L)
  }

  test("noveltyScores: unique vs shared grams, short docs, df accounting") {
    val docs = Seq(
      ("u", "alpha beta gamma delta"),       // grams: (a b g), (b g d) — both unique
      ("s1", "one two three four"),          // shares all grams with s2
      ("s2", "one two three four"),
      ("short", "just two")).toDF("id", "content") // < 3 tokens: no grams
    val out = TextStats.noveltyScores(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out("u") === ((2L, Some(1.0), Some(1.0))))
    assert(out("s1") === ((2L, Some(0.0), Some(2.0)))) // every gram in both docs
    assert(out("s2") === out("s1"))
    assert(out("short") === ((0L, None, None)))
  }

  test("splitByCluster: duplicate clusters never straddle; singletons match splitCorpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      ("a1", base), ("a2", base),                       // exact dups -> one cluster
      ("b1", base + " slightly changed tail here"),     // near-dup of the a's
      ("s1", "completely unrelated text one"),
      ("s2", "another unrelated document two")).toDF("id", "content")
    val out = Pipeline.splitByCluster(docs,
      Seq("train" -> 0.5, "test" -> 0.5), seed = 3L)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // whole cluster lands together
    assert(Set(out("a1"), out("a2"), out("b1")).size === 1)
    // singletons assign exactly like the per-id split
    val plain = Pipeline.splitCorpus(docs.filter($"id".startsWith("s")),
      Seq("train" -> 0.5, "test" -> 0.5), seed = 3L)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out("s1") === plain("s1") && out("s2") === plain("s2"))
    // schema passthrough + split column
    assert(Pipeline.splitByCluster(docs, Seq("all" -> 1.0)).columns.toSeq
      === Seq("id", "content", "split"))
    val e = intercept[IllegalArgumentException](
      Pipeline.splitByCluster(docs, Seq("a" -> 0.5, "b" -> 0.4)))
    assert(e.getMessage.contains("sum to 1"))
  }

  test("driftStream: per-window JS vs reference, OOV lumping, stream equals batch") {
    val ref = Seq("a" -> 0.5, "b" -> 0.5)
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${h}%02d:10:00")
    val docs = Seq(
      (ts(0), "a a b b"),   // window 0: p == q -> js 0
      (ts(1), "a a a a"),   // window 1: all-a
      (ts(2), "z z z z")    // window 2: all OOV (ref oov mass 0)
    ).toDF("ts", "content")
    val out = EventStreams.driftStream(docs, ref, "1 hour")
      .collect().map(r => r.getTimestamp(0).toString -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out("2024-01-01 00:00:00.0") === ((4L, 0.0)))
    // p=(1,0,0) vs q=(.5,.5,0): .5·ln(4/3)/1? -> hand value
    val e1 = 0.5 * 1 * math.log(1 / 0.75) + 0.5 * 0.5 * math.log(0.5 / 0.75) +
      0.5 * 0.5 * math.log(0.5 / 0.25)
    assert(math.abs(out("2024-01-01 01:00:00.0")._2 - e1) < 1e-9)
    // all OOV with zero reference oov mass: disjoint supports -> JS = ln 2
    // (p side at the oov bucket + q sides at a and b)
    val e2 = 0.5 * math.log(2) + 2 * (0.25 * math.log(2))
    assert(math.abs(e2 - math.log(2)) < 1e-12)
    assert(math.abs(out("2024-01-01 02:00:00.0")._2 - e2) < 1e-9)
    // streaming ≡ batch
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val sq = EventStreams.driftStream(mem.toDF().toDF("ts", "content"), ref, "1 hour",
      watermark = Some("2 hours"))
      .writeStream.format("memory").queryName("drift_q").outputMode("append").start()
    mem.addData((ts(0), "a a b b"), (ts(1), "a a a a"))
    sq.processAllAvailable()
    mem.addData((ts(5), "a")) // advances the watermark past windows 0-1
    sq.processAllAvailable(); sq.stop()
    val streamed = spark.table("drift_q").collect()
      .map(r => r.getTimestamp(0).toString -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed("2024-01-01 00:00:00.0") === out("2024-01-01 00:00:00.0"))
    assert(streamed("2024-01-01 01:00:00.0") === out("2024-01-01 01:00:00.0"))
  }

  test("capPerKeyStream: quota across micro-batches; batch mode equals Web.capPerDomain") {
    // streaming: 2 then 3 docs for one domain, cap 3 -> 2 admitted from
    // batch 1, exactly 1 more from batch 2, 0 from batch 3
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = EventStreams.capPerKeyStream(
      mem.toDF().toDF("domain", "id"), "domain", "id", cap = 3)
    val q = out.writeStream.format("memory").queryName("cap_q")
      .outputMode("append").start()
    mem.addData(("d.com", "a1"), ("d.com", "a2"))
    q.processAllAvailable()
    assert(spark.table("cap_q").count() === 2)
    mem.addData(("d.com", "b1"), ("d.com", "b2"), ("d.com", "b3"))
    q.processAllAvailable()
    assert(spark.table("cap_q").count() === 3)
    mem.addData(("d.com", "c1"), ("e.org", "c2"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("cap_q").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.count(_._1 == "d.com") === 3 && rows.contains(("e.org", "c2")))
    // batch 2's single admission is its md5-min id
    val b2 = Seq("b1", "b2", "b3").minBy(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    assert(rows.contains(("d.com", b2)))
    // batch mode: survivor SET equals the deterministic batch cap's
    val docs = (1 to 30).map { i =>
      val dom = if (i <= 20) "big.com" else "small.org"
      (s"d$i", s"https://www.$dom/p/$i")
    }.toDF("id", "url")
    val viaStreamOp = EventStreams.capPerKeyStream(
      docs.select(Web.registrableDomain($"url").as("domain"), $"id"),
      "domain", "id", cap = 4).select("id").as[String].collect().toSet
    val viaBatch = Web.capPerDomain(docs, maxPerDomain = 4)
      .select("id").as[String].collect().toSet
    assert(viaStreamOp === viaBatch)
  }

  test("Web.registrableDomain: suffix-lite rule, ports/userinfo, bad URLs") {
    val d = Seq(
      ("u1", "https://www.news.example.com/a/b?x=1"),
      ("u2", "http://sub.deep.bbc.co.uk/story"),
      ("u3", "https://example.com/"),          // bare 2-label host
      ("u4", "https://EXAMPLE.Com:8443/p"),    // case + port
      ("u5", "http://localhost/x"),            // single label passthrough
      ("u6", "not a url at all"),              // unparseable -> NULL
      ("u7", "https://co.uk/odd")              // suffix-only host passthrough
    ).toDF("id", "url")
    val out = d.select($"id", Web.registrableDomain($"url").as("dom"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("u1") === Some("example.com"))
    assert(out("u2") === Some("bbc.co.uk"))
    assert(out("u3") === Some("example.com"))
    assert(out("u4") === Some("example.com"))
    assert(out("u5") === Some("localhost"))
    assert(out("u6") === None)
    assert(out("u7") === Some("co.uk"))
    // extraSuffixes plugs additional multi-part suffixes
    val extra = d.filter($"id" === "u1")
      .select(Web.registrableDomain($"url", extraSuffixes = Seq("example.com")).as("d"))
      .head().getString(0)
    assert(extra === "news.example.com")
  }

  test("Web.loadSuffixes: real-PSL rules (github.io, co.kr, wildcards, exceptions, deep rules)") {
    // a PSL-format fixture exercising every rule kind the loader claims:
    // comments, trailing junk after whitespace, plain 1/2-label rules,
    // a 4-label rule, a wildcard, and its exception
    val psl = java.nio.file.Files.createTempFile("graft-psl-", ".dat")
    java.nio.file.Files.write(psl, java.util.Arrays.asList(
      "// ===BEGIN ICANN DOMAINS===",
      "com", "io", "kr", "co.kr", "com.tw", "pvt.k12.ma.us",
      "*.ck", "!www.ck",
      "// ===BEGIN PRIVATE DOMAINS===",
      "github.io  // pages", "",
      "GitHub.IO"), // duplicate in different case: must dedup
      java.nio.charset.StandardCharsets.UTF_8)
    val rules = graft.ext.Web.loadSuffixes(psl.toString)
    assert(rules.exact(2).toSet === Set("co.kr", "com.tw", "github.io"))
    assert(rules.exact(4) === Seq("pvt.k12.ma.us"))
    assert(rules.wildcardBases(1) === Seq("ck"))
    assert(rules.exceptions(2) === Seq("www.ck"))
    val d = Seq(
      ("g1", "https://user.github.io/project"),      // PSL: user.github.io
      ("g2", "https://a.user.github.io/x"),          // still user.github.io
      ("k1", "https://shop.daum.co.kr/item"),        // daum.co.kr
      ("t1", "http://news.site.com.tw/a"),           // site.com.tw
      ("w1", "http://x.foo.ck/p"),                   // *.ck -> x.foo.ck
      ("w2", "http://deep.x.foo.ck/p"),              // -> x.foo.ck
      ("e1", "http://a.www.ck/p"),                   // !www.ck -> www.ck
      ("d1", "https://school.pvt.k12.ma.us/"),       // registrable itself
      ("d2", "https://x.school.pvt.k12.ma.us/"),     // -> school.pvt...
      ("p1", "https://www.example.com/a"),           // plain take-2 default
      ("s1", "https://github.io/odd"),               // suffix-only passthrough
      ("n1", "totally not a url"))                   // NULL stays NULL
      .toDF("id", "url")
    val out = d.select($"id", graft.ext.Web.registrableDomain($"url", rules).as("dom"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("g1") === Some("user.github.io"))
    assert(out("g2") === Some("user.github.io"))
    assert(out("k1") === Some("daum.co.kr"))
    assert(out("t1") === Some("site.com.tw"))
    assert(out("w1") === Some("x.foo.ck"))
    assert(out("w2") === Some("x.foo.ck"))
    assert(out("e1") === Some("www.ck"))
    assert(out("d1") === Some("school.pvt.k12.ma.us"))
    assert(out("d2") === Some("school.pvt.k12.ma.us"))
    assert(out("p1") === Some("example.com"))
    assert(out("s1") === Some("github.io"))
    assert(out("n1") === None)
    // the lite default is untouched by the loader's existence (x99 parity)
    assert(d.filter($"id" === "k1")
      .select(graft.ext.Web.registrableDomain($"url").as("d"))
      .head().getString(0) === "co.kr") // lite list lacks co.kr — 2-label rule
    java.nio.file.Files.deleteIfExists(psl)
  }

  test("Web.domainReport + capPerDomain: shares sum to 1, cap deterministic, WindowGroupLimit plan") {
    val docs = (1 to 40).map { i =>
      val dom = if (i <= 30) "big.com" else if (i <= 38) "mid.co.uk" else "tiny.org"
      (s"d$i", "text " * i, s"https://www.$dom/p/$i")
    }.toDF("id", "content", "url")
    val rep = Web.domainReport(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rep("big.com")._1 === 30L && rep("mid.co.uk")._1 === 8L && rep("tiny.org")._1 === 2L)
    assert(math.abs(rep.values.map(_._2).sum - 1.0) < 1e-9)
    val capped = Web.capPerDomain(docs, maxPerDomain = 5)
    assert(capped.count() === 5 + 5 + 2) // short domain keeps all
    // deterministic: identical survivors across runs
    val a = capped.select("id").as[String].collect().toSet
    val b = Web.capPerDomain(docs, maxPerDomain = 5).select("id").as[String].collect().toSet
    assert(a === b)
    // schema passthrough: working columns dropped
    assert(capped.columns.toSeq === Seq("id", "content", "url"))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("containmentPairs: near-subset pairs Jaccard misses; candidates complete vs brute force; cap trade") {
    import graft.ext.Dedup
    // deterministic corpus with planted containment structure: doc "long"
    // (60 distinct-ish tokens), "wrap" = boilerplate + long + boilerplate,
    // "snip" = long's first 12 tokens, plus unrelated noise docs
    val longToks = (1 to 60).map(i => s"w${i * 7 % 61}")
    val docs = Seq(
      ("long", longToks.mkString(" ")),
      ("wrap", ((1 to 14).map(i => s"nav$i").mkString(" ") + " " +
        longToks.mkString(" ") + " " + (1 to 14).map(i => s"foot$i").mkString(" "))),
      ("snip", longToks.take(12).mkString(" ")),
      ("tiny", "aa bb"), // < 3 tokens: empty shingle set, never pairs
      // byte-identical twins: equal sizes, mutual containment 1.0 — the
      // dropContained tie-break must keep exactly the smaller id
      ("dupa", (1 to 20).map(i => s"tw$i").mkString(" ")),
      ("dupb", (1 to 20).map(i => s"tw$i").mkString(" "))) ++
      (1 to 40).map(i => (s"n$i", (1 to 30).map(j => s"x${(i * 31 + j * 17) % 97}").mkString(" ")))
    val df = docs.toDF("id", "content")
    // brute force over distinct token 3-gram sets (plain Scala)
    def shingleSet(text: String): Set[Seq[String]] = {
      val t = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      if (t.size < 3) Set.empty else t.sliding(3).map(_.toSeq).toSet
    }
    val sets = docs.map { case (id, c) => id -> shingleSet(c) }.toMap
    val t = 0.85
    def brute(thr: Double) = (for {
      (a, sa) <- sets.toSeq if sa.nonEmpty
      (b, sb) <- sets.toSeq if a != b && sb.nonEmpty
      i = (sa & sb).size if i.toDouble / sa.size >= thr
    } yield (a, b, i.toDouble / sa.size)).toSet
    val expected = brute(t)
    val got = Dedup.containmentPairs(df, threshold = t, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === expected, "prefix-filter candidates must be COMPLETE")
    // the planted structure behaves as designed: long⊆wrap and snip⊆long
    // found at containment 1.0, while their symmetric Jaccard is below any
    // dedup threshold (ngramJaccardPairs misses both BY CONSTRUCTION)
    assert(got.exists { case (a, b, c) => a == "long" && b == "wrap" && c == 1.0 })
    assert(got.exists { case (a, b, c) => a == "snip" && b == "long" && c == 1.0 })
    assert(Dedup.ngramJaccardPairs(df, threshold = t)
      .filter(col("id_a").isin("long", "snip", "wrap")).count() === 0,
      "fixture must be invisible to symmetric Jaccard at the same threshold")
    assert(!got.exists(p => p._1 == "tiny" || p._2 == "tiny"))
    // hash-ordered prefix agrees (ordering choice cannot change the result
    // set when nothing is capped — completeness is order-independent)
    val gotHash = Dedup.containmentPairs(df, threshold = t,
      dfOrdered = false, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(gotHash === expected)
    // cap trade: with maxBucket = 1 every shared shingle is "hot" in this
    // planted family (df >= 2 on the index side), so those pairs drop —
    // the documented recall trade, never a wrong pair
    val capped = Dedup.containmentPairs(df, threshold = t, maxBucket = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(expected), "a cap may drop pairs, never invent them")
    // dropContained: pairwise rule — drop A iff some strictly-larger (or
    // equal-size smaller-id) B covers >= t of it; brute-replayed
    val expectSurvive = sets.keySet.filter { a =>
      val sa = sets(a)
      sa.isEmpty || !sets.exists { case (b, sb) =>
        b != a && sb.nonEmpty &&
          (sa & sb).size.toDouble / sa.size >= t &&
          (sb.size > sa.size || (sb.size == sa.size && b < a))
      }
    }
    val survived = Dedup.dropContained(df, threshold = t, maxBucket = Int.MaxValue)
      .select("id").as[String].collect().toSet
    assert(survived === expectSurvive)
    // the planted structure: snip ⊆ long ⊆ wrap leaves only wrap; the
    // twins keep exactly the smaller id; tiny (no shingles) survives
    assert(!survived.contains("snip") && !survived.contains("long"))
    assert(survived.contains("wrap") && survived.contains("tiny"))
    assert(survived.contains("dupa") && !survived.contains("dupb"))
    // schema passthrough
    assert(Dedup.dropContained(df, threshold = t).columns.toSeq === Seq("id", "content"))
  }

  test("dropContained guard: k-fold-duplicated corpus fails fast; deduped corpus unchanged; stats profile") {
    import graft.ext.Dedup
    // 12 distinct docs, each duplicated 40-fold under fresh ids — the
    // measured disk-overflow shape (candidates O(docs × k)); the guard
    // must refuse BEFORE launching the join, with actionable guidance
    // group-unique tokens: zero cross-group shingle overlap by construction
    val base = (1 to 12).map(i =>
      (s"d$i", (1 to 25).map(j => s"g${i}t$j").mkString(" ")))
    val dup = base.flatMap { case (id, c) =>
      (0 until 40).map(r => (s"$id-$r", c)) }.toDF("id", "content")
    val ex = intercept[IllegalArgumentException] {
      Dedup.dropContained(dup, threshold = 0.85)
    }
    assert(ex.getMessage.contains("dedupCorpus"), ex.getMessage)
    assert(ex.getMessage.contains("40"), ex.getMessage)
    // override flag: the documented escape hatch still runs (and on this
    // small corpus returns per-group one survivor + any cross-doc drops)
    val forced = Dedup.dropContained(dup, threshold = 0.85,
      maxDupGroup = Int.MaxValue)
    assert(forced.count() === 12L, "each 40-group keeps its smallest id")
    // a deduped corpus (k = 1) passes the default guard unchanged
    val clean = base.toDF("id", "content")
    val survivors = Dedup.dropContained(clean, threshold = 0.85)
      .select("id").as[String].collect().toSet
    assert(survivors === base.map(_._1).toSet, "distinct docs all survive")
    // shingle-LESS duplicate groups are no hazard (they never join) and
    // must NOT trip the guard: 20 empty + 20 two-token twins + 20 NULLs
    val trivial = base ++
      (1 to 20).map(i => (s"e$i", "")) ++
      (1 to 20).map(i => (s"t$i", "aa bb")) ++
      (1 to 20).map(i => (s"z$i", null.asInstanceOf[String]))
    val trivialSurvivors = Dedup.dropContained(trivial.toDF("id", "content"),
      threshold = 0.85)
    assert(trivialSurvivors.count() === trivial.size.toLong,
      "trivial dup groups must pass the guard and all survive")

    // containmentBucketStats: the shared-shingle df profile. Uncapped,
    // candidates_skipped must be 0 and candidates_kept must equal the
    // exact pre-distinct candidate volume Σ_probe-rows df(g) (self-hits
    // included) — replayed in plain Scala over the same prefix definition.
    val t = 0.85
    def shingles(text: String): Seq[Seq[String]] = {
      val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Seq.empty else toks.sliding(3).map(_.toSeq).toSeq
    }
    val sets = base.map { case (id, c) => id -> shingles(c).toSet }.filter(_._2.nonEmpty)
    val dfreq = sets.flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size }
    // rarest-first prefix (df asc; ties by the hash order are corpus-wide
    // unique here, so df-then-anything is deterministic on sizes alone)
    val expectedRows = sets.map { case (_, s) =>
      math.floor((1.0 - t) * s.size + 1e-9).toLong + 1L }.sum
    val stats = Dedup.containmentBucketStats(clean, threshold = t,
      maxBucket = Int.MaxValue).head()
    assert(stats.getAs[Long]("probe_rows") === expectedRows)
    assert(stats.getAs[Long]("candidates_skipped") === 0L)
    assert(stats.getAs[Long]("capped_shingles") === 0L)
    // kept + skipped is cap-invariant (it is Σ df over probe rows)
    val s1 = Dedup.containmentBucketStats(clean, threshold = t, maxBucket = 1).head()
    assert(s1.getAs[Long]("candidates_kept") + s1.getAs[Long]("candidates_skipped")
      === stats.getAs[Long]("candidates_kept"))
    assert(s1.getAs[Long]("probe_rows") === expectedRows)
    // on the duplicated corpus the profile SHOWS the hazard the guard
    // refuses: every shingle has index df = 40 (group-unique tokens × 40
    // copies), so the kept candidate volume is exactly 40 × probe_rows
    val sd = Dedup.containmentBucketStats(dup, threshold = t,
      maxBucket = Int.MaxValue).head()
    assert(sd.getAs[Long]("candidates_kept") === 40L * sd.getAs[Long]("probe_rows"))
    // and a cap below that df drops EVERY probe shingle from the index —
    // the skipped column is where that reads off before the run
    val sd1 = Dedup.containmentBucketStats(dup, threshold = t, maxBucket = 39).head()
    assert(sd1.getAs[Long]("capped_shingles") === sd1.getAs[Long]("probe_shingles"))
    assert(sd1.getAs[Long]("candidates_kept") === 0L)
  }

  test("Web.canonicalizeUrl + dedupByUrl: cosmetics collide, ref survives, NULL stratum passes") {
    val d = Seq(
      // u1..u4: the SAME resource under different cosmetics — one key
      ("u1", "HTTP://WWW.Example.COM:80/path/?b=2&a=1#frag"),
      ("u2", "http://www.example.com/path?a=1&b=2"),
      ("u3", "http://www.example.com/path/?utm_source=x&utm_medium=y&a=1&b=2"),
      ("u4", "http://www.example.com:80/path?b=2&a=1&gclid=zz&fbclid=q&msclkid=m"),
      // resource-selecting `ref` must SURVIVE (GitHub-style ?ref=branch):
      // u5 and u6 are DIFFERENT resources
      ("u5", "https://github.example.com/r/tree?ref=main"),
      ("u6", "https://github.example.com/r/tree?ref=dev"),
      // `refresh=1` is not a tracking prefix match either
      ("u7", "https://a.org/p?refresh=1"),
      // all-tracking query collapses to a bare path; :443 stripped
      ("u8", "HTTPS://A.ORG:443/p?utm_campaign=z#x"),
      // no scheme: passthrough, fragment-stripped only
      ("u9", "bare-value#frag"),
      ("u10", null.asInstanceOf[String]),
      // NON-default port is load-bearing, must survive
      ("u11", "https://a.org:8443/p"),
      // userinfo kept (conservative: never merges across credentials)
      ("u12", "https://User:pw@a.org/p"),
      // repeated keys: sort is total (value participates), deterministic
      ("u13", "https://a.org/p?a=2&a=1")
    ).toDF("id", "url")
    val canon = d.select($"id", Web.canonicalizeUrl($"url").as("c"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(Set("u1", "u2", "u3", "u4").map(canon) ===
      Set(Some("http://www.example.com/path?a=1&b=2")))
    assert(canon("u5") === Some("https://github.example.com/r/tree?ref=main"))
    assert(canon("u6") === Some("https://github.example.com/r/tree?ref=dev"))
    assert(canon("u5") !== canon("u6"), "ref is resource-selecting, must not be stripped")
    assert(canon("u7") === Some("https://a.org/p?refresh=1"))
    assert(canon("u8") === Some("https://a.org/p"))
    assert(canon("u9") === Some("bare-value"))
    assert(canon("u10") === None)
    assert(canon("u11") === Some("https://a.org:8443/p"))
    assert(canon("u12") === Some("https://User:pw@a.org/p"),
      "userinfo is case-sensitive (RFC 3986) and must keep its case")
    assert(canon("u13") === Some("https://a.org/p?a=1&a=2"))
    // dedup: exactly one survivor of u1..u4, deterministic across runs;
    // everything else (incl. the NULL-canonical row) passes through
    val kept = Web.dedupByUrl(d).select("id").as[String].collect().toSet
    assert(kept.intersect(Set("u1", "u2", "u3", "u4")).size === 1)
    assert(Set("u5", "u6", "u7", "u8", "u9", "u10", "u11", "u12", "u13")
      .subsetOf(kept))
    assert(kept === Web.dedupByUrl(d).select("id").as[String].collect().toSet)
    assert(Web.dedupByUrl(d).columns.toSeq === Seq("id", "url"))
    // NULL-URL rows ALL pass through, even under duplicate ids (they are
    // not URL-dedupable; the md5-rank contract only governs real keys)
    val dupNull = d.unionByName(Seq(
      ("u10", null.asInstanceOf[String]),
      ("u10", null.asInstanceOf[String])).toDF("id", "url"))
    assert(Web.dedupByUrl(dupNull).filter($"url".isNull).count() === 3)
    // scale shape: the survivor pick lowers to WindowGroupLimit (map-side
    // 1-heap per canonical key), same pin as capPerDomain
    val plan = Web.dedupByUrl(d).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("Web.canonicalizeUrl: idempotent over adversarial URL soup; invariants hold") {
    // a canonical key that re-canonicalizes differently would silently
    // split dedup groups between a raw corpus and one storing canonical
    // URLs — fuzz canon(canon(x)) ≡ canon(x) over seeded component soup
    // (repeated default ports, multi-slash tails, junk schemes, userinfo,
    // unicode, params with ?/=/empty, multi-fragment) plus raw junk
    val rnd = new scala.util.Random(4211)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def genUrl(): String = {
      val scheme = pick(Seq("http", "HTTP", "https", "HTTPS", "ftp", "x", "", "a?b"))
      val host = pick(Seq("A.Org", "www.EXAMPLE.com", "a.b.co.uk", "LOCALHOST",
        "User:PW@Site.io", "U\nser:p@Site.io", "a@b@C.io", "é.中", ""))
      val port = pick(Seq("", ":80", ":443", ":8443", ":80:80", ":443:443", ":"))
      val path = (0 until rnd.nextInt(4))
        .map(_ => pick(Seq("p", "P", "x:y", "a b", "ü", "")))
        .mkString("/", "/", pick(Seq("", "/", "//", "///")))
      val params = (0 until rnd.nextInt(5)).map(_ => pick(Seq(
        "a=1", "b=2", "a=2", "utm_source=x", "utm_", "UTM_S=1", "gclid=z",
        "ref=main", "refresh=1", "", "=", "x", "a=b?c")))
      val q = if (params.isEmpty) "" else "?" + params.mkString("&")
      val frag = pick(Seq("", "#f", "#a#b", "#"))
      pick(Seq(
        s"$scheme://$host$port$path$q$frag",
        s"$host$path$q$frag", // no scheme: passthrough arm
        (0 until rnd.nextInt(12)).map(_ =>
          pick(Seq('a', 'Z', '#', '?', '&', '/', ':', '=', '@', '中', ' ',
            '\n', '\r'))).mkString,
        ""))
    }
    // independent plain-Scala reference implementation of the documented
    // rules — the engine expression must agree byte-for-byte on the whole
    // soup (a DIFFERENTIAL pin, so expression-level rewrites of the column
    // algebra can't silently change the key function)
    def refCanon(url: String): String = {
      if (url == null) return null
      val base = url.takeWhile(_ != '#')
      if (!base.contains("://")) return base
      val scheme = base.substring(0, base.indexOf("://"))
      val rest = base.substring(scheme.length + 3)
      val hostport = rest.takeWhile(c => c != '/' && c != '?')
      val tail0 = rest.substring(hostport.length)
      val at = hostport.lastIndexOf('@')
      val ui = if (at >= 0) hostport.substring(0, at + 1) else ""
      var host = hostport.substring(at + 1).toLowerCase
      val sl = scheme.toLowerCase
      if (sl == "http") host = host.replaceAll("(:80)+$", "")
      else if (sl == "https") host = host.replaceAll("(:443)+$", "")
      val path = tail0.takeWhile(_ != '?').replaceAll("/+$", "")
      val qi = tail0.indexOf('?')
      val qs = if (qi >= 0) tail0.substring(qi + 1) else ""
      val track = java.util.regex.Pattern.compile(Web.TrackingParamPattern)
      def utf8Lt(x: String, y: String): Boolean = { // sort_array's binary order
        val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          if (a(i) != b(i)) return (a(i) & 0xff) < (b(i) & 0xff)
          i += 1
        }
        a.length < b.length
      }
      val toks = qs.split("&", -1).toSeq
        .filter(p => p.nonEmpty && !track.matcher(p).find())
        .sortWith(utf8Lt)
      sl + "://" + ui + host + path +
        (if (toks.isEmpty) "" else "?" + toks.mkString("&"))
    }
    val soup = (1 to 3000).map(_ => genUrl()).toDF("url")
      .select($"url", Web.canonicalizeUrl($"url").as("c1"))
      .select($"url", $"c1", Web.canonicalizeUrl($"c1").as("c2"))
      .collect()
    val notIdem = soup.filter(r => !java.util.Objects.equals(r.get(1), r.get(2)))
    assert(notIdem.isEmpty, "non-idempotent: " + notIdem.take(5).toSeq.map(r =>
      s"url=${r.get(0)} c1=${r.get(1)} c2=${r.get(2)}"))
    val notRef = soup.filter(r =>
      !java.util.Objects.equals(r.get(1), refCanon(r.getString(0))))
    assert(notRef.isEmpty, "engine != reference: " + notRef.take(5).toSeq.map(r =>
      s"url=${r.get(0)} engine=${r.get(1)} ref=${refCanon(r.getString(0))}"))
    // fragment never survives; tracking params never survive a real URL
    val canon = soup.map(_.getString(1)).filter(_ != null)
    assert(canon.forall(!_.contains("#")))
    val trackRe = "[?&](utm_[^=&]*|gclid|fbclid|msclkid)(=|&|$)".r
    assert(canon.filter(_.contains("://"))
      .forall(c => trackRe.findFirstIn(c).isEmpty))
  }

  test("Csv source: RFC-4180 quoting round-trips; newline values fail fast") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-csvspec-").toString + "/out"
    val d = Seq(
      ("a", "plain text", 1L),
      ("b", "comma, inside", 2L),
      ("c", "a \"quoted\" word", 3L),
      ("d", null.asInstanceOf[String], 4L)
    ).toDF("id", "content", "n")
    graft.sources.Csv.writeDocs(d, dir)
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("content", StringType), StructField("n", LongType)))
    val back = graft.sources.Csv.readDocs(spark, dir, schema)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(back.toSeq === Seq(("a", "plain text", 1L), ("b", "comma, inside", 2L),
      ("c", "a \"quoted\" word", 3L), ("d", null, 4L)))
    val bad = Seq(("x", "line\nbreak")).toDF("id", "content")
    val e = intercept[Exception] {
      graft.sources.Csv.writeDocs(bad, dir + "2")
    }
    assert(e.getMessage != null)
  }

  test("knnGraph: planted clusters recover their own members; no self edges; <=k per id") {
    // two tight clusters far apart: every vector's neighbors must be its
    // own cluster's other members
    val c1 = (1 to 6).map(i => (s"a$i", Array(1.0f, 0.001f * i, 0.0f)))
    val c2 = (1 to 6).map(i => (s"b$i", Array(0.0f, 0.001f * i, 1.0f)))
    val df = (c1 ++ c2).toDF("id", "embedding")
    val g = Ann.knnGraph(df, k = 3, numTables = 8, numPlanes = 2, dim = 3)
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(g.nonEmpty)
    assert(g.forall { case (id, nb) => id.head == nb.head }, g.toSeq) // same cluster
    assert(g.forall { case (id, nb) => id != nb })
    val perId = g.groupBy(_._1).map(_._2.size)
    assert(perId.forall(_ <= 3))
  }

  test("int8TopKAll (one corpus scan) equals per-query int8TopK") {
    val corpus = (1 to 60).map(i =>
      (s"v$i", Array(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
        math.sin(i * 0.3).toFloat))).toDF("id", "embedding")
    val qs = Seq("a" -> Seq(1.0f, 0.2f, 0.1f), "b" -> Seq(-0.3f, 0.8f, 0.5f))
    val bulk = graft.ext.Quantize.int8TopKAll(corpus, qs, k = 5)
      .select("qid", "rn", "id").collect().toSet
    val per = graft.ext.Quantize.int8TopK(corpus, qs, k = 5)
      .select("qid", "rn", "id").collect().toSet
    assert(bulk === per && bulk.size === 10)
  }

  test("rankingMetrics: hand-computed recall/MRR/NDCG; zero-hit and absent queries") {
    val truth = Seq(("q1", 1, "a"), ("q1", 2, "b"), ("q1", 3, "c"),
      ("q2", 1, "a"), ("q3", 1, "z")).toDF("qid", "rn", "id")
    val run = Seq(("q1", 1, "b"), ("q1", 2, "x"), ("q1", 3, "a"),
      ("q2", 1, "nope")).toDF("qid", "rn", "id") // q3 absent from the run
    val out = Ann.rankingMetrics(truth, run, k = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val dcg = 1.0 / log2(2) + 1.0 / log2(4)            // hits at run-rank 1 and 3
    val idcg = 1.0 / log2(2) + 1.0 / log2(3) + 1.0 / log2(4)
    assert(out("q1")._1 === 3L && out("q1")._2 === 2L)
    assert(math.abs(out("q1")._3 - 2.0 / 3) < 1e-12)
    assert(out("q1")._4 === 1.0)                        // first hit at rank 1
    assert(math.abs(out("q1")._5 - dcg / idcg) < 1e-12)
    assert(out("q2") === ((1L, 0L, 0.0, 0.0, 0.0)))     // ranked but no hit
    assert(out("q3") === ((1L, 0L, 0.0, 0.0, 0.0)))     // absent from the run
    intercept[IllegalArgumentException](Ann.rankingMetrics(truth, run, k = 0))
  }

  test("centroidSimilarity: hand-checkable means, unordered pairs, chunk counts") {
    val ch = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(3.0f, 0.0f)), // mean (2,0)
      ("b", Array(0.0f, 2.0f)),                            // mean (0,2)
      ("c", Array(1.0f, 1.0f))                             // mean (1,1)
    ).toDF("source", "embedding")
    val out = Pipeline.centroidSimilarity(ch, "source").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.keySet === Set(("a", "b"), ("a", "c"), ("b", "c"))) // g_a < g_b only
    assert(out(("a", "b"))._3 === 0.0)
    assert(math.abs(out(("a", "c"))._3 - 1.0 / math.sqrt(2)) < 1e-12)
    assert(out(("a", "b"))._1 === 2L && out(("a", "b"))._2 === 1L)
  }

  test("rollingAgg: trailing range frame with inclusive bounds and equal-ts peers") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 00:30:00"), 2.0),
      (1L, ts("2024-01-01 01:00:00"), 4.0),  // 1 h boundary: 00:00 still IN frame
      (1L, ts("2024-01-01 02:30:00"), 8.0),  // all others aged out
      (1L, ts("2024-01-01 02:30:00"), 16.0), // equal-ts peer: both see both
      (2L, ts("2024-01-01 00:45:00"), 100.0) // other key unaffected
    ).toDF("user_id", "ts", "value")
    val out = EventStreams.rollingAgg(evs, Seq("user_id"), "1 hour")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3), r.getDouble(4)))
      .sortBy(x => (x._1, x._2.getTime, x._4))
    assert(out.toSeq === Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 00:30:00"), 2L, 3.0),
      (1L, ts("2024-01-01 01:00:00"), 3L, 7.0),
      (1L, ts("2024-01-01 02:30:00"), 2L, 24.0),
      (1L, ts("2024-01-01 02:30:00"), 2L, 24.0),
      (2L, ts("2024-01-01 00:45:00"), 1L, 100.0)))
    // caller column named __ts_us survives untouched
    val poisoned = evs.withColumn("__ts_us", lit("keep"))
    val p = EventStreams.rollingAgg(poisoned, Seq("user_id"), "1 hour")
    assert(p.columns.contains("__ts_us") &&
      p.select("__ts_us").distinct().collect().map(_.getString(0)).toSeq === Seq("keep"))
    intercept[IllegalArgumentException](EventStreams.rollingAgg(evs, Seq.empty, "1 hour"))
    intercept[IllegalArgumentException](EventStreams.rollingAgg(evs, Seq("user_id"), "1 month"))
  }

  test("lengthQuantiles: exact interpolated values; sketch lands inside the rank-error bound") {
    // group g: lengths 1..9 chars ("a", "aa", ...) — exact quartiles are
    // closed-form: q(p) = 1 + 8p (linear interpolation over 9 points)
    val d = (1 to 9).map(i => ("g", "a" * i)).toDF("source", "content")
    val out = TextStats.lengthQuantiles(d, "source", probs = Seq(0.25, 0.5, 0.75))
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getBoolean(4))).sortBy(_._1)
    assert(out.map(x => (x._1, x._2)).toSeq === Seq((0.25, 3.0), (0.5, 5.0), (0.75, 7.0)))
    assert(out.forall(_._3), "sketch outside the rank-error bound on 9 rows")
    intercept[IllegalArgumentException](
      TextStats.lengthQuantiles(d, "source", probs = Seq(1.5)))
  }

  test("sampleWeighted: weight 1 keeps all, 0/NULL keep none, clamped, seed-stable, zero shuffle") {
    val d = (1 to 400).map(i => (s"d$i", i.toDouble / 400)).toDF("id", "w")
    val kept = Pipeline.sampleWeighted(d, "w", seed = 3L)
    val n = kept.count()
    assert(n > 100 && n < 300) // E ≈ 200: the draw tracks the weight
    // determinism + seed independence
    assert(Pipeline.sampleWeighted(d, "w", seed = 3L).collect().toSeq === kept.collect().toSeq)
    assert(Pipeline.sampleWeighted(d, "w", seed = 4L).count() !== n)
    val edge = Seq[(String, java.lang.Double)](("a", 1.0), ("b", 0.0), ("c", null),
      ("d", 2.5), ("e", -1.0)).toDF("id", "w")
    val ids = Pipeline.sampleWeighted(edge, "w").select("id").as[String].collect().toSet
    assert(ids.contains("a") && !ids.contains("b") && !ids.contains("c") && !ids.contains("e"))
    assert(ids.contains("d")) // clamped to 1 -> always kept
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(Pipeline.sampleWeighted(d, "w").queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("funnel: greedy-earliest chain, strict ordering, within bound; stateful ≡ batch ≡ stream") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      // u1 completes inside 1 hour: view 00:00, click 00:10, purchase 00:30
      (1L, ts("2024-01-01 00:00:00"), "view"),
      (1L, ts("2024-01-01 00:10:00"), "click"),
      (1L, ts("2024-01-01 00:30:00"), "purchase"),
      // u2: greedy chain (view 00:00 -> click 02:00 -> purchase 02:30)
      // exceeds the 1 h bound even though a later view would have fit
      (2L, ts("2024-01-01 00:00:00"), "view"),
      (2L, ts("2024-01-01 02:00:00"), "view"),
      (2L, ts("2024-01-01 02:00:00"), "click"),
      (2L, ts("2024-01-01 02:30:00"), "purchase"),
      // u3: click BEFORE the first view never counts (strict order)
      (3L, ts("2024-01-01 00:05:00"), "click"),
      (3L, ts("2024-01-01 00:10:00"), "view"),
      (3L, ts("2024-01-01 00:20:00"), "purchase")
    )
    val df = evs.toDF("user_id", "ts", "event_type")
    val steps = Seq("view", "click", "purchase")
    val batch = EventStreams.funnel(df, steps, within = Some("1 hour"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(3)))
    assert(batch.toSeq === Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"))))
    // unbounded: u2's greedy chain completes (02:30), u3 never does
    val open = EventStreams.funnel(df, steps).collect().map(_.getLong(0)).toSet
    assert(open === Set(1L, 2L))
    // stateful in batch mode = same rows
    val st = EventStreams.funnelStateful(df, steps, within = Some("1 hour"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    assert(st.toSeq === Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"))))
    // streaming over two in-order micro-batches (u1's chain SPANS the batch
    // boundary): same single completion, emitted once
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = mem.toDF().toDF("user_id", "ts", "event_type")
    val q = EventStreams.funnelStateful(sdf, steps, within = Some("1 hour"))
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    mem.addData(evs.filter(_._2.before(ts("2024-01-01 00:15:00"))): _*)
    q.processAllAvailable()
    mem.addData(evs.filterNot(_._2.before(ts("2024-01-01 00:15:00"))): _*)
    q.processAllAvailable()
    // a replayed later event for an already-done user must NOT re-emit
    mem.addData((1L, ts("2024-01-01 03:00:00"), "purchase"))
    q.processAllAvailable()
    val streamed = spark.table("funnel_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    q.stop()
    assert(streamed.toSeq === st.toSeq)
    // watermarked variant (EventTimeTimeout state expiry armed): identical
    // completions for in-window data
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q2 = EventStreams.funnelStateful(
        mem2.toDF().toDF("user_id", "ts", "event_type"), steps,
        within = Some("1 hour"), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("funnel_wm_out").outputMode("append").start()
    mem2.addData(evs: _*)
    q2.processAllAvailable()
    val wmRows = spark.table("funnel_wm_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    q2.stop()
    assert(wmRows.toSeq === st.toSeq)
  }

  test("lexicalDiversity: hand-counted TTR, hapax ratio, top-token share per group") {
    val d = Seq(
      ("s1", "a a a b c"),   // tokens 5, types 3 (a:3 b:1 c:1), hapax 2, top 3
      ("s1", "b d"),         // s1 total: tokens 7, types 4 (a:3 b:2 c:1 d:1), hapax 2, top 3
      ("s2", "x y z")        // tokens 3, types 3, hapax 3, top 1
    ).toDF("source", "content")
    val out = TextStats.lexicalDiversity(d, "source").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("s1") === ((7L, 4L, 2L, 4.0 / 7, 2.0 / 4, 3.0 / 7)))
    assert(out("s2") === ((3L, 3L, 3L, 1.0, 1.0, 1.0 / 3)))
  }

  test("mmrRerank: diversity beats redundancy; lambda=1 degenerates to exact order") {
    // q is NOT aligned with any doc (a query on the first pick's axis makes
    // penalty ≡ sim and ties everything); e1/e2 near-identical and closest
    // to q, e3 distinct but still relevant
    val corpus = Seq(
      ("e1", Array(1.0f, 0.0f, 0.0f)),
      ("e2", Array(0.99f, 0.0f, 0.01f)),
      ("e3", Array(0.2f, 1.0f, 0.0f)),
      ("e4", Array(0.0f, 0.0f, 1.0f))
    ).toDF("id", "embedding")
    val q = Seq(1.0f, 0.2f, 0.0f)
    val mmr = Ann.mmrRerank(corpus, Seq("q" -> q), k = 3, candK = 4, lambda = 0.5)
      .orderBy("rn").collect().map(r => (r.getLong(1), r.getString(2)))
    // pick1 = e1 (argmax sim); pick2 = e3 (e2's redundancy penalty ~1 kills it)
    assert(mmr.take(2).toSeq === Seq((1L, "e1"), (2L, "e3")))
    // lambda=1: pure relevance — identical order to exactTopK
    val pure = Ann.mmrRerank(corpus, Seq("q" -> q), k = 4, candK = 4, lambda = 1.0)
      .orderBy("rn").collect().map(_.getString(2)).toSeq
    val exact = Ann.exactTopK(corpus, Seq("q" -> q), k = 4)
      .orderBy("rn").collect().map(_.getString(2)).toSeq
    assert(pure === exact)
    // mmr score of pick 1 is lambda*sim; ranks are 1-based and dense
    val r1 = Ann.mmrRerank(corpus, Seq("q" -> q), k = 2, candK = 4, lambda = 0.5)
      .filter(col("rn") === 1).collect().head
    assert(math.abs(r1.getDouble(3) - 0.5 * r1.getDouble(4)) < 1e-12)
    intercept[IllegalArgumentException](Ann.mmrRerank(corpus, Seq("q" -> q), k = 5, candK = 4))
    intercept[IllegalArgumentException](
      Ann.mmrRerank(corpus, Seq("q" -> q, "q" -> q), k = 2, candK = 4))
  }

  test("poolEmbeddings: hand-checkable mean, L2 norm, NULL chunks ignored, all-NULL drops") {
    val ch = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(3.0f, 0.0f)),   // mean (2,0) -> unit (1,0)
      ("b", Array(0.0f, 2.0f)), ("b", null),                 // null chunk ignored: mean (0,2) over n=1
      ("c", null.asInstanceOf[Array[Float]]),                // nothing to pool
      ("z", Array(0.0f, 0.0f))                               // zero vector stays zero
    ).toDF("id", "embedding")
    val byId = Pipeline.poolEmbeddings(ch).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(!byId.contains("c"))
    assert(byId("a") === ((2L, Seq(1.0, 0.0))))
    assert(byId("b") === ((1L, Seq(0.0, 1.0))))
    assert(byId("z") === ((1L, Seq(0.0, 0.0))))
    // un-normalized = plain mean
    val raw = Pipeline.poolEmbeddings(ch, normalize = false).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    assert(raw("a") === Seq(2.0, 0.0))
    // mixed dims in one group fail fast rather than silently truncating
    val bad = Seq(("m", Array(1.0f)), ("m", Array(1.0f, 2.0f))).toDF("id", "embedding")
    intercept[org.apache.spark.SparkException] {
      Pipeline.poolEmbeddings(bad).collect()
    }
    // one aggregate shuffle only (map-side combined), never a dim-explode
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = Pipeline.poolEmbeddings(ch).queryExecution.executedPlan
        .collect { case s: ShuffleExchangeExec => s }.size
      assert(n === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bloomDedupAgainst equals the plain exact anti-join, incl. forced false positives") {
    // corpus large enough that a tiny bloom (expectedItems=1, fpp floor)
    // yields real false positives — those must be cleared by the sha2
    // verify arm, never dropped
    val corpus = (1 to 200).map(i => (s"c$i", s"unique corpus doc number $i"))
      .toDF("id", "content")
      .unionByName(Seq("cdup" -> "planted shared text").toDF("id", "content"))
    val ref = Seq("r1" -> "planted shared text", "r2" -> "ref-only text")
      .toDF("id", "content")
    val viaBloom = Dedup.bloomDedupAgainst(corpus, ref, expectedItems = 1L, fpp = 0.5)
      .select("id").as[String].collect().toSet
    val plain = Dedup.dedupAgainst(corpus, ref, near = false)
      .select("id").as[String].collect().toSet
    assert(viaBloom === plain)
    assert(!viaBloom.contains("cdup") && viaBloom.size === 200)
    // the bloom probe itself is a scan predicate: the clean-mass branch
    // (filter !might) plans with ZERO shuffles
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val bloom = ref.select(xxhash64(col("content")).as("h"))
      .stat.bloomFilter("h", 100L, 0.01)
    val clean = corpus
      .filter(!graft.functions.BloomFunctions.mightContainLong(
        xxhash64(col("content")), bloom))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(clean.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("working columns never clobber caller columns of the same name") {
    // frames poisoned with the operators' own scratch names: the poisoned
    // column must survive the round trip with its caller values intact,
    // and the operator result must equal the clean run's
    val corpus = Seq(
      ("c1", "the quick brown fox jumps over the lazy dog", "keepme-c1"),
      ("c2", "completely different text entirely", "keepme-c2")
    ).toDF("id", "content", "__h")
    val ref = Seq("r1" -> "the quick brown fox jumps over the lazy dog")
      .toDF("id", "content")
    val da = Dedup.dedupAgainst(corpus, ref, near = false)
    assert(da.columns.toSeq === Seq("id", "content", "__h"))
    assert(da.select("id", "__h").as[(String, String)].collect().toSet
      === Set("c2" -> "keepme-c2"))

    val sh = Pipeline.shuffleShards(
      Seq(("a", "x", "poison-a"), ("b", "y", "poison-b")).toDF("id", "content", "__rk"),
      numShards = 2, seed = 7L)
    assert(sh.select("id", "__rk").as[(String, String)].collect().toSet
      === Set("a" -> "poison-a", "b" -> "poison-b"))

    val rep = TextStats.repetition(
      Seq(("a", "one two one two", 99L)).toDF("id", "content", "__n_toks"))
    assert(rep.select("__n_toks").as[Long].head() === 99L)
    assert(rep.select("top_ngram_tf").as[Long].head() === 2L) // "one two" ×2

    val strip = Dedup.stripDuplicateSpans(
      Seq(("a", "x y z", Seq("poison"))).toDF("id", "content", "__toks"),
      k = 2, minCount = 2)
    assert(strip.select("__toks").as[Seq[String]].head() === Seq("poison"))
    assert(strip.select("content_dedup").as[String].head() === "x y z")
  }

  test("splitCorpus: total deterministic partition, growth-stable, seed re-keys") {
    val d = (1 to 400).map(i => (s"doc$i", s"text $i")).toDF("id", "content")
    val out = Pipeline.splitCorpus(d,
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
      .select("id", "split").as[(String, String)].collect().toMap
    // total: every doc lands in exactly one named split
    assert(out.size === 400)
    assert(out.values.toSet.subsetOf(Set("train", "validation", "test")))
    // fractions are approximately honored (md5 is uniform; 400 docs)
    val byName = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName("train") > 280 && byName("train") < 360)
    // deterministic: bit-identical on re-run
    val again = Pipeline.splitCorpus(d,
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
      .select("id", "split").as[(String, String)].collect().toMap
    assert(out === again)
    // growth-stable: assignments are unchanged on a SUBSET of the corpus —
    // the property that keeps a held-out test set honest as data arrives
    val subset = Pipeline.splitCorpus(d.limit(100),
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 7L)
      .select("id", "split").as[(String, String)].collect().toMap
    assert(subset.forall { case (id, sp) => out(id) === sp })
    // a different seed is an independent draw
    val reseeded = Pipeline.splitCorpus(d,
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), seed = 8L)
      .select("id", "split").as[(String, String)].collect().toMap
    assert(reseeded !== out)
    // zero shuffle: pure scan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(Pipeline.splitCorpus(d, Seq("a" -> 0.5, "b" -> 0.5))
      .queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // validation: fractions must sum to 1, names unique
    intercept[IllegalArgumentException] {
      Pipeline.splitCorpus(d, Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Pipeline.splitCorpus(d, Seq("a" -> 0.5, "a" -> 0.5))
    }
  }

  test("shuffleShards: deterministic permutation, dense per-shard positions") {
    val d = (1 to 200).map(i => (s"doc$i", s"payload $i")).toDF("id", "content")
    val out = Pipeline.shuffleShards(d, numShards = 4, seed = 7L)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 200)
    assert(out.map(_._2).forall(s => s >= 0 && s < 4))
    // positions are dense 0..m-1 within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    // reproducible bit-for-bit; different seed gives a different permutation
    val again = Pipeline.shuffleShards(d, numShards = 4, seed = 7L)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val other = Pipeline.shuffleShards(d, numShards = 4, seed = 8L)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq !== other.sortBy(_._1).toSeq)
  }

  test("topTokens: frequency ranking, doc freq, tie-break, and mass fraction") {
    val d = Seq(
      ("a", "spark spark spark flink"),
      ("b", "spark flink beam"),
      ("c", "beam beam")
    ).toDF("id", "content")
    val top = TextStats.topTokens(d, k = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // 9 tokens total: spark 4 (2 docs), beam 3 (2 docs), flink 2 (2 docs)
    assert(top.toSeq === Seq(
      (1, "spark", 4L, 2L, 4.0 / 9),
      (2, "beam", 3L, 2L, 3.0 / 9)))
    // tie-break: equal counts order by token text
    val tied = Seq(("a", "zz aa")).toDF("id", "content")
    val t2 = TextStats.topTokens(tied, k = 2).collect().map(_.getString(1))
    assert(t2.toSeq === Seq("aa", "zz"))
  }

  test("Bpe: merge learning, tie-break, encoding, and model roundtrip hand-checked") {
    import graft.ext.Bpe
    // word counts: aa:2, ab:1 -> pair (a,a) wins round 1 (count 2), then
    // ab's (a,b) is the only pair left
    val m = Bpe.trainFromCounts(Seq("aa" -> 2L, "ab" -> 1L), numMerges = 5)
    assert(m.merges === Vector(("a", "a"), ("a", "b"))) // early-exhaust at 2
    assert(m.encodeWord("aab") === Vector("aa", "b"))
    assert(m.encodeWord("abb") === Vector("ab", "b"))
    assert(m.encodeWord("aaa") === Vector("aa", "a")) // left-to-right non-overlap
    assert(m.encodeWord("") === Vector.empty)
    // tie-break is lexicographic on the pair
    val t = Bpe.trainFromCounts(Seq("zy" -> 1L, "ab" -> 1L), numMerges = 1)
    assert(t.merges === Vector(("a", "b")))
    // corpus training + column encode + roundtrip
    val d = Seq(("1", "aa aa ab"), ("2", null.asInstanceOf[String])).toDF("id", "content")
    val m2 = Bpe.train(d, numMerges = 5, maxWords = 100)
    assert(m2.merges === m.merges)
    val enc = Bpe.encode(d, m2).collect()
      .map(r => r.getString(0) -> (r.getSeq[String](2), r.getLong(3))).toMap
    assert(enc("1") === (Seq("aa", "aa", "ab"), 3L))
    assert(enc("2") === (Seq.empty, 0L)) // null content -> empty, 0
    assert(Bpe.fromFrame(m2.toFrame(spark)).merges === m2.merges)
  }

  test("plan shapes: the round-6 operators shuffle exactly as documented") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // plain physical plans (AQE's adaptive wrapper hides the exchange tree
    // from TreeNode traversal, making absence checks pass vacuously)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = Seq(("1", "one two three four"), ("2", "five six"))
        .toDF("id", "content")
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s
        }.size
      // chunking: pure scan + explode, ZERO shuffle
      assert(shuffles(Pipeline.chunkDocuments(d, 3, 2)) === 0)
      // shard shuffle: exactly ONE exchange (the hash shuffle into shards)
      assert(shuffles(Pipeline.shuffleShards(d, numShards = 4)) === 1)
      // histogram: the doc-level agg's exchange plus the tiny-frame window
      // repartition — the corpus itself crosses the wire once
      val hist = TextStats.lengthHistogram(d.withColumn("source", lit("s")),
        bucketWidth = 2)
      assert(shuffles(hist) <= 2, hist.queryExecution.executedPlan.toString)
      // topTokens: the corpus-total branch must stay column-pruned — the
      // expensive count-distinct expand appears in the top-k branch ONLY
      // (one heavy pass + one light pass), and the whole report is four
      // exchanges (tok + (tok,id) under the top-k branch; tok + scalar
      // under the pruned total branch)
      val top = TextStats.topTokens(d, k = 3)
      val planStr = top.queryExecution.executedPlan.toString
      // "count(distinct" appears as final + partial in the top-k branch
      // only; a non-pruned total branch would double it to 4 (and add its
      // (tok, id) exchange — 5 shuffles instead of 4). Upper bounds, not
      // exact counts: a Spark minor bump that PRUNES harder must not fail
      // the suite — only a plan that got heavier is a regression.
      assert("count\\(distinct ".r.findAllIn(planStr).size <= 2, planStr)
      assert(shuffles(top) <= 4, planStr)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Jsonl: roundtrip preserves content; writeShards lays out shard=N dirs") {
    import graft.sources.Jsonl
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-").toString
    val docs = Seq(
      ("1", "line one\nline two \"quoted\"", Map("lang" -> "en")),
      ("2", null.asInstanceOf[String], Map.empty[String, String])
    ).toDF("id", "content", "metadata")
    Jsonl.writeDocs(docs, s"$dir/docs")
    val back = Jsonl.readDocs(spark, s"$dir/docs")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(back === Map("1" -> Some("line one\nline two \"quoted\""), "2" -> None))
    // shard sink: one dir per shard, pos column rides along, rows complete
    val many = (1 to 40).map(i => (s"d$i", s"text $i")).toDF("id", "content")
    Jsonl.writeShards(many, s"$dir/shards", numShards = 4, seed = 3L)
    val dirs = new java.io.File(s"$dir/shards").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.length === 4)
    val reread = spark.read.schema("id STRING, content STRING, pos LONG, shard INT")
      .json(s"$dir/shards")  // partition column comes from the path
    assert(reread.count() === 40)
    assert(reread.select("id").distinct().count() === 40)
  }

  test("gopherFilter: every rule's boundary hand-checked") {
    // diverse wording on purpose: a repeated phrase would (correctly) trip
    // the top-2-gram rule — every 2-gram here is unique
    val good = ("good", "the quick brown fox jumps over that lazy dog " +
      "while many other animals watch from nearby hills today")
    val d = Seq(
      good,                                           // 18 words, 2 stops, clean
      ("short", "the of and"),                        // fails word-count floor
      ("longwords", ("the " + "abcdefghijklmnop " * 60).trim), // mean len > 10
      ("nostops", ("zebra quokka wombat dingo lorikeet " * 12).trim), // 0 stop hits
      ("bullets", ("- item\n" * 19) + "the end of that have with story line here now ok " +
        ("filler words here also " * 11).trim),       // 19/20 lines bullets > 0.9
      ("ellipsis", "the story continues...\nmore of that...\nplain line with have and the rest of words here making this long enough to pass the floor easily today"),
      ("nulldoc", null.asInstanceOf[String])
    ).toDF("id", "content")
    val out = TextStats.gopherFilter(d, minWords = 10, minStopwordHits = 2)
      .select("id", "keep").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out("good"))
    assert(!out("short"))     // 3 words < 10
    assert(!out("longwords")) // mean word length > 10
    assert(!out("nostops"))   // no Gopher stop words
    assert(!out("bullets"))   // bullet_line_frac 19/20 > 0.9
    assert(!out("ellipsis"))  // 2/3 lines end with ellipsis > 0.3
    assert(!out("nulldoc"))   // null -> 0 words
    // metric spot-check on the good doc: all words alpha, stops = the/that
    val row = TextStats.gopherFilter(d, minWords = 10)
      .filter(col("id") === "good")
      .select("n_words", "alpha_word_frac", "n_stop_hits").head()
    assert(row.getLong(0) === 18L)
    assert(row.getDouble(1) === 1.0)
    assert(row.getInt(2) === 2)
  }

  test("lengthHistogram: buckets, token mass, and CDF hand-checked") {
    val d = Seq(
      ("web", "one two three"),            // 3 tokens -> bucket 0
      ("web", "a b c d e"),                // 5 tokens -> bucket 1
      ("web", "x y z w v u"),              // 6 tokens -> bucket 1
      ("code", null.asInstanceOf[String]), // 0 tokens -> bucket 0
      ("code", "def f(): pass")            // 3 tokens -> bucket 0
    ).toDF("source", "content")
    val h = TextStats.lengthHistogram(d, bucketWidth = 4, groupCol = "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(h === Set(
      ("web", 0L, 0L, 1L, 3L, 1L, 1.0 / 3),
      ("web", 1L, 4L, 2L, 11L, 3L, 1.0),
      ("code", 0L, 0L, 2L, 3L, 2L, 1.0)))
  }

  // --- temporal joins --------------------------------------------------------

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000).toInstant
    .plusNanos((us % 1000) * 1000)

  private def eventsFixture = {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // left: outcomes; right: signals per user
    val left = Seq(
      (1L, 100L, t("2024-01-01 10:00:00")),
      (1L, 101L, t("2024-01-01 12:00:00")),
      (2L, 200L, t("2024-01-01 09:00:00")), // before any right row
      (3L, 300L, t("2024-01-01 10:30:00"))  // user with no right rows at all
    ).toDF("user_id", "event_id", "ts")
    val right = Seq(
      (1L, t("2024-01-01 09:59:00"), 1.0),
      (1L, t("2024-01-01 10:00:00"), 2.0),  // exactly at left 100's instant
      (1L, t("2024-01-01 11:30:00"), 3.0),
      (2L, t("2024-01-01 09:30:00"), 4.0)   // after left 200
    ).toDF("user_id", "ts", "value")
    (left, right)
  }

  test("asofJoin: latest right at-or-before; strict excludes the equal instant; unmatched NULL") {
    import graft.ext.Joins
    val (left, right) = eventsFixture
    val out = Joins.asofJoin(left, right, Seq("user_id"))
      .select("event_id", "r_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out === Map(100L -> 2.0, // inclusive: the equal-instant row wins
      101L -> 3.0, 200L -> null, 300L -> null))
    val strict = Joins.asofJoin(left, right, Seq("user_id"), strict = true)
      .select("event_id", "r_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(strict(100L) === 1.0) // equal instant no longer admissible
    assert(strict(101L) === 3.0)
  }

  test("asofJoin forward: earliest right at-or-after; strict excludes the equal instant") {
    import graft.ext.Joins
    val (left, right) = eventsFixture
    val out = Joins.asofJoin(left, right, Seq("user_id"), direction = "forward")
      .select("event_id", "r_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out === Map(
      100L -> 2.0,  // equal instant admissible
      101L -> null, // nothing after 12:00 for user 1
      200L -> 4.0,  // the 09:30 row is the next after 09:00
      300L -> null))
    val strict = Joins.asofJoin(left, right, Seq("user_id"), strict = true,
      direction = "forward")
      .select("event_id", "r_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(strict(100L) === 3.0) // equal instant skipped -> 11:30 row
  }

  test("asofJoin: right rows tied on the instant resolve by tieCols order, deterministically") {
    import graft.ext.Joins
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, 100L, t("2024-01-01 10:00:00"))).toDF("user_id", "event_id", "ts")
    val right = Seq(
      (1L, t("2024-01-01 09:00:00"), 7.0),
      (1L, t("2024-01-01 09:00:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    val v = Joins.asofJoin(left, right, Seq("user_id"))
      .select("r_value").head().getDouble(0)
    assert(v === 7.0) // last by ascending value-string order ("7.0" > "5.0")
  }

  test("asofJoin plan: one window over the union, no join operator at all") {
    import graft.ext.Joins
    val (left, right) = eventsFixture
    val plan = Joins.asofJoin(left, right, Seq("user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"))
    assert(!plan.toLowerCase.contains("cartesian") && !plan.contains("BroadcastNestedLoop"))
  }

  test("rangeJoin: trailing window pairs, inclusive and strict bounds, bucket-boundary rows") {
    import graft.ext.Joins
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 100L, t("2024-01-01 10:00:00")),
      (1L, 101L, t("2024-01-01 12:00:00"))
    ).toDF("user_id", "event_id", "ts")
    val right = Seq(
      (1L, 900L, t("2024-01-01 09:30:00")), // within 100's hour, 2.5h before 101
      (1L, 901L, t("2024-01-01 10:00:00")), // equal instant: inclusive only
      (1L, 902L, t("2024-01-01 11:00:00")), // exactly window lower bound of 101
      (1L, 903L, t("2024-01-01 12:30:00")), // after both
      (2L, 904L, t("2024-01-01 10:00:00"))  // other key
    ).toDF("user_id", "event_id", "ts")
    val pairs = Joins.rangeJoin(left, right, Seq("user_id"), "1 hour",
        rightPayload = Seq("event_id"))
      .select(col("event_id"), col("r_event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 900L), (100L, 901L), (101L, 902L)))
    val strictPairs = Joins.rangeJoin(left, right, Seq("user_id"), "1 hour",
        rightPayload = Seq("event_id"), strict = true)
      .select(col("event_id"), col("r_event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strictPairs === Set((100L, 900L), (101L, 902L)))
  }

  test("rangeJoin agrees with the naive theta-join on a dense fixture") {
    import graft.ext.Joins
    val l = (0 until 50).map(i => (i % 3L, i.toLong, ts(i * 700L * 1000000)))
      .toDF("user_id", "event_id", "ts")
    val r = (0 until 80).map(i => (i % 3L, 1000L + i, ts(i * 450L * 1000000)))
      .toDF("user_id", "ts_r", "ts").select(col("user_id"), col("ts"), col("ts_r"))
    val got = Joins.rangeJoin(l, r, Seq("user_id"), "30 minutes", rightPayload = Seq("ts_r"))
      .select("event_id", "r_ts_r").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = l.as("l").join(r.as("r"), $"l.user_id" === $"r.user_id" &&
        $"r.ts" <= $"l.ts" && $"r.ts" >= $"l.ts" - expr("INTERVAL 30 MINUTES"))
      .select($"l.event_id", $"r.ts_r").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === want && got.nonEmpty)
  }

  test("Joins.windowMicros parses units; rejects garbage") {
    import graft.ext.Joins
    assert(Joins.windowMicros("30 minutes") === 30L * 60 * 1000000)
    assert(Joins.windowMicros("1 hour") === 3600L * 1000000)
    assert(Joins.windowMicros("500 milliseconds") === 500000L)
    assert(Joins.windowMicros("2 DAYS") === 2L * 86400 * 1000000)
    intercept[IllegalArgumentException](Joins.windowMicros("next tuesday"))
  }

  test("normalizeText: each rule fires; clean text unchanged; null stays null") {
    val d = Seq(
      ("q", "she said \u201chi\u201d \u2014 it\u2019s fine\u2026"),
      ("ws", "  a\t\tb  \n   c\n\n\n\n\nd  "),
      ("ctl", "a\u0001b\u0007c"),
      ("nbsp", "a\u00a0b\u200bc"),
      ("clean", "already clean text"),
      ("nul", null.asInstanceOf[String])
    ).toDF("id", "content")
    val out = TextStats.normalizeText(d)
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out("q") === ("she said \"hi\" - it's fine...", true))
    assert(out("ws") === ("a b\nc\n\nd", true))
    assert(out("ctl") === ("abc", true))
    assert(out("nbsp") === ("a bc", true))
    assert(out("clean") === ("already clean text", false))
    assert(out("nul")._1 === null)
    assert(out("nul")._2 === false)
  }

  test("groupOverlap: hand-checked Jaccard matrix; hashed == exact; disjoint pair absent") {
    val d = Seq(
      ("web", "a b c d"),     // grams: {a b c, b c d}
      ("code", "a b c x"),    // grams: {a b c, b c x}
      ("web", "a b c d"),     // duplicate doc: distinct-set unchanged
      ("lone", "p q r s")     // shares nothing
    ).toDF("source", "content")
    val exact = TextStats.groupOverlap(d, "source", n = 3, hashGrams = false)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // web ∩ code = {a b c} -> 1 / (2 + 2 - 1)
    assert(exact === Map(("code", "web") -> ((1L, 2L, 2L, 1.0 / 3))))
    val hashed = TextStats.groupOverlap(d, "source", n = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(hashed === exact)
  }

  test("topKPerGroup: per-group cut, score-desc order, id tie-break, rank column") {
    val d = Seq(
      ("web", "a", 0.9), ("web", "b", 0.7), ("web", "c", 0.8), ("web", "d", 0.7),
      ("code", "e", 0.5)
    ).toDF("source", "id", "score")
    val out = Pipeline.topKPerGroup(d, "source", "score", k = 2)
      .select("source", "id", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // ties at 0.7 fall to min id "b"; "d" is cut
    assert(out === Set(("web", "a", 1L), ("web", "c", 2L), ("code", "e", 1L)))
  }

  test("topKPerGroup plan: the rank filter lowers to WindowGroupLimit (map-side k-heap)") {
    val d = (0 until 1000).map(i => (s"s${i % 7}", s"d$i", (i * 37 % 101).toDouble))
      .toDF("source", "id", "score")
    val plan = Pipeline.topKPerGroup(d, "source", "score", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("tfidf: hand-checked scores, token tie-break, rank cut, k-heap plan") {
    val d = Seq(
      "d1" -> "apple apple banana",
      "d2" -> "banana cherry",
      "d3" -> "cherry cherry cherry date"
    ).toDF("id", "content")
    val out = TextStats.tfidf(d, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // N = 3; idf(df) = ln(4/(df+1)) + 1
    def idf(dfreq: Long) = math.log(4.0 / (dfreq + 1)) + 1.0
    assert(out(("d1", 1L)) === (("apple", 2L, 1L, 2 * idf(1))))
    assert(out(("d1", 2L)) === (("banana", 1L, 2L, idf(2))))
    assert(out(("d3", 1L)) === (("cherry", 3L, 2L, 3 * idf(2))))
    // d3's date (tf=1,df=1,score=idf(1)~1.69) beats nothing else; rank 2
    assert(out(("d3", 2L)) === (("date", 1L, 1L, idf(1))))
    // d2: banana and cherry tie exactly (tf=1, df=2) -> token asc
    assert(out(("d2", 1L))._1 === "banana" && out(("d2", 2L))._1 === "cherry")
    val plan = TextStats.tfidf(d, k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("bigramNll: closed form on a hand fixture; short docs score 0/1") {
    val d = Seq(
      "d1" -> "a b a b",
      "d2" -> "a b",
      "d3" -> "solo",
      "d4" -> ""
    ).toDF("id", "content")
    // bigrams: d1 = [a b, b a, a b], d2 = [a b] -> c(a b)=3, c(b a)=1
    // contexts: c(a.)=3, c(b.)=1; V = distinct tokens = 3 (a, b, solo)
    val nllAB = math.log(3 + 3.0) - math.log(3 + 1.0)
    val nllBA = math.log(1 + 3.0) - math.log(1 + 1.0)
    val out = TextStats.bigramNll(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("d1")._1 === 3L)
    assert(math.abs(out("d1")._2 - (2 * nllAB + nllBA) / 3) < 1e-12)
    assert(out("d2") === ((1L, nllAB, math.exp(nllAB))))
    assert(out("d3") === ((0L, 0.0, 1.0)))
    assert(out("d4") === ((0L, 0.0, 1.0)))
  }

  test("winnowFingerprints: selection set hand-checked; shared substring shares a fingerprint") {
    // k=1 grams = tokens themselves, w=2: window pairs pick the rightmost min
    val d = Seq("d1" -> "c a a b").toDF("id", "content")
    val md5s = Seq("c", "a", "a", "b").map(t =>
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // windows: [c,a]->min a@1; [a,a]-> tie, rightmost a@2; [a,b]: md5(a)<md5(b)? compute
    val aLtB = md5s(1) < md5s(3)
    val expected = if (aLtB) Set(1L, 2L) else Set(1L, 2L, 3L)
    val out = TextStats.winnowFingerprints(d, k = 1, w = 2).collect()
      .map(r => (r.getLong(1), r.getString(2)))
    assert(out.map(_._1).toSet === expected)
    out.foreach { case (pos, fp) => assert(fp === md5s(pos.toInt)) }

    // guarantee: any shared run of >= k + w - 1 tokens shares a fingerprint
    val two = Seq(
      "x" -> "p q r s t u v w",
      "y" -> "zz p q r s t u yy"   // shares "p q r s t u" (6 >= 4 + 3 - 1)
    ).toDF("id", "content")
    val fps = TextStats.winnowFingerprints(two, k = 4, w = 3).collect()
      .map(r => (r.getString(0), r.getString(2)))
    val shared = fps.filter(_._1 == "x").map(_._2).toSet
      .intersect(fps.filter(_._1 == "y").map(_._2).toSet)
    assert(shared.nonEmpty)

    // docs shorter than k emit nothing; zero-shuffle scan
    val short = Seq("s" -> "a b c").toDF("id", "content")
    assert(TextStats.winnowFingerprints(short, k = 4, w = 4).count() === 0L)
    val plan = TextStats.winnowFingerprints(docs, k = 4, w = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected zero-shuffle scan in:\n$plan")
  }

  test("quantizeInt8: codes, scale, zero vector, reconstruction bound, zero-shuffle") {
    val d = Seq(
      ("v1", Array(1.0f, -0.4f, 0.26f, 0.0f)),
      ("v2", Array(0.0f, 0.0f, 0.0f, 0.0f)),
      ("v3", Array(-2.54f, 1.27f, 0.0f, 0.635f))
    ).toDF("id", "embedding")
    val out = graft.ext.Quantize.quantizeInt8(d).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getSeq[Byte](3))).toMap
    assert(out("v1")._1 === 1.0 / 127)
    assert(out("v1")._2 === Seq[Byte](127, -51, 33, 0)) // -50.8 -> -51, 33.02 -> 33
    assert(out("v2") === ((0.0, Seq[Byte](0, 0, 0, 0))))
    // v3: 1.27f/2.54f is EXACTLY 0.5 (doubling a float is exact), so the
    // 63.5 halfway case exercises the pinned floor(x+0.5) half-up: -> 64
    assert(out("v3")._2 === Seq[Byte](-127, 64, 0, 32)) // 0.635/0.02 = 31.75 -> 32
    // reconstruction error bounded by scale/2 everywhere
    val errs = graft.ext.Quantize.quantizeInt8(d)
      .select(col("scale"), zip_with(col("embedding").cast("array<double>"), col("q"),
        (x, q) => abs(x - q * col("scale"))).as("e"))
      .collect()
    errs.foreach { r =>
      val bound = r.getDouble(0) / 2 + 1e-12
      r.getSeq[Double](1).foreach(e => assert(e <= bound))
    }
    val plan = graft.ext.Quantize.quantizeInt8(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected zero-shuffle scan in:\n$plan")
  }

  test("int8TopK: ranking survives quantization on a separable fixture") {
    val corpus = Seq(
      ("a", Array(1.0f, 0.0f, 0.0f)),
      ("b", Array(0.9f, 0.1f, 0.0f)),
      ("c", Array(0.0f, 1.0f, 0.0f)),
      ("d", Array(-1.0f, 0.0f, 0.1f))
    ).toDF("id", "embedding")
    val qs = Seq("q0" -> Seq(1.0f, 0.05f, 0.0f))
    val exact = Ann.exactTopK(corpus, qs, k = 4).select("rn", "id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
    val int8 = graft.ext.Quantize.int8TopK(corpus, qs, k = 4).select("rn", "id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(int8 === exact) // widely-separated directions: order is preserved
  }

  test("intervalJoin: streaming with watermark matches the batch rangeJoin lowering") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val lRows = Seq((1L, ts("2024-01-01 02:00:00"), "p1"), (7L, ts("2024-01-01 05:00:00"), "p2"))
    val rRows = Seq(
      (1L, ts("2024-01-01 01:30:00"), "v1"), // within 1h of p1
      (1L, ts("2024-01-01 00:30:00"), "v2"), // outside
      (1L, ts("2024-01-01 02:00:00"), "v3"), // equal instant: inclusive
      (7L, ts("2024-01-01 04:10:00"), "v4"))
    val lb = lRows.toDF("user_id", "ts", "pid")
    val rb = rRows.toDF("user_id", "ts", "vid")
    val batch = EventStreams.intervalJoin(lb, rb, Seq("user_id"), "1 hour")
      .select("pid", "r_vid").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(batch === Set(("p1", "v1"), ("p1", "v3"), ("p2", "v4")))

    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sj = EventStreams.intervalJoin(
      lMem.toDF().toDF("user_id", "ts", "pid"),
      rMem.toDF().toDF("user_id", "ts", "vid"),
      Seq("user_id"), "1 hour", watermark = Some("10 minutes"))
    val q = sj.writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      lMem.addData(lRows: _*); rMem.addData(rRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ij_out").select("pid", "r_vid")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("Pq: exact-reconstruction corpus ranks perfectly; codes shape; recall on real embeddings") {
    import graft.ext.{Pq, PqCodebook}
    // corpus built FROM codebook reconstructions: ADC scoring is then exact
    // (every subvector quantizes to itself), so PQ top-k == float top-k
    val books = Seq(
      Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      Seq(Seq(0.5f, 0.5f), Seq(-0.5f, 0.5f)))
    val cb = PqCodebook(2, 2, books)
    val recon = for (a <- 0 to 1; b <- 0 to 1) yield
      (s"r$a$b", (books(0)(a) ++ books(1)(b)).toArray)
    val corpus = recon.toDF("id", "embedding")
    val codes = Pq.encode(corpus, cb, normalize = false)
    val got = codes.collect().map(r => r.getString(0) -> r.getSeq[Byte](1)).toMap
    assert(got("r01") === Seq[Byte](0, 1) && got("r10") === Seq[Byte](1, 0))
    val q = Seq("q" -> Seq(1.0f, 0.0f, -0.5f, 0.5f))
    val adc = Pq.adcTopK(codes, cb, q, k = 4, normalize = false)
      .select("rn", "id").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    val exact = Ann.exactTopK(corpus, q, k = 4)
      .select("rn", "id").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    // same top hit; full order can differ only where cosine's norm term
    // reorders equal dots — pin the argmax and the candidate set
    assert(adc.head._2 === exact.head._2)
    assert(adc.map(_._2).toSet === exact.map(_._2).toSet)

    // real embeddings: recall@10 of the 32x-compressed index
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    val qs = (0 until 5).map { i =>
      i.toString -> e.filter(col("id") === i.toString)
        .head().getSeq[Float](1).toSeq
    }
    val ex = Ann.exactTopK(e, qs, k = 10)
    val cb2 = Pq.train(e, m = 16, k = 256, iters = 8, maxSample = 20000)
    val enc = Pq.encode(e, cb2)
    val rec = Ann.recallAtK(ex, Pq.rerankTopK(e, enc, cb2, qs, k = 10, candK = 50))
    info(s"PQ rerank recall@10 on sf0.001 (m=16, k=256, cand=50): $rec")
    assert(rec >= 0.9, s"recall $rec")
  }

  test("perceptual media near-dup: locality, banding completeness, caps, NULLs") {
    import graft.ext.{ByteDHash, Dedup, Multimodal}
    // locality of the stub codec: identical blobs -> hamming 0; a one-slice
    // perturbation -> <= 2 bits; unrelated byte streams far apart
    val blob = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val tweaked = blob.clone(); tweaked(0) = 'Z'; tweaked(1) = 'Z'; tweaked(2) = 'Z'
    val other = ("entirely different content with other rhythm 12345 " * 7).getBytes("UTF-8")
    val Seq(Some(h1), Some(h2), Some(h3)) = ByteDHash.hash(Seq(blob, tweaked, other))
    assert(java.lang.Long.bitCount(h1 ^ h1) === 0)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 2, "one-slice perturbation must stay local")
    assert(java.lang.Long.bitCount(h1 ^ h3) > 3, "unrelated media must not collide")

    // degenerate blobs (empty / constant — every cell comparison ties)
    // carry no perceptual signal: no hash, and they must never pair with
    // each other (all-zero vs all-0xFF padding are NOT duplicates)
    val degenerate = Seq(Array.emptyByteArray, Array.fill(500)(0.toByte),
      Array.fill(300)(0xFF.toByte), Array.fill(72)(7.toByte))
    assert(ByteDHash.hash(degenerate).forall(_.isEmpty),
      "empty/constant blobs must hash to None")

    // banding completeness: pairs == brute-force popcount pairs
    val rows = (0 until 120).map { i =>
      val base = s"media payload number ${i / 3} with deterministic body content " * 6
      val bytes = base.getBytes("UTF-8").clone()
      if (i % 3 == 1) bytes(0) = 'X' // near-dup of its /3 group
      if (i % 3 == 2) { var j = 0; while (j < bytes.length) { bytes(j) = (bytes(j) ^ (i * 31 + j)).toByte; j += 1 } }
      (f"b$i%03d", bytes)
    }
    val media = rows.toDF("id", "media")
    val got = Dedup.perceptualDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val hashes = rows.map { case (id, b) => id -> ByteDHash.hash(Seq(b)).head.get }
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got === brute, "banding must be COMPLETE at hamming <= maxHamming")
    assert(brute.nonEmpty, "fixture must contain real near-dups")

    // NULL media and degenerate blobs hash to NULL phash and never pair —
    // two constant blobs (zdeg0/zdeg1) would otherwise false-positive at
    // hamming 0
    val withNull = media.unionByName(Seq(
      ("znull", null.asInstanceOf[Array[Byte]]),
      ("zdeg0", Array.fill(64)(0.toByte)),
      ("zdeg1", Array.fill(64)(0xFF.toByte))).toDF("id", "media"))
    assert(Multimodal.perceptualHash(withNull)
      .filter(col("id").isin("znull", "zdeg0", "zdeg1"))
      .collect().forall(_.isNullAt(2)), "NULL/degenerate media must have NULL phash")
    assert(Dedup.perceptualDupPairs(withNull, maxHamming = 3)
      .filter(col("id_a").startsWith("z") || col("id_b").startsWith("z"))
      .count() === 0)

    // star-edge cap: identical blobs in an oversized bucket keep only the
    // min-id star, bounding per-bucket work (the shared bucketJoin contract)
    val many = (0 until 40).map(i => (f"s$i%02d", blob)).toDF("id", "media")
    val capped = Dedup.perceptualDupPairs(many, maxHamming = 3, maxBucket = 10)
    assert(capped.count() === 39, "oversized bucket must degrade to star edges")
  }

  test("IVF-PQ residual encoding: wins where the coarse quantizer captures variance") {
    // The r13 carry #3 claim, pinned as a measurement in the regime where
    // it holds: with enough coarse centroids (kc=128 over these 2k vecs,
    // avg residual norm ~0.84 vs 1.0) residual codes rank closer to exact
    // cosine than raw codes at the identical (m=8, k=256) budget. ADC-ONLY
    // recall (no float rerank, full coverage) isolates encoding quality.
    // At kc=16 the SAME comparison flips (residual 0.61 vs raw 0.70 —
    // the residual cloud is as wide as the sphere but stripped of raw
    // per-dimension structure), which is exactly why the build MEASURES
    // the choice instead of assuming FAISS's default (next test).
    import graft.ext.{Ivf, Pq}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
    val qs = (0 until 8).map { i =>
      i.toString -> e.filter(col("id") === i.toString).head().getSeq[Float](1).toSeq
    }
    val ex = Ann.exactTopK(e, qs, k = 10)
    val m = 8 // coarse enough that quantization error is material
    val cents = Ivf.build(e, k = 128, iters = 5, maxSample = 20000).centroids
    // raw arm: train + encode over the normalized vectors
    val cbRaw = Pq.train(e, m = m, k = 256, iters = 8, maxSample = 20000)
    val recRaw = Ann.recallAtK(ex, Pq.adcTopK(Pq.encode(e, cbRaw), cbRaw, qs, k = 10))
    // residual arm: the ivfpq residual recipe
    val assigned = e.select(col("id"), col("embedding"),
      element_at(Ivf.nearestCentroidCol(col("embedding"), cents, 1), 1).as("cluster"))
    val residuals = assigned.select(
      Pq.residualCol(col("embedding"), col("cluster"), cents).as("embedding"))
    val cbRes = Pq.train(residuals, m = m, k = 256, iters = 8, maxSample = 20000,
      normalize = false)
    val rows = assigned.select(col("id"), col("cluster"),
      Pq.encodeCol(Pq.residualCol(col("embedding"), col("cluster"), cents),
        cbRes, normalize = false).as("codes"))
    val recRes = Ann.recallAtK(ex, Pq.adcTopKResidual(rows, cbRes, cents, qs, k = 10))
    info(s"ADC-only recall@10, m=$m kc=128: raw=$recRaw residual=$recRes")
    assert(recRes >= recRaw,
      s"residual encoding must win at kc=128 (raw=$recRaw residual=$recRes)")
    // the MSE metric the build selects on must agree with the recall order
    val sampleNorm = e.collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    val centArr = cents.map(_.toArray).toArray
    val sampleRes = sampleNorm.map { v =>
      var best = 0; var bd = Double.NegativeInfinity; var c = 0
      while (c < centArr.length) {
        val d = graft.functions.VectorFunctions.dotMin(v, centArr(c))
        if (d > bd) { best = c; bd = d }; c += 1
      }
      val ctr = centArr(best)
      Array.tabulate(v.length)(d => v(d) - (if (d < ctr.length) ctr(d) else 0.0f))
    }
    val mseRaw = Pq.reconstructionMse(sampleNorm, cbRaw)
    val mseRes = Pq.reconstructionMse(sampleRes, cbRes)
    info(f"reconstruction MSE: raw=$mseRaw%.5f residual=$mseRes%.5f")
    assert(mseRes < mseRaw, "selection metric must prefer residual here")
  }

  test("IVF-PQ build measures raw-vs-residual and picks residual on clustered data") {
    // 4 well-separated direction blobs with CONTINUOUS within-blob noise
    // (far more distinct subvectors than the 256-word budget, so neither
    // encoding can just memorize): the coarse quantizer nails the blobs,
    // residuals collapse to the small noise ball, and the measured
    // selection MUST choose residual — then serving (which restores
    // q·centroid per row) stays exact at full coverage.
    import graft.api.Collection
    val rows = (0 until 800).map { i =>
      val j = i % 4
      val v = Array.tabulate(8) { d =>
        val base = if (d / 2 == j) 0.7f else 0.0f
        base + (0.05 * math.sin(i * 0.37 + d * 1.3)).toFloat
      }
      (f"b$i%03d", "", v.toSeq)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-respick-").toString
    val c = Collection(spark, root, "blobs", useFts = false)
    c.addDf(rows.toDF("id", "content", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>")))
    c.createVectorIndex(kind = "ivfpq", numCentroids = 4, nprobe = 4,
      m = 2, candK = 800, iters = 5)
    assert(c.ivfPqResidual(), "clustered corpus must select residual encoding")
    val q = {
      val v = Array.fill(8)(0.0f); v(0) = 0.7f; v(1) = 0.68f; v.toSeq
    }
    val exact = graft.ext.Ann.exactTopK(c.docs(), Seq(("q", q)), 10)
      .select("id").as[String].collect().toSet
    val served = c.vectorTopK(Seq(("q", q)), 10)
      .select("id").as[String].collect().toSet
    assert(served === exact, "full-coverage residual probe must be exact")
  }

  test("persisted PQ/IVF-PQ lifecycle parity: prebuilt equals per-call; delta re-encode exact (full corpus)") {
    // Moved from the x50b/x6d bench entries (their per-round cost was a
    // second codebook train + two whole-corpus encodes re-proving the same
    // invariants every bench): (1) the PREBUILT pq index serves exactly
    // what the per-call Pq path computes — training is deterministic, so
    // the two independently-trained codebooks must agree rank-for-rank;
    // (2) after a delta upsert, the FULL stored code/row set equals a
    // fresh whole-corpus re-encode under the STORED codebook(s) — old
    // rows untouched, new rows exact, for both the flat-PQ and the
    // IVF-PQ (encoding-flag-dispatched) stores.
    import graft.api.Collection
    import graft.ext.{Ann, Ivf, Pq}
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 400).map(i =>
      (f"v$i%03d", "", Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val e = vecs.toDF("id", "content", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val eBare = e.select(col("id"), col("embedding"))
    val qs = (0 until 3).map(i => i.toString -> vecs(i * 7)._3)
    val dups = e.limit(30).select(concat(lit("dup_"), col("id")).as("id"),
      col("content"), col("embedding"))

    val c = Collection(spark, java.nio.file.Files
      .createTempDirectory("graft-pqpar-").toString, "v", useFts = false)
    c.addDf(e)
    c.createVectorIndex(kind = "pq", m = 4, numCentroids = 16, iters = 4,
      maxSample = 1000, candK = 50)
    val via = c.vectorTopK(qs, 5).select("qid", "rn", "id")
    val cb = Pq.train(eBare, m = 4, k = 16, iters = 4, maxSample = 1000)
    val direct = Pq.rerankTopK(eBare, Pq.encode(eBare, cb), cb, qs, k = 5,
      candK = 50).select("qid", "rn", "id")
    assert(via.exceptAll(direct).isEmpty && via.count() === direct.count(),
      "prebuilt pq index must equal the per-call path")
    c.addDf(dups)
    val (storedCb, codes, _) = c.pqIndex().get
    val freshAll = Pq.encode(c.docs(), storedCb)
    assert(codes.exceptAll(freshAll).isEmpty && freshAll.exceptAll(codes).isEmpty,
      "post-delta stored codes must equal a full fresh encode")

    val c2 = Collection(spark, java.nio.file.Files
      .createTempDirectory("graft-ivfpqpar-").toString, "v", useFts = false)
    c2.addDf(e)
    c2.createVectorIndex(kind = "ivfpq", numCentroids = 4, nprobe = 4,
      m = 4, candK = 400, iters = 4, maxSample = 1000)
    c2.addDf(dups)
    val (cents, cb2, rows, _, _) = c2.ivfPqIndex().get
    val fresh2 = Ivf.assign(c2.docs(), cents)
      .join(c2.docs().select(col("id"), col("embedding")), Seq("id"))
      .select(col("id"), col("cluster"),
        Pq.encodeFor(col("embedding"), col("cluster"), cents, cb2,
          c2.ivfPqResidual()).as("codes"))
    assert(rows.exceptAll(fresh2).isEmpty && fresh2.exceptAll(rows).isEmpty,
      "post-delta stored ivfpq rows must equal a full fresh re-derivation")
    // serving still sane after the deltas on both kinds
    assert(Ann.recallAtK(Ann.exactTopK(c.docs(), qs, 5), c.vectorTopK(qs, 5)) >= 0.8)
    assert(Ann.recallAtK(Ann.exactTopK(c2.docs(), qs, 5), c2.vectorTopK(qs, 5)) >= 0.8)
  }

  test("Classify.trainQualityNb/scoreQualityNb: hand-computed NB parity, separability, edges") {
    import graft.ext.Classify
    val pos = Seq(("p1", "good clean prose here"), ("p2", "clean good text"))
      .toDF("id", "content")
    val neg = Seq(("n1", "spam spam buy now"), ("n2", "buy spam click"),
      ("n3", "click click now")).toDF("id", "content")
    val m = Classify.trainQualityNb(pos, neg)
    // hand replay: vocab = union of training tokens, α = 1
    val cpM = Map("good" -> 2L, "clean" -> 2L, "prose" -> 1L, "here" -> 1L, "text" -> 1L)
    val cnM = Map("spam" -> 3L, "buy" -> 2L, "now" -> 2L, "click" -> 3L)
    val vocab = cpM.keySet ++ cnM.keySet
    val (v, np, nn) = (vocab.size.toLong, cpM.values.sum, cnM.values.sum)
    def wOf(t: String): Double =
      math.log((cpM.getOrElse(t, 0L) + 1.0) / (np + 1.0 * v)) -
        math.log((cnM.getOrElse(t, 0L) + 1.0) / (nn + 1.0 * v))
    val gotW = m.weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotW.keySet === vocab)
    vocab.foreach(t => assert(math.abs(gotW(t) - wOf(t)) < 1e-12, t))
    assert(math.abs(m.bias - math.log(2.0 / 3)) < 1e-12)
    assert(m.vocabSize === v)
    // scoring: hand sums; unknown tokens (zzz) ignored; token-less doc
    // scores the bare prior; every input doc gets a row
    val docs = Seq(
      ("a", "good clean zzz"),           // pos-ish + one OOV
      ("b", "spam spam click"),          // neg-ish, tf 2 on spam
      ("c", ""),                         // no tokens -> bias only
      ("d", null.asInstanceOf[String])). // NULL content -> bias only
      toDF("id", "content")
    val got = Classify.scoreQualityNb(docs, m).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b", "c", "d"))
    assert(math.abs(got("a") - (m.bias + wOf("good") + wOf("clean"))) < 1e-12)
    assert(math.abs(got("b") - (m.bias + 2 * wOf("spam") + wOf("click"))) < 1e-12)
    assert(math.abs(got("c") - m.bias) < 1e-12)
    assert(math.abs(got("d") - m.bias) < 1e-12)
    // separability: the learned model ranks pos-like above neg-like
    assert(got("a") > got("b"))
    // curation form: schema passthrough, threshold keeps the pos-like doc
    val kept = Classify.filterByNb(docs, m, minLogOdds = got("b") + 1e-9)
    assert(kept.columns.toSeq === Seq("id", "content"))
    val keptIds = kept.select("id").as[String].collect().toSet
    assert(keptIds.contains("a") && !keptIds.contains("b"))
    // validation
    intercept[IllegalArgumentException](
      Classify.trainQualityNb(pos, neg, smoothing = 0.0))
    intercept[IllegalArgumentException](
      Classify.trainQualityNb(pos.limit(0), neg))
  }

  test("Classify: scan scorer is shuffle-free and arm-equal to the join scorer") {
    import graft.ext.Classify
    // fuzzed corpora: deterministic pseudo-text with unicode tokens, runs
    // of separators, numerics, empty and NULL docs — the tokenizer-parity
    // surface between the native scan and split(lower(content), …).
    // Adversarial codepoints on purpose: supplementary-plane letters
    // (𝒜, CJK ext-B 𠀀), letter-numbers (Ⅻ), other-numbers (²½),
    // combining marks (e + U+0301 — a SEPARATOR, splits its token),
    // emoji (So — separator), Arabic, CJK, zero-width joiner (Cf —
    // separator)
    val words = Array("good", "clean", "café", "über", "spam2",
      "buy", "now", "_", "x", "1234", "İstanbul", "text",
      "𝒜", "𠀀", "Ⅻ", "²½", "éclair",
      "😀", "كلمة", "漢字詞", "a\u200Db", "ς")
    val rnd = new scala.util.Random(17)
    def doc(i: Int): String =
      if (i % 19 == 0) ""
      else (0 until (1 + rnd.nextInt(30))).map { _ =>
        words(rnd.nextInt(words.length)) +
          (if (rnd.nextBoolean()) " " else "  ,;\t")
      }.mkString
    val pos = (0 until 40).map(i => (s"p$i", doc(i))).toDF("id", "content")
    val neg = (0 until 40).map(i => (s"n$i", doc(i + 100))).toDF("id", "content")
    val docs = ((0 until 120).map(i => (s"d$i", doc(i + 7))) :+
      (("dnull", null.asInstanceOf[String]))).toDF("id", "content")
    for (bigrams <- Seq(false, true)) {
      val m = Classify.trainQualityNb(pos, neg, bigrams = bigrams)
      val scan = Classify.scoreQualityNb(docs, m)
      // the whole point of the rewrite: no Exchange anywhere in the
      // scoring plan — the corpus's tokens never shuffle
      assert(!scan.queryExecution.executedPlan.toString.contains("Exchange"),
        s"scan scorer (bigrams=$bigrams) must be a zero-shuffle plan")
      val a = scan.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = Classify.scoreQualityNbJoin(docs, m).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a.keySet === b.keySet)
      a.keys.foreach(k => assert(math.abs(a(k) - b(k)) < 1e-9,
        s"bigrams=$bigrams doc=$k scan=${a(k)} join=${b(k)}"))
      // broadcast gate: a feature count above maxBroadcastFeatures must
      // fall back to the distributed join arm (no driver collect) with
      // identical scores — the shuffled plan is the observable fallback
      val gated = Classify.scoreQualityNb(docs, m, maxBroadcastFeatures = 1L)
      assert(gated.queryExecution.executedPlan.toString.contains("Exchange"),
        "gated scorer must take the join arm")
      val g = gated.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      a.keys.foreach(k => assert(math.abs(a(k) - g(k)) < 1e-9,
        s"bigrams=$bigrams doc=$k gate fallback diverged"))
    }
    // bigram feature space: the adjacent-pair evidence separates docs the
    // unigram model cannot — identical unigram bags, opposite word order
    val p2 = Seq(("p", "alpha beta alpha beta alpha beta")).toDF("id", "content")
    val n2 = Seq(("n", "beta alpha beta alpha beta alpha")).toDF("id", "content")
    val mb = Classify.trainQualityNb(p2, n2, bigrams = true)
    // "alpha beta" carries ONLY the pos-order bigram (pos has 3 of them,
    // neg 2); its unigrams are class-symmetric, so any positive score is
    // bigram evidence alone
    val s2 = Classify.scoreQualityNb(
      Seq(("q", "alpha beta")).toDF("id", "content"), mb)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s2("q") > 0.0, "bigram evidence must rank pos word order positive")
    val mu = Classify.trainQualityNb(p2, n2, bigrams = false)
    val su = Classify.scoreQualityNb(
      Seq(("q", "alpha beta")).toDF("id", "content"), mu)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(su("q")) < 1e-9,
      "unigram model sees identical bags: zero evidence either way")
    // hashed feature key parity: the executor-side md5 must equal Spark's
    // — incl. non-BMP tokens (UTF-8 byte parity, not UTF-16 units)
    for ((a, b) <- Seq(("café", "bär"), ("𝒜", "漢字詞"), ("😀x", "Ⅻ"))) {
      val bg = graft.functions.NbScoreExpr.bigramFeature(a, b)
      val sparkMd5 = Seq((s"$a $b")).toDF("s")
        .select(md5(col("s"))).head().getString(0)
      assert(bg === "bg:" + sparkMd5, s"($a, $b)")
    }
  }

  test("budgetSample: greedy fill in draw order, one overshoot doc, growth-stable") {
    import graft.ext.Pipeline
    val d = Seq(
      ("s1", "a", "t t t t"),   // 4 tokens
      ("s1", "b", "t t t"),     // 3
      ("s1", "c", "t t t t t"), // 5
      ("s2", "z", "t")
    ).toDF("source", "id", "content")
    val out = Pipeline.budgetSample(d, budgetTokens = 6).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // draw order within s1 is md5("0:"+id) order; replay it here
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = Seq("a", "b", "c").sortBy(i => (md5hex(s"0:$i"), i))
    val toks = Map("a" -> 4L, "b" -> 3L, "c" -> 5L)
    var cum = 0L
    order.foreach { i =>
      val admitted = cum < 6
      cum += toks(i)
      assert(out(i) === ((toks(i), cum, admitted)), s"doc $i")
    }
    // at least one kept, at least one cut at this budget
    assert(out.values.exists(_._3) && !out("z")._3 === false) // s2's z always kept (cum 1 < 6)
    assert(out("z") === ((1L, 1L, true)))
    // growth-stability: adding a doc that draws AFTER the existing ones
    // cannot change their admission; deleting s2 does not affect s1
    val s1only = Pipeline.budgetSample(d.filter($"source" === "s1"), budgetTokens = 6)
      .collect().map(r => r.getString(1) -> r.getBoolean(4)).toMap
    Seq("a", "b", "c").foreach(i => assert(s1only(i) === out(i)._3))
  }

  test("hardNegatives: same-label excluded, null label is a valid negative, k cut") {
    val corpus = Seq(
      ("c1", Array(1.0f, 0.0f), Some(1)),
      ("c2", Array(0.99f, 0.1f), Some(1)),  // same label as anchor: excluded
      ("c3", Array(0.9f, 0.2f), Some(2)),
      ("c4", Array(0.8f, 0.3f), None),      // null label: valid negative
      ("c5", Array(-1.0f, 0.0f), Some(2))
    ).toDF("id", "embedding", "label")
    val q = Seq(("q1", Array(1.0f, 0.0f), Some(1))).toDF("qid", "qvec", "qlabel")
    val out = Ann.hardNegatives(corpus, q, k = 2).collect()
      .map(r => (r.getInt(1), r.getString(2)))
    assert(out.toSeq.sortBy(_._1).map(_._2) === Seq("c3", "c4"))
  }

  test("tokenCardinality: exact arm is exact; sketch lands within the gate") {
    val d = Seq(
      ("s1", "a b c a b"), ("s1", "c d"), ("s2", "x y")
    ).toDF("source", "content")
    val out = TextStats.tokenCardinality(d, "source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("s1")._1 === 4L && out("s2")._1 === 2L)
    // tiny cardinalities: HLL++ is exact here
    assert(out("s1")._2 === 4L && out("s2")._2 === 2L)
  }

  test("streamDedupAgainst: exact and near dups dropped per batch, novel docs forwarded") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      "r1" -> "the quick brown fox jumps over the lazy dog near the river bank",
      "r2" -> "completely different text about spark query engines and shuffles"
    ).toDF("id", "content")
    val mem = MemoryStream[(String, String)]
    val got = scala.collection.mutable.Set[String]()
    val q = Dedup.streamDedupAgainst(mem.toDF().toDF("id", "content"), ref,
        threshold = 0.5) { out =>
      got ++= out.select("id").collect().map(_.getString(0))
    }.start()
    try {
      // batch 1: exact dup of r1 + a novel doc; batch 2: near-dup of r1 + novel
      mem.addData(
        ("s1", "the quick brown fox jumps over the lazy dog near the river bank"),
        ("s2", "a totally novel document about gradient descent optimizers"))
      q.processAllAvailable()
      mem.addData(
        ("s3", "the quick brown fox jumps over the lazy dog near the river shore"),
        ("s4", "another unrelated essay on distributed join algorithms"))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet === Set("s2", "s4"))
  }

  test("streaming dedup state survives a query restart from its checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    def start() = EventStreams.dedupStream(mem.toDF().toDF("k", "ts"), Seq("k"),
        watermark = Some("1 hour"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.select("k").collect().map(_.getString(0)); ()
      }.start()
    val q1 = start()
    try { mem.addData(("a", ts(0)), ("b", ts(1))); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the SAME checkpoint: the dedup state store must recover,
    // so the replayed key "a" stays suppressed across the restart boundary
    val q2 = start()
    try { mem.addData(("a", ts(2)), ("c", ts(3))); q2.processAllAvailable() }
    finally q2.stop()
    assert(seen.sorted.toSeq === Seq("a", "b", "c"))
  }

  test("windowTopK: per-window rank with deterministic tie-break and k cut") {
    def t(h: Int, m: Int) = new java.sql.Timestamp(1700000000000L + (h * 60L + m) * 60000L)
    val ev = Seq(
      ("u1", t(0, 1)), ("u1", t(0, 2)), ("u2", t(0, 3)), ("u3", t(0, 4)),
      ("u9", t(1, 1)), ("u9", t(1, 2)), ("u9", t(1, 3))
    ).toDF("user", "ts")
    val out = EventStreams.windowTopK(ev, Seq("user"), k = 2)
      .collect().map(r => (r.getTimestamp(1), r.getString(0)) ->
        (r.getLong(2), r.getInt(3))).toMap
    val h0 = out.keys.map(_._1).min
    assert(out((h0, "u1")) === ((2L, 1)))
    assert(out((h0, "u2")) === ((1L, 2))) // tie with u3 broken by key asc
    assert(!out.contains((h0, "u3")))    // k = 2 cut
    assert(out.size === 3)               // hour 1 contributes only u9
  }

  test("clusterStats: size histogram over a 2-cluster + 3-cluster pair graph") {
    val pairs = Seq(("a", "b"), ("c", "d"), ("d", "e"), ("c", "e")).toDF("id_a", "id_b")
    val out = Dedup.clusterStats(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(2L -> ((1L, 2L)), 3L -> ((1L, 3L))))
  }

  test("rateAnomalies: spike flagged, warm-up and stable windows are not") {
    def t(h: Int, m: Int) = new java.sql.Timestamp(1700000000000L + (h * 60L + m) * 60000L)
    // 10 calm hours at ~2 events, then a 30-event spike in hour 10
    val rows = (0 until 10).flatMap(h => Seq(("api", t(h, 1)), ("api", t(h, 31)))) ++
      (0 until 30).map(m => ("api", t(10, m)))
    val out = EventStreams.rateAnomalies(rows.toDF("event_type", "ts"), Seq("event_type"),
        minTrailing = 3)
      .orderBy("window_start").collect()
    assert(out.length === 11)
    // first windows: not enough trailing history -> no verdict
    out.take(3).foreach { r => assert(r.isNullAt(5) && !r.getBoolean(6)) }
    // calm middle: constant counts -> zero variance -> no verdict either
    assert(!out(8).getBoolean(6))
    // the spike hour: n=30 vs baseline mean 2 -> flagged... except the calm
    // baseline has zero variance, so inject mild noise instead for the flag
    val noisy = rows ++ Seq(("api", t(3, 45)), ("api", t(7, 50)), ("api", t(7, 55)))
    val o2 = EventStreams.rateAnomalies(noisy.toDF("event_type", "ts"), Seq("event_type"),
        minTrailing = 3)
      .orderBy("window_start").collect()
    val spike = o2.last
    assert(spike.getLong(2) === 30L)
    assert(spike.getBoolean(6), s"spike not flagged: $spike")
  }

  // --- z-order layout ---------------------------------------------------------

  test("zorderKey matches a bit-level reference implementation") {
    def refZ(x: Long, y: Long, bits: Int, bx: (Long, Long), by: (Long, Long)): Long = {
      val mb = (1L << bits) - 1
      def sc(c: Long, b: (Long, Long)) =
        math.min(math.max((c - b._1) * mb / (b._2 - b._1), 0L), mb)
      val (sx, sy) = (sc(x, bx), sc(y, by))
      (0 until bits).foldLeft(0L)((acc, j) =>
        acc | (((sx >> j) & 1) << (2 * j)) | (((sy >> j) & 1) << (2 * j + 1)))
    }
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(_ => (rnd.nextLong(100000L), rnd.nextLong(1L << 40)))
    val bx = (0L, 100000L); val by = (0L, 1L << 40)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Pipeline.zorderKey(Seq((col("x"), bx), (col("y"), by))).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === refZ(x, y, 16, bx, by), s"mismatch at ($x, $y)")
    }
  }

  test("writeZOrdered: per-file bounding boxes shrink vs a single-column sort") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 20000).map(_ => (rnd.nextLong(1000000L), rnd.nextLong(1000000L)))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-").toString
    Pipeline.writeZOrdered(rows, s"$dir/z", Seq("x", "y"), files = 16)
    rows.sort("x").write.mode("overwrite").parquet(s"$dir/plain")
    def avgArea(path: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val areas = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(max("x") - min("x"), max("y") - min("y")).head()
        r.getLong(0).toDouble * r.getLong(1).toDouble
      }
      areas.sum / areas.length
    }
    // x-sort: each file spans full y (~1e6) and ~1/16 of x; z-order: each
    // file is a hyper-rectangle covering ~1/16 of the area with BOTH dims
    // narrowed — require at least a 2x average shrink (it's typically ~4x)
    assert(avgArea(s"$dir/z") * 2 < avgArea(s"$dir/plain"))
  }

  // --- expectations -----------------------------------------------------------

  test("expectations: null predicate is a violation, rates exact, uniqueness counts dupes") {
    import graft.ext.Expectations
    val d = Seq(
      (Some(1L), "a", 1.0), (Some(2L), "b", -1.0),
      (None, "c", 2.0), (Some(2L), "", 3.0)
    ).toDF("uid", "tag", "v")
    val out = Expectations.expect(d, Seq(
      "uid_not_null" -> col("uid").isNotNull,
      "v_non_negative" -> (col("v") >= 0),
      "tag_nonempty" -> (length(col("tag")) > 0),
      // predicate NULL on the None row -> strict violation
      "uid_positive" -> (col("uid") > 0)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out("uid_not_null") === ((4L, 1L, 0.25, false)))
    assert(out("v_non_negative") === ((4L, 1L, 0.25, false)))
    assert(out("tag_nonempty") === ((4L, 1L, 0.25, false)))
    assert(out("uid_positive") === ((4L, 1L, 0.25, false))) // the NULL uid row
    val u = Expectations.duplicateKeys(d, Seq("uid")).head()
    assert((u.getLong(0), u.getLong(1), u.getLong(2)) === ((4L, 3L, 1L)))
  }

  test("expectations: empty frame reports 0 violations and pass=true, not NULL") {
    import graft.ext.Expectations
    val d = Seq.empty[(Option[Long], String)].toDF("uid", "tag")
    val rows = Expectations.expect(d, Seq(
      "uid_not_null" -> col("uid").isNotNull,
      "tag_nonempty" -> (length(col("tag")) > 0)))
      .collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L)
      assert(r.getDouble(3) === 0.0)
      assert(r.getBoolean(4) === true) // would NPE on a NULL pass pre-fix
    }
  }

  // --- fuzzy join -------------------------------------------------------------

  test("fuzzyJoin: within-distance pairs found, beyond-distance excluded, nulls never match") {
    val l = Seq(("l1", "john smith"), ("l2", "acme corp"), ("l3", null.asInstanceOf[String]),
      ("l4", "zz"))
      .toDF("id", "key")
    val r = Seq(("r1", "jon smith"), ("r2", "acme inc"), ("r3", "john smith"),
      ("r4", "completely different"), ("r5", "zy")).toDF("id", "key")
    val out = graft.ext.Joins.fuzzyJoin(l, r, maxDist = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getInt(4)).toMap
    assert(out(("l1", "r1")) === 1) // one deletion
    assert(out(("l1", "r3")) === 0) // exact
    assert(out(("l4", "r5")) === 1) // both-short arm (tiny gram sets)
    assert(!out.contains(("l2", "r2"))) // "corp" -> "inc" is distance 4
    assert(!out.keys.exists(_._1 == "l3")) // null key
    assert(!out.keys.exists(_._2 == "r4"))
  }

  test("fuzzyJoin blocking: candidates restricted to equal blocks, both arms") {
    val l = Seq(("l1", "john smith", "NY"), ("l2", "zz", "NY")).toDF("id", "key", "region")
    val r = Seq(("r1", "jon smith", "NY"), ("r2", "john smith", "CA"),
      ("r3", "zy", "CA")).toDF("id", "key", "zone")
    val out = graft.ext.Joins.fuzzyJoin(l, r, maxDist = 2,
        blockCols = Seq(("region", "zone")))
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(out === Set(("l1", "r1"))) // r2 exact-matches but sits in another block
    // unblocked: both matches plus the short-arm pair return
    val all = graft.ext.Joins.fuzzyJoin(l, r, maxDist = 2)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(all === Set(("l1", "r1"), ("l1", "r2"), ("l2", "r3")))
  }

  test("fuzzyJoin equals the naive theta-join on a randomized corpus (recall-complete)") {
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    def mutate(s: String): String = rnd.nextInt(3) match {
      case 0 => s // exact copy
      case 1 => s.updated(rnd.nextInt(s.length), 'x') // substitution
      case 2 => s.take(rnd.nextInt(s.length)) + s.drop(rnd.nextInt(s.length).max(1)) // deletion-ish
    }
    val base = (1 to 40).map(i => s"${words(i % 5)} ${words((i / 5) % 5)} $i")
    val l = base.zipWithIndex.map { case (k, i) => (s"l$i", k) }.toDF("id", "key")
    val r = base.zipWithIndex.map { case (k, i) => (s"r$i", mutate(k)) }.toDF("id", "key")
    val fast = graft.ext.Joins.fuzzyJoin(l, r, maxDist = 2)
      .select("id_l", "id_r", "dist").collect()
      .map(x => (x.getString(0), x.getString(1), x.getInt(2))).toSet
    val naive = l.crossJoin(r.select(col("id").as("rid"), col("key").as("rkey")))
      .withColumn("d", levenshtein(col("key"), col("rkey")))
      .filter(col("d") <= 2)
      .collect().map(x => (x.getString(0), x.getString(2), x.getInt(4))).toSet
    assert(fast === naive)
  }

  // --- Graphs ---------------------------------------------------------------

  test("pageRank: ranks are a probability distribution and dangling mass is redistributed") {
    // a -> b -> c, c dangling: its mass must recycle uniformly, not vanish
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = Graphs.pageRank(edges, iterations = 20)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // lossless only if dangling handled
    // chain order: c receives from b receives from a; a only gets teleport+dangling
    assert(r("c") > r("b") && r("b") > r("a"))
  }

  test("pageRank: damping 0 is uniform; parallel edges and self-loops are ignored") {
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graphs.pageRank(edges, iterations = 3, damping = 0.0)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.size === 2 && r.values.forall(v => math.abs(v - 0.5) < 1e-12))
    // with damping, the 2-cycle left after cleanup is symmetric -> equal ranks
    val r2 = Graphs.pageRank(edges, iterations = 7, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r2("a") - r2("b")) < 1e-12)
  }

  test("pageRank: edge weights split mass proportionally; unit weights equal unweighted") {
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    val r = Graphs.pageRank(edges, iterations = 10, weightCol = Some("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("b") > r("c")) // b receives 3/4 of a's mass, c only 1/4
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    val unit = Graphs.pageRank(edges.withColumn("w", lit(1.0)),
      iterations = 10, weightCol = Some("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val plain = Graphs.pageRank(edges, iterations = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    plain.foreach { case (id, v) => assert(math.abs(unit(id) - v) < 1e-12) }
  }

  test("degrees: in/out/total per node over the deduped edge set") {
    val edges = Seq(("a", "b"), ("a", "c"), ("c", "b"), ("b", "b")).toDF("src", "dst")
    val d = Graphs.degrees(edges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d("a") === ((0L, 2L, 2L)))
    assert(d("b") === ((2L, 0L, 2L)))
    assert(d("c") === ((1L, 1L, 2L)))
  }

  test("connectedComponents: direction ignored, min-id labels, chains + isolated pair") {
    val edges = Seq(("b", "a"), ("c", "b"), ("x", "y"), ("q", "q")).toDF("src", "dst")
    val cc = Graphs.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // self-loop-only node q has no real edge: absent by contract
  }

  test("triangleCount: K4 has 4, chain has 0, hub wedges without closure have 0") {
    val k4 = (for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)).toDF("src", "dst")
    assert(Graphs.triangleCount(k4) === 4L)
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    assert(Graphs.triangleCount(chain) === 0L)
    // star hub: many wedges, no closing edges
    val star = (1 to 8).map(i => ("hub", s"n$i")).toDF("src", "dst")
    assert(Graphs.triangleCount(star) === 0L)
    // direction/parallel/self-loops ignored: duplicate reversed edges don't double-count
    val tri = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a"))
      .toDF("src", "dst")
    assert(Graphs.triangleCount(tri) === 1L)
  }

  // --- retention / SCD2 -------------------------------------------------------

  test("retentionCohorts: week cohorts, offsets, retention fractions") {
    // two users join week of Jan 6 2025 (Mon), one returns 2 weeks later;
    // one user joins the next week
    val ev = Seq(
      ("u1", "2025-01-06 10:00:00"), ("u1", "2025-01-07 09:00:00"), // same week: one active period
      ("u2", "2025-01-08 10:00:00"), ("u2", "2025-01-20 10:00:00"), // offset 2
      ("u3", "2025-01-15 10:00:00")
    ).toDF("user_id", "ts0").select(col("user_id"), col("ts0").cast("timestamp").as("ts"))
    val out = EventStreams.retentionCohorts(ev, unit = "week").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("2025-01-06", 0L)) === ((2L, 2L, 1.0)))
    assert(out(("2025-01-06", 2L)) === ((1L, 2L, 0.5)))
    assert(out(("2025-01-13", 0L)) === ((1L, 1L, 1.0)))
    assert(out.size === 3)
  }

  test("scd2: consecutive equal values merge, ties break by tieCol, last interval open") {
    val ev = Seq(
      ("u1", 1L, "2025-01-01 00:00:00", "free"),
      ("u1", 2L, "2025-01-02 00:00:00", "free"),  // no change: merged
      ("u1", 3L, "2025-01-03 00:00:00", "pro"),
      ("u1", 4L, "2025-01-03 00:00:00", "team"),  // same instant: event_id 4 wins the instant
      ("u2", 5L, "2025-01-01 00:00:00", "pro")
    ).toDF("user_id", "event_id", "ts0", "plan")
      .select(col("user_id"), col("event_id"), col("ts0").cast("timestamp").as("ts"), col("plan"))
    val rows = EventStreams.scd2(ev, "user_id", "plan").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2).toString.take(10), Option(r.getTimestamp(3)).map(_.toString.take(10)),
        r.getBoolean(4)))
    val u1 = rows.filter(_._1 == "u1").sortBy(_._3)
    assert(u1 === Seq(
      ("u1", "free", "2025-01-01", Some("2025-01-03"), false),
      ("u1", "pro", "2025-01-03", Some("2025-01-03"), false),
      ("u1", "team", "2025-01-03", None, true)))
    assert(rows.filter(_._1 == "u2") === Seq(("u2", "pro", "2025-01-01", None, true)))
  }

  // --- random projection -------------------------------------------------------

  test("randomProject: matches a hand-rolled projection, deterministic, zero shuffle") {
    val vecs = Seq(
      ("a", Array(1.0f, 2.0f, -3.0f, 0.5f)),
      ("b", Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "embedding")
    val out = Quantize.randomProject(vecs, outDim = 3, inDim = 4, seed = 7L)
    // hand replay of the sign derivation (md5 hex prefix parity)
    def sign(j: Int, i: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"7|$j|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 12), 16) % 2 == 0) 1.0 else -1.0
    }
    val x = Array(1.0, 2.0, -3.0, 0.5)
    val expectA = (0 until 3).map(j =>
      (0 until 4).map(i => sign(j, i) * x(i)).sum / math.sqrt(3.0))
    val got = out.filter(col("id") === "a").select("proj").head().getSeq[Double](0)
    got.zip(expectA).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
    assert(out.filter(col("id") === "b").select("proj").head()
      .getSeq[Double](0).forall(_ == 0.0))
    // short array pads with zeros instead of throwing
    val short = Quantize.randomProject(Seq(("s", Array(1.0f))).toDF("id", "embedding"),
      outDim = 3, inDim = 4, seed = 7L)
      .select("proj").head().getSeq[Double](0)
    assert(math.abs(short(0) - sign(0, 0) / math.sqrt(3.0)) < 1e-12)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(Quantize.randomProject(vecs, 3, 4).queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rangeLookup: [lo,hi) boundaries, gaps -> NULL, overlap rejected, zero shuffle") {
    import graft.ext.Joins
    val ranges = Seq((0.0, 10.0, "a"), (10.0, 20.0, "b"), (25.0, 30.0, "c"))
      .toDF("lo", "hi", "label")
    val vals = Seq(Some(0.0), Some(9.999), Some(10.0), Some(19.999), Some(22.0),
      Some(25.0), Some(29.999), Some(30.0), Some(-1.0), None)
      .toDF("v")
    val out = Joins.rangeLookup(vals, ranges, "v").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0))) -> Option(r.getString(1))).toMap
    assert(out(Some(0.0)) === Some("a"))
    assert(out(Some(9.999)) === Some("a"))
    assert(out(Some(10.0)) === Some("b")) // lo inclusive
    assert(out(Some(19.999)) === Some("b"))
    assert(out(Some(22.0)) === None) // gap
    assert(out(Some(25.0)) === Some("c"))
    assert(out(Some(30.0)) === None) // hi exclusive
    assert(out(Some(-1.0)) === None)
    assert(out(None) === None) // null value -> null label
    val overlap = Seq((0.0, 10.0, "a"), (5.0, 15.0, "b")).toDF("lo", "hi", "label")
    intercept[IllegalArgumentException](Joins.rangeLookup(vals, overlap, "v"))
    val empty = Seq((5.0, 5.0, "z")).toDF("lo", "hi", "label")
    intercept[IllegalArgumentException](Joins.rangeLookup(vals, empty, "v"))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Joins.rangeLookup(vals, ranges, "v").queryExecution.executedPlan
      assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty)
      assert(!plan.toString.contains("Join"), "lookup must not plan a join")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sampleFrames: slice offsets, pts clock, reassembly, null media, short blob") {
    val bytes11 = "abcdefghijk".getBytes("UTF-8")
    val df = Seq(("v1", bytes11), ("v2", null.asInstanceOf[Array[Byte]]),
      ("v3", "xy".getBytes("UTF-8"))).toDF("id", "media")
    val out = Multimodal.sampleFrames(df, n = 4).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getLong(3),
        new String(r.getAs[Array[Byte]](4), "UTF-8")))
    val v1 = out.filter(_._1 == "v1").sortBy(_._2)
    // floor(11i/4) boundaries: 0,2,5,8,11
    assert(v1.map(_._4) === Seq("ab", "cde", "fgh", "ijk"))
    assert(v1.map(_._3) === Seq(0L, 40L, 80L, 120L))
    assert(v1.map(_._4).mkString === "abcdefghijk") // frames partition the blob
    assert(out.count(_._1 == "v2") === 0) // null media: no frame rows
    val v3 = out.filter(_._1 == "v3").sortBy(_._2)
    assert(v3.map(_._4) === Seq("", "x", "", "y")) // short blob pads empty frames
  }

  // --- Json -----------------------------------------------------------------

  test("json flatten: inferred schema, malformed row -> nulls, passthrough preserved") {
    val df = Seq(
      (1L, """{"k": 3, "tag": "x"}"""),
      (2L, """{"k": 5}"""),
      (3L, "not json at all"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "props")
    val out = Json.flatten(df, "props")
    assert(out.columns.toSeq === Seq("id", "k", "tag"))
    val rows = out.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(rows(1L) === ((Some(3L), Some("x"))))
    assert(rows(2L) === ((Some(5L), None)))
    assert(rows(3L) === ((None, None))) // PERMISSIVE: poison row survives, fields null
    assert(rows(4L) === ((None, None)))
  }

  test("json extract: working column collides with nothing and prefix applies") {
    val df = Seq((1L, """{"k": 7}""", "keepme")).toDF("id", "props", "__j")
    val schema = Json.inferSchema(df, "props")
    val out = Json.extract(df, "props", schema, prefix = "p_")
    assert(out.columns.toSeq === Seq("id", "__j", "p_k"))
    val r = out.head()
    assert(r.getString(1) === "keepme" && r.getLong(2) === 7L)
  }

  test("json extract: inferred field colliding with a passthrough column fails fast") {
    val df = Seq((1L, """{"id": 9, "k": 7}""")).toDF("id", "props")
    val schema = Json.inferSchema(df, "props")
    val e = intercept[IllegalArgumentException](Json.extract(df, "props", schema))
    assert(e.getMessage.contains("collide") && e.getMessage.contains("id"))
    // a prefix resolves the collision
    val out = Json.extract(df, "props", schema, prefix = "p_")
    assert(out.columns.toSeq === Seq("id", "p_id", "p_k"))
  }

  test("json flatten: nested bags surface as struct columns, arrays as arrays") {
    val df = Seq(
      (1L, """{"k": 1, "meta": {"src": "web", "score": 0.5}, "tags": ["a", "b"]}"""),
      (2L, """{"k": 2, "meta": {"src": "api"}, "tags": []}""")
    ).toDF("id", "props")
    val out = Json.flatten(df, "props")
    assert(out.columns.toSeq === Seq("id", "k", "meta", "tags"))
    val r = out.filter(col("id") === 1L)
      .select(col("k"), col("meta.src"), col("meta.score"), col("tags"))
      .head()
    assert(r.getLong(0) === 1L && r.getString(1) === "web" && r.getDouble(2) === 0.5)
    assert(r.getSeq[String](3) === Seq("a", "b"))
  }

  test("spanCorrupt: density 1 with spanLen 1 masks every token") {
    val d = Seq(("d1", "one two three four")).toDF("id", "content")
    val r = Pipeline.spanCorrupt(d, density = 1.0, spanLen = 1).head()
    assert(r.getLong(4) === 4L) // all 4 tokens masked
    assert(r.getLong(3) === 1L) // adjacent spans merge into one run
    assert(r.getString(1) === "<extra_id_0>") // input is one sentinel
    assert(r.getString(2) === "<extra_id_0> one two three four")
  }

  test("json inferSchema: sample cap still yields a usable schema") {
    val df = (1 to 500).map(i => (i.toLong, s"""{"k": $i}""")).toDF("id", "props")
    val s = Json.inferSchema(df, "props", maxSample = 50L)
    assert(s.fieldNames.toSeq === Seq("k"))
  }

  test("facets: per-facet top-k with deterministic rank; null is a counted value") {
    val d = Seq(
      ("en", "web"), ("en", "web"), ("en", "books"),
      ("de", "web"), (null, "books")
    ).toDF("lang", "source")
    val out = TextStats.facets(d, Seq("lang", "source"), k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(out(("lang", "en")) === ((3L, 0.6, 1)))
    assert(out(("lang", "de")) === ((1L, 0.2, 2))) // ties break value asc NULLS LAST: de before null
    assert(out(("source", "web")) === ((3L, 0.6, 1)))
    assert(out(("source", "books")) === ((2L, 0.4, 2)))
    // k=2 cut: lang has 3 values (en, de, null) -> exactly 2 survive
    assert(out.keys.count(_._1 == "lang") === 2)
  }

  // --- span corruption --------------------------------------------------------

  test("spanCorrupt: sentinel round-trip reconstructs the original token stream") {
    val d = Seq(
      ("d1", "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 10),
      ("d2", "one two three"),
      ("d3", "")
    ).toDF("id", "content")
    val out = Pipeline.spanCorrupt(d, density = 0.3, spanLen = 2, seed = 7L)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // d3: nothing to mask
    assert(out("d3") === (("", "", 0L, 0L)))
    // invert: splice each <extra_id_k>'s target tokens back into the input
    val sent = "<extra_id_(\\d+)>".r
    for ((id, (input, target, nSpans, nMasked)) <- out if id != "d3") {
      val spans: Map[Int, Seq[String]] =
        if (target.isEmpty) Map.empty
        else {
          // target = <extra_id_0> t t <extra_id_1> t ... ; walk the tokens
          val toks = target.split(" ")
          val acc = scala.collection.mutable.Map[Int, scala.collection.mutable.Buffer[String]]()
          var cur = -1
          toks.foreach {
            case s if s.matches("<extra_id_\\d+>") =>
              cur = s.stripPrefix("<extra_id_").stripSuffix(">").toInt
              acc(cur) = scala.collection.mutable.Buffer[String]()
            case t => acc(cur) += t
          }
          acc.view.mapValues(_.toSeq).toMap
        }
      val rebuilt = input.split(" ").toSeq.flatMap {
        case s if s.matches("<extra_id_\\d+>") =>
          spans(s.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        case t => Seq(t)
      }.mkString(" ")
      val orig = d.filter(col("id") === id)
        .select(array_join(graft.functions.TextFunctions.tokens(col("content")), " "))
        .head().getString(0)
      assert(rebuilt === orig, s"round-trip failed for $id")
      assert(spans.keys.toSeq.sorted === (0 until nSpans.toInt))
      assert(spans.values.map(_.size).sum === nMasked.toInt)
      if (nSpans > 0) assert(input.contains("<extra_id_0>"))
    }
    // long doc at density 0.3 must actually mask something
    assert(out("d1")._4 > 0L)
  }

  test("spanCorrupt: deterministic per seed, masked fraction tracks density") {
    val big = (1 to 50).map(i => (s"d$i", (1 to 200).map(j => s"w$j").mkString(" ")))
      .toDF("id", "content")
    val a = Pipeline.spanCorrupt(big, density = 0.15, spanLen = 3, seed = 1L)
    val b = Pipeline.spanCorrupt(big, density = 0.15, spanLen = 3, seed = 1L)
    assert(a.collect().toSeq.toSet === b.collect().toSeq.toSet)
    val frac = a.agg(sum("n_masked"), sum(lit(200L))).head()
    val masked = frac.getLong(0).toDouble / frac.getLong(1)
    assert(masked > 0.08 && masked < 0.25, s"masked fraction $masked far from 0.15")
    val c = Pipeline.spanCorrupt(big, density = 0.15, spanLen = 3, seed = 2L)
    assert(c.collect().toSeq.toSet !== a.collect().toSeq.toSet) // new seed, new draw
  }

  // --- plan shapes for the round-8 operators --------------------------------

  test("plan: importanceWeights scores via a broadcast join — the corpus never shuffles by token") {
    // string-level check: AQE's AdaptiveSparkPlanExec holds its inner plan
    // as a field, not a child, so collect{} cannot see the join nodes
    val d = Seq(("d1", "alpha beta"), ("d2", "beta gamma")).toDF("id", "content")
    val plan = TextStats.importanceWeights(d, d, vocabSize = 10)
      .queryExecution.executedPlan.toString
    // the per-token scoring join must build the O(vocab) ratio table, never
    // sort-merge the exploded corpus
    assert(!"SortMergeJoin \\[tok".r.findFirstIn(plan).isDefined,
      s"token-keyed SortMergeJoin found:\n$plan")
    assert(plan.contains("BroadcastHashJoin [tok"), s"no broadcast scoring join:\n$plan")
  }

  test("plan: json extract is a zero-shuffle projection") {
    val df = Seq((1L, """{"k": 7}""")).toDF("id", "props")
    val schema = Json.inferSchema(df, "props")
    // string check, not collect{}: a shuffle would wrap the plan in
    // AdaptiveSparkPlanExec, whose inner plan collect{} cannot traverse
    val plan = Json.extract(df, "props", schema).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in extract plan:\n$plan")
  }

  test("plan: facets rank window runs over the aggregated frame, not over rows") {
    val d = Seq(("en", "web"), ("de", "books")).toDF("lang", "source")
    val plan = TextStats.facets(d, Seq("lang", "source"))
      .queryExecution.executedPlan.toString
    // tree printout nests children BELOW parents: the rank Window must have
    // the count aggregate somewhere beneath it, i.e. a HashAggregate line
    // after the Window line — the window never runs over raw exploded rows
    val w = plan.indexOf("Window")
    assert(w >= 0, s"no Window in plan:\n$plan")
    assert(plan.indexOf("HashAggregate", w) > w,
      s"rank window has no aggregate below it:\n$plan")
  }

  // --- importance weighting -------------------------------------------------

  test("importanceWeights: target == raw scores exactly 0; empty doc scores 0 with 0 tokens") {
    val d = Seq(("d1", "alpha beta gamma"), ("d2", "alpha alpha"), ("d3", "")).toDF("id", "content")
    val out = TextStats.importanceWeights(d, d, vocabSize = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("d1")._2 === 0.0 && out("d2")._2 === 0.0) // identical LMs -> ratio ln(1)
    assert(out("d3") === ((0L, 0.0)))
  }

  test("importanceWeights: target-like docs score above target-unlike docs; OOV handled") {
    val raw = Seq(
      ("r1", "good clean prose text"),
      ("r2", "spam junk noise zzz"),
      ("r3", "good prose with xqzt")   // xqzt OOV-ish rare token
    ).toDF("id", "content")
    val target = Seq(("t1", "good clean prose text prose good")).toDF("id", "content")
    val out = TextStats.importanceWeights(raw, target, vocabSize = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("r1") > out("r2"))
    assert(out("r3") > out("r2")) // one rare token must not sink a target-like doc
  }

  test("importanceWeights: hashed-feature mode tracks exact mode when buckets are collision-free") {
    val raw = Seq(
      ("r1", "good clean prose text"),
      ("r2", "spam junk noise zzz")
    ).toDF("id", "content")
    val target = Seq(("t1", "good clean prose text")).toDF("id", "content")
    val exact = TextStats.importanceWeights(raw, target, vocabSize = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val hashed = TextStats.importanceWeights(raw, target, hashBuckets = Some(1 << 20))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // 8 distinct tokens in 2^20 buckets: collision-free w.h.p. -> same scores
    exact.foreach { case (id, v) => assert(math.abs(hashed(id) - v) < 1e-9) }
  }

  test("compressionRatio: repetition compresses, doubling improves, empty is 1.0") {
    val rows = TextStats.compressionRatio(Seq(
      ("rep", "ab" * 200),
      ("nat", "the quick brown fox jumps over the lazy dog and then naps by the river bank"),
      ("natx2", ("the quick brown fox jumps over the lazy dog and then naps by the river bank " * 2).trim),
      ("empty", "")
    ).toDF("id", "content")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows("rep")._3 < rows("nat")._3)       // repetition compresses far more
    assert(rows("natx2")._3 < rows("nat")._3)     // self-repeat improves per byte
    assert(rows("empty") === ((0L, 0L, 1.0)))
    assert(rows("nat")._1 === 75L && rows("nat")._2 > 0L) // raw UTF-8 byte count
    // deterministic: same input, same bytes
    val again = TextStats.compressionRatio(Seq(("rep", "ab" * 200)).toDF("id", "content"))
      .collect().head.getLong(2)
    assert(again === rows("rep")._2)
  }

  test("StreamMetrics: per-batch rows and latency counters over a two-batch run") {
    implicit val sqlCtx = spark.sqlContext
    val m = graft.streaming.StreamMetrics.attach(spark)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v")
      .writeStream.format("memory").queryName("sm_out").outputMode("append")
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b"), (3L, "c")); q.processAllAvailable()
      mem.addData((4L, "d"), (5L, "e")); q.processAllAvailable()
    } finally q.stop()
    // progress events land on the async listener bus — wait for both
    assert(m.awaitBatches("sm_out", 2) >= 2)
    m.detach()
    val snap = m.snapshot().filter(col("query") === "sm_out")
      .filter(col("input_rows") > 0) // empty-trigger batches may interleave
      .orderBy("batch_id")
      .select("batch_id", "input_rows", "batch_duration_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(snap.map(_._2).toSeq === Seq(3L, 2L), s"per-batch input rows: ${snap.toSeq}")
    assert(snap.forall(_._3 >= 0L)) // triggerExecution latency recorded
    assert(snap.map(_._1).distinct.length === 2) // one counter row per batch
  }

  private def sweepFixture = Seq(
    ("good", ("the quick brown fox jumps over the lazy dog and naps " * 6).trim),
    ("bullets", "- one\n- two\n- three\n- four"),
    ("spam", ("buy now " * 40).trim),
    ("german", "der hund und die katze laufen durch den park und das haus ist groß " * 4),
    ("short", "tiny"),
    ("empty", "")
  ).toDF("id", "content")

  test("signalSweep: equals the composed individual operators, column for column") {
    val d = sweepFixture
    val sweep = TextStats.signalSweep(d, minWords = 5, minStopwordHits = 1)
    val composed = TextStats.tokenCounts(TextStats.langId(TextStats.quality(
      TextStats.gopherFilter(d, minWords = 5, minStopwordHits = 1)
        .withColumnRenamed("keep", "gopher_keep"))))
      .withColumn("keep", col("gopher_keep") && col("quality") >= 0.25 &&
        col("pred_lang") =!= "und")
    assert(sweep.columns.sorted === composed.columns.sorted)
    val cols = sweep.columns.sorted.map(col)
    assert(sweep.select(cols: _*).orderBy("id").collect().toSeq ===
      composed.select(cols: _*).orderBy("id").collect().toSeq)
  }

  test("signalSweep: composite keep — gopher-pass but 'und' language drops") {
    val rows = TextStats.signalSweep(sweepFixture, minWords = 5, minStopwordHits = 1)
      .select("id", "gopher_keep", "pred_lang", "keep")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(rows("good") === ((true, "en", true)))
    assert(rows("german")._2 === "de")
    assert(!rows("empty")._3 && !rows("short")._3) // word-count floor
    assert(!rows("spam")._3)                       // top-ngram repetition
    // every kept doc passed all three gates
    rows.values.foreach { case (g, l, k) => if (k) assert(g && l != "und") }
  }

  test("MojibakeTable: derived from the byte math, printable, longest-first") {
    val t = TextStats.MojibakeTable
    assert(t.nonEmpty)
    t.foreach { case (moji, ch) =>
      assert(ch.length === 1)
      assert(moji.length >= 2 && moji.length <= 3)
      // the pair IS the byte identity: utf8(ch) read as cp1252 == moji
      assert(new String(ch.getBytes("UTF-8"), "windows-1252") === moji)
      assert(moji.forall(c => !c.isControl))
    }
    assert(t.map(_._1.length).sliding(2).forall(p => p.head >= p.last)) // longest first
    assert(t.contains("Ã©" -> "é"))
  }

  test("fixMojibake: repairs cp1252 mojibake, leaves clean text alone") {
    def moji(s: String) = new String(s.getBytes("UTF-8"), "windows-1252")
    val d = Seq(
      ("m1", "CafÃ© au lait"),              // canonical hand-typed form
      ("m2", moji("don’t stop – ever")),
      ("m3", moji("naïve résumé")),
      ("ok", "plain ascii text, nothing to fix"),
      ("uni", "echte Wörter — bleiben ’so’")  // already-correct unicode
    ).toDF("id", "content")
    val out = TextStats.fixMojibake(d).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(out("m1") === (("Café au lait", true)))
    assert(out("m2") === (("don’t stop – ever", true)))
    assert(out("m3") === (("naïve résumé", true)))
    assert(out("ok") === (("plain ascii text, nothing to fix", false)))
    assert(out("uni") === (("echte Wörter — bleiben ’so’", false)))
  }

  test("fixMojibake: round-trips machine-corrupted text; passes=2 undoes double encoding") {
    val singles = Seq("café crème — d’été", "über die Straße», 45°", "…naïve™")
    val onceIn = singles.map(s => new String(s.getBytes("UTF-8"), "windows-1252"))
    val once = TextStats.fixMojibake(
        onceIn.zipWithIndex.map { case (s, i) => (s"d$i", s) }.toDF("id", "content"))
      .orderBy("id").collect().map(_.getString(2))
    assert(once.toSeq === singles)
    // double-encoded: corrupt the corrupted form again; one pass peels one
    // layer. "—" is excluded here: its single-moji form contains "”",
    // whose own UTF-8 hits undefined byte 0x9D — the documented
    // printable-table boundary (single-layer repair of "—" works above)
    val originals = Seq("café crème d’été", "über die Straße», 45°", "…naïve™")
    val corrupted = originals.map(s =>
      new String(s.getBytes("UTF-8"), "windows-1252"))
    val twice = corrupted.map(s => new String(s.getBytes("UTF-8"), "windows-1252"))
    val d2 = twice.zipWithIndex.map { case (s, i) => (s"d$i", s) }.toDF("id", "content")
    assert(TextStats.fixMojibake(d2, passes = 1).orderBy("id")
      .collect().map(_.getString(2)).toSeq === corrupted)
    assert(TextStats.fixMojibake(d2, passes = 2).orderBy("id")
      .collect().map(_.getString(2)).toSeq === originals)
  }

  test("writeBucketed + coLocatedJoin: result equals plain join, plan has no exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-layout-").toString
    val left = (1 to 200).map(i => (i.toLong, s"doc$i", i % 7)).toDF("id", "name", "grp")
    val right = (1 to 250).map(i => (i.toLong, i * 10)).toDF("id", "score")
    graft.ext.Layout.writeBucketed(left, "lay_left", wh + "/l", Seq("id"), 4)
    graft.ext.Layout.writeBucketed(right, "lay_right", wh + "/r", Seq("id"), 4)

    val j = graft.ext.Layout.coLocatedJoin(spark, "lay_left", "lay_right", Seq("id"))
    assert(j.count() === 200)
    assert(j.orderBy("id").collect().toSeq ===
      left.join(right, Seq("id")).orderBy("id").collect().toSeq)
    // the layout carries the partitioning: ZERO Exchange — the merge join
    // reads co-located single-file buckets straight off parquet (a
    // per-partition Sort remains: Spark 4 does not propagate sortBy
    // ordering from bucketed scans, but it shuffles nothing)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange"), plan)

    // bucket-keyed aggregate: partial+final merge in one stage, no exchange
    val a = graft.ext.Layout.coLocatedAgg(spark, "lay_left", Seq("id"),
      Seq("count(*) AS n"))
    assert(a.count() === 200)
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))

    // but a NON-key aggregate still shuffles — the layout only covers its key
    val g = spark.table("lay_left").groupBy("grp").count()
    assert(g.queryExecution.executedPlan.toString.contains("Exchange"))
    spark.sql("DROP TABLE IF EXISTS lay_left")
    spark.sql("DROP TABLE IF EXISTS lay_right")
  }

  test("plan: signalSweep fuses to one scan, zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = TextStats.signalSweep(sweepFixture).queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty, plan.toString)
    // exactly one leaf: all four signal families read the SAME pass —
    // a self-join or second scan would show a second leaf
    assert(plan.collectLeaves().size === 1, plan.toString)
  }

  // --- X128: HTML → text extraction -------------------------------------

  test("HtmlEntities.decode: named, numeric, and malformed references") {
    import graft.functions.HtmlEntities.decode
    assert(decode("&amp; &lt; &gt; &quot; &apos; x") === "& < > \" ' x")
    assert(decode("&nbsp;") === " ")
    assert(decode("&#65;&#x41;&#X41;&#065;") === "AAAA") // dec, hex, HEX, leading zero
    assert(decode("&#x1F600;") === new String(Character.toChars(0x1F600))) // astral
    assert(decode("&#x10FFFF;") === new String(Character.toChars(0x10FFFF)))
    // single-pass: decoded output is NEVER re-scanned
    assert(decode("&amp;lt;") === "&lt;")
    assert(decode("&#38;lt;") === "&lt;")
    assert(decode("&#38;#60;") === "&#60;")
    // malformed / out of range / unknown stay verbatim
    for (s <- Seq("&unknown;", "&#;", "&#x;", "&#xZZ;", "&#1114112;", "&#xD800;",
                  "&#0;", "&gt", "& alone", "&", "a&", "&&amp;", "&#x010FFFF;"))
      assert(decode(s) === (if (s == "&&amp;") "&&" else s), s)
    assert(decode(null: String) === null)
    val plain = "no ampersand here"
    assert(decode(plain) eq plain) // fast path returns the input object
    val bareAmp = "AT&T sells M&Ms & more"
    assert(decode(bareAmp) eq bareAmp) // '&'s but no references: still the input object
    // the high-frequency named table beyond the XML five: punctuation,
    // symbols, accented Latin — case-SENSITIVE like the HTML5 table
    assert(decode("a&mdash;b&ndash;c") === "a—b–c")
    assert(decode("it&rsquo;s &ldquo;x&rdquo;&hellip;") === "it’s “x”…")
    assert(decode("&copy; &reg; &trade; &euro;5 &pound;3 &deg;C &frac12;")
      === "© ® ™ €5 £3 °C ½")
    assert(decode("caf&eacute; &Eacute;cole stra&szlig;e se&ntilde;or")
      === "café École straße señor")
    assert(decode("&EACUTE; &Mdash;") === "&EACUTE; &Mdash;") // wrong case: verbatim
    assert(decode("&le;&ge;&ne;&rarr;&minus;") === "≤≥≠→−")
  }

  test("HtmlEntities: encode→decode round-trips arbitrary text (fuzz)") {
    import graft.functions.HtmlEntities.decode
    val rnd = new scala.util.Random(128)
    val alphabet = "ab &<>\"'#;x1é😀"
    for (_ <- 1 to 300) {
      val s = Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val enc = s.flatMap {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case c   => c.toString
      }
      assert(decode(enc) === s, s"enc=$enc")
    }
  }

  test("htmlToText: comments, containers, blocks, entities, whitespace") {
    import graft.ext.Html
    val html = "<html><head><title>Doc 42</title><style type=\"text/css\">p { color: red; }" +
      "</style></head><body><!-- hidden <p>not text</p> --><h1 class=\"t\">Title &amp; " +
      "&lt;tag&gt; caf&#233;</h1><p>the quick fox</p><script>var x = \"<div>no</div>\";" +
      "</script><div>tail&nbsp;A&#x41; &unknown; 1 &lt 2</div></body></html>"
    val out = Seq(html).toDF("html").select(Html.htmlToText(col("html"))).as[String].head
    assert(out === "Doc 42 Title & <tag> café\nthe quick fox\ntail AA &unknown; 1 &lt 2")
  }

  test("htmlToText: edge shapes — bare <, unterminated script, null, case") {
    import graft.ext.Html
    def run(h: String): String =
      Seq(h).toDF("html").select(Html.htmlToText(col("html"))).as[String].head
    assert(run("a < b, x > y") === "a < b, x > y") // math survives (no letter after <)
    assert(run("<SCRIPT>var x;</Script>after") === "after") // case-insensitive containers
    assert(run("<script>var x = 1") === "var x = 1") // unterminated: degrades to tag strip
    assert(run("<p>a</p><p></p><p>b</p>") === "a\nb") // empty blocks collapse
    assert(run("cells</td><td>split") === "cells split") // inline strip = space, not glue
    val n = Seq((1, null: String)).toDF("i", "html")
      .select(Html.htmlToText(col("html"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("Html.extractMetadata: title/canonical/description/lang incl. NULLs") {
    import graft.ext.Html
    val page = "<html lang=\"EN-us\"><head><title> Spark &amp;\n Friends </title>" +
      "<link href=\"https://ex.com/a\" rel=\"canonical\">" +
      "<meta content=\"A &quot;great&quot; page\" name=\"description\"></head>" +
      "<body>x</body></html>"
    val r = Html.extractMetadata(Seq(page).toDF("html"))
      .select("title", "canonical_url", "meta_description", "declared_lang").head()
    assert(r.getString(0) === "Spark & Friends") // decoded, collapsed, trimmed
    assert(r.getString(1) === "https://ex.com/a") // href-before-rel order
    assert(r.getString(2) === "A \"great\" page") // content-before-name order
    assert(r.getString(3) === "en-us")
    // rel-before-href order and absent fields → NULL, never ""
    val bare = Html.extractMetadata(Seq(
      "<link rel=\"canonical\" href=\"https://ex.com/b\"><p>no head</p>",
      "<title></title><p>empty title is NULL</p>").toDF("html"))
      .select("title", "canonical_url", "meta_description", "declared_lang").collect()
    assert(bare(0).getString(1) === "https://ex.com/b")
    assert(bare(0).isNullAt(0) && bare(0).isNullAt(2) && bare(0).isNullAt(3))
    assert(bare(1).isNullAt(0) && bare(1).isNullAt(1))
  }

  test("Html.extractMetadata robustness: comments, svg, quotes, attr prefixes") {
    import graft.ext.Html
    def meta(html: String) = Html.extractMetadata(Seq(html).toDF("html"))
      .select("title", "canonical_url", "meta_description", "declared_lang").head()
    // a commented-out title and a script-written link must NOT win
    val r1 = meta("<head><!-- <title>Old draft</title> -->" +
      "<script>document.write('<link rel=\"canonical\" href=\"https://spam/\">')</script>" +
      "<title>Real</title><link rel=\"canonical\" href=\"https://real/\"></head>" +
      "<body>x</body>")
    assert(r1.getString(0) === "Real")
    assert(r1.getString(1) === "https://real/")
    // an inline SVG <title> in the body is NOT the page title
    assert(meta("<head></head><body><svg><title>Menu icon</title></svg></body>").isNullAt(0))
    // a double-quoted value keeps its apostrophes; href is entity-decoded
    val r2 = meta("<head><meta name=\"description\" content=\"Jane's blog\">" +
      "<link rel='canonical' href='https://ex.com/p?a=1&amp;b=2'></head><body/>")
    assert(r2.getString(2) === "Jane's blog")
    assert(r2.getString(1) === "https://ex.com/p?a=1&b=2")
    // data-lang / data-name prefixes must not satisfy lang / name
    val r3 = meta("<html data-lang=\"theme-dark\" lang=\"fr\"><head>" +
      "<meta data-name=\"description\" content=\"not me\">" +
      "<meta name=\"description\" content=\"yes me\"></head><body/></html>")
    assert(r3.getString(3) === "fr")
    assert(r3.getString(2) === "yes me")
    // a document that STARTS at <body> has an EMPTY head region: the
    // in-body svg title must not leak in via a whole-document fallback
    assert(meta("<body><svg><title>Not the page title</title></svg></body>")
      .isNullAt(0))
    // first-in-document wins regardless of quote style: the earlier
    // single-quoted canonical beats the later double-quoted one
    val r4 = meta("<head><link rel='canonical' href='https://first/'>" +
      "<link rel=\"canonical\" href=\"https://second/\"></head><body/>")
    assert(r4.getString(1) === "https://first/")
  }

  test("metaRobotsOf + dropNoindex: token match, case fold, missing-field pass") {
    import graft.ext.{Html, Web}
    val docs = Seq(
      ("block1", "<head><meta name=\"robots\" content=\"noindex, follow\"></head><body/>"),
      ("block2", "<head><meta content=\"NOINDEX,NOFOLLOW\" name=\"robots\"></head><body/>"),
      ("keep1", "<head><meta name=\"robots\" content=\"index, nofollow\"></head><body/>"),
      // substring is NOT a token: must not block
      ("keep2", "<head><meta name=\"robots\" content=\"nonoindexed\"></head><body/>"),
      ("keep3", "<head><title>no robots meta</title></head><body/>"),
      ("keep4", null.asInstanceOf[String])
    ).toDF("id", "html")
    val robots = docs.select(col("id"), Html.metaRobotsOf(col("html")).as("r"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(robots("block1") === Some("noindex, follow"))
    assert(robots("block2") === Some("noindex,nofollow")) // lowercased
    assert(robots("keep3") === None)
    assert(robots("keep4") === None)
    val kept = Web.dropNoindex(docs).select("id").as[String].collect().toSet
    assert(kept === Set("keep1", "keep2", "keep3", "keep4"))
  }

  test("unquoted attribute values: robots meta, canonical href, html lang") {
    import graft.ext.{Html, Web}
    val docs = Seq(
      // fully unquoted (common real-crawl markup): selector AND value
      ("u1", "<head><meta name=robots content=noindex,nofollow></head><body/>"),
      // mixed quoting: quoted selector, unquoted value and vice versa
      ("u2", "<head><meta name=\"robots\" content=noindex></head><body/>"),
      ("u3", "<head><meta name=robots content=\"index, follow\"></head><body/>"),
      // unquoted href keeps its slashes; unquoted lang
      ("u4", "<html lang=en><head><link rel=canonical href=https://x/a/b></head><body/></html>"),
      // document-order precedence holds across quote styles
      ("u5", "<head><meta name=robots content=all><meta name=\"robots\" content=\"noindex\"></head><body/>")
    ).toDF("id", "html")
    val got = docs.select(col("id"),
      Html.metaRobotsOf(col("html")).as("r"),
      Html.canonicalUrlOf(col("html")).as("c"),
      Html.declaredLangOf(col("html")).as("l"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(got("u1")._1 === Some("noindex,nofollow"))
    assert(got("u2")._1 === Some("noindex"))
    assert(got("u3")._1 === Some("index, follow"))
    assert(got("u4")._2 === Some("https://x/a/b"))
    assert(got("u4")._3 === Some("en"))
    assert(got("u5")._1 === Some("all")) // FIRST element wins, not quote style
    val kept = Web.dropNoindex(docs).select("id").as[String].collect().toSet
    assert(kept === Set("u3", "u4", "u5"))
  }

  test("robotsRules: groups, agent selection, comments, empty Disallow, malformed paths") {
    import graft.ext.Web
    val robots = Seq(
      // specific group + star group: for 'graftbot' ONLY the specific
      // group applies; consecutive UA lines share one group head
      ("https://a.example/robots.txt",
        "User-agent: GraftBot\nUser-agent: otherbot\nDisallow: /secret/\n" +
          "Allow: /secret/ok/\n\nUser-agent: *\nDisallow: /everything/"),
      // no specific group: the star group applies; comments stripped;
      // empty Disallow yields NO rule; non-/ path is malformed, dropped
      ("https://b.example/robots.txt",
        "Disallow: /ignored-no-group/\nUser-agent: * # the catch-all\n" +
          "Disallow: /tmp/ # scratch\nDisallow:\nAllow: relative-junk"),
      // only an unrelated group: nothing applies to graftbot
      ("https://c.example/robots.txt", "User-agent: megabot\nDisallow: /")
    ).toDF("url", "content")
    val rules = Web.robotsRules(robots, agent = "graftbot")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rules === Set(
      ("a.example", "disallow", "/secret/"),
      ("a.example", "allow", "/secret/ok/"),
      ("b.example", "disallow", "/tmp/")))
    // duplicate captures per host: deterministic single pick (no dup rules)
    val dup = robots.unionByName(
      Seq(("https://b.example/robots.txt", "User-agent: *\nDisallow: /other/"))
        .toDF("url", "content"))
    val perHost = Web.robotsRules(dup, agent = "graftbot")
      .filter(col("host") === "b.example").count()
    assert(perHost === 1L)
    // RFC 9309 §2.2.1 most-specific agent selection: prefix-matching
    // product tokens, longest wins, star only when nothing matches
    val tiered = Seq(("https://t.example/robots.txt",
      "User-agent: graftbot\nDisallow: /g/\n" +
        "User-agent: graftbot-news\nDisallow: /n/\n" +
        "User-agent: *\nDisallow: /s/\n" +
        "User-agent:\nDisallow: /empty-token-never-matches/"))
      .toDF("url", "content")
    def rulesFor(agent: String) =
      Web.robotsRules(tiered, agent = agent)
        .select("path_prefix").as[String].collect().toSet
    // the longest matching token governs, not every matching one
    assert(rulesFor("graftbot-news") === Set("/n/"))
    // a sub-product falls back to its prefix group (googlebot-image rule)
    assert(rulesFor("graftbot-image") === Set("/g/"))
    // a SHORTER agent does not match a longer token; star applies
    assert(rulesFor("graft") === Set("/s/"))
    assert(rulesFor("otherbot") === Set("/s/"))
    // ties COMBINE: two separate groups naming the same token both apply
    // (RFC 9309: matching groups' rules merge), and a bare 'Disallow: *'
    // survives the parser as a wildcard rule
    val split = Seq(("https://u.example/robots.txt",
      "User-agent: graftbot\nDisallow: /a/\n\n" +
        "User-agent: other\nDisallow: *\n\n" +
        "User-agent: graftbot\nDisallow: /b/"))
      .toDF("url", "content")
    assert(Web.robotsRules(split, agent = "graftbot")
      .select("path_prefix").as[String].collect().toSet === Set("/a/", "/b/"))
    assert(Web.robotsRules(split, agent = "other")
      .select("path_prefix").as[String].collect().toSet === Set("*"))
  }

  test("dropDisallowed randomized: engine ≡ independent RFC 9309 reference on 400 urls") {
    import graft.ext.Web
    val rnd = new scala.util.Random(9309)
    // random rule population over 8 hosts: path fragments with '*' and a
    // sometimes-trailing '$', regex metachars sprinkled as literals
    val frags = Vector("/a", "/bb", "/c.d", "/x+y", "/q?k=", "/deep/", "1", "9", "*")
    def pattern(): String = {
      val core = "/" + (1 to (1 + rnd.nextInt(3)))
        .map(_ => frags(rnd.nextInt(frags.length)).stripPrefix("/")).mkString("/")
      (if (rnd.nextBoolean()) core else core + "*") +
        (if (rnd.nextInt(4) == 0) "$" else "")
    }
    val rules = (1 to 48).map { _ =>
      (s"h${rnd.nextInt(8)}.example",
        if (rnd.nextBoolean()) "allow" else "disallow", pattern())
    }
    val docs = (1 to 400).map { i =>
      val path = "/" + (1 to (1 + rnd.nextInt(3)))
        .map(_ => frags(rnd.nextInt(frags.length)).stripPrefix("/")).mkString("/")
      val q = if (rnd.nextInt(3) == 0) s"?k=$i" else ""
      (i.toString, s"https://h${rnd.nextInt(9)}.example$path$i$q")
    }
    val kept = Web.dropDisallowed(docs.toDF("id", "url"),
      rules.toDF("host", "rule", "path_prefix"))
      .select("id").as[String].collect().toSet
    // the independent reference: direct java.util.regex lowering + the
    // RFC's longest-pattern/allow-wins evaluation over path?query
    def lower(p: String): java.util.regex.Pattern = {
      val endsDollar = p.endsWith("$")
      val core = if (endsDollar) p.dropRight(1) else p
      val rx = core.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*")
      java.util.regex.Pattern.compile("^" + rx + (if (endsDollar) "$" else ""))
    }
    val byHost = rules.groupBy(_._1)
    val expect = docs.filter { case (_, url) =>
      val host = url.drop("https://".length).takeWhile(_ != '/')
      val rest = url.drop("https://".length + host.length)
      val path0 = rest.takeWhile(_ != '#')
      val path = if (path0.isEmpty) "/" else path0
      byHost.get(host) match {
        case None => true
        case Some(hr) =>
          val matched = hr.filter { case (_, _, p) =>
            lower(p).matcher(path).lookingAt() &&
              (!p.endsWith("$") || lower(p).matcher(path).matches())
          }
          if (matched.isEmpty) true
          else {
            val best = matched.maxBy { case (_, r, p) =>
              (p.length, if (r == "allow") 1 else 0)
            }
            best._2 == "allow"
          }
      }
    }.map(_._1).toSet
    assert(kept === expect)
  }

  test("robotsDirectives: group-independent sitemaps, agent-scoped crawl-delay") {
    import graft.ext.Web
    val robots = Seq(
      ("https://a.example/robots.txt",
        "Sitemap: https://a.example/sm0.xml\n" + // before any group: still applies
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /x/\n" +
          "User-agent: *\nCrawl-delay: 10\n" +
          "Sitemap: https://a.example/sm1.xml"), // inside a group: still global
      ("https://b.example/robots.txt",
        "User-agent: *\nCrawl-delay: 7 # trailing comment"),
      ("https://c.example/robots.txt",
        "User-agent: otherbot\nCrawl-delay: 99") // unselected group: no delay
    ).toDF("url", "content")
    val d = Web.robotsDirectives(robots, agent = "graftbot").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(d === Set(
      ("a.example", "sitemap", "https://a.example/sm0.xml"),
      ("a.example", "sitemap", "https://a.example/sm1.xml"),
      ("a.example", "crawl-delay", "2"), // the SPECIFIC group's, not star's
      ("b.example", "crawl-delay", "7")))
    // the rules path is unchanged by the shared-parse refactor
    assert(Web.robotsRules(robots, agent = "graftbot").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ===
      Set(("a.example", "disallow", "/x/")))
  }

  test("dropDisallowed: longest-prefix wins, allow wins ties, missing host keeps") {
    import graft.ext.Web
    val rules = Seq(
      ("a.example", "disallow", "/secret/"),
      ("a.example", "allow", "/secret/ok/"),
      ("a.example", "allow", "/s"),          // shorter than the disallow
      ("b.example", "disallow", "/"),
      ("tie.example", "disallow", "/p/"),
      ("tie.example", "allow", "/p/")        // equal length: allow wins
    ).toDF("host", "rule", "path_prefix")
    val docs = Seq(
      ("d1", "https://a.example/secret/x"),     // /secret/ disallow beats /s allow
      ("d2", "https://a.example/secret/ok/x"),  // longest is the allow
      ("d3", "https://a.example/public/x"),     // no match: keep
      ("d4", "https://b.example/anything"),     // / disallows all
      ("d5", "https://b.example"),              // empty path defaults to /
      ("d6", "https://tie.example/p/q"),        // tie: allow wins
      ("d7", "https://norules.example/x"),      // host without rules: keep
      ("d8", "not a url at all")                // unparseable: keep
    ).toDF("id", "url")
    val kept = Web.dropDisallowed(docs, rules).select("id").as[String].collect().toSet
    assert(kept === Set("d2", "d3", "d6", "d7", "d8"))
    // schema passthrough
    assert(Web.dropDisallowed(docs, rules).columns.toSeq === Seq("id", "url"))
    // plan shape: the per-host rules BROADCAST onto the corpus — a
    // sort-merge join here would shuffle the whole corpus at 100 TB
    val plan = Web.dropDisallowed(docs, rules).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"rules must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$plan")
  }

  test("dropDisallowed: RFC 9309 wildcards, $ anchor, query matching, pattern-length ties") {
    import graft.ext.Web
    val rules = Seq(
      ("w.example", "disallow", "/*.pdf$"),      // the classic extension ban
      ("w.example", "disallow", "/a/*/c"),       // mid-path wildcard
      ("w.example", "disallow", "/*?session="),  // wildcard + query matching
      ("w.example", "allow", "/a/ok/c"),         // plain prefix beats shorter wildcard
      ("q.example", "disallow", "/search?q="),   // plain prefix INTO the query
      // pattern-length tie-break across arms: '/p*' (len 3) vs '/p/' (len 3)
      ("t.example", "disallow", "/p*"),
      ("t.example", "allow", "/p/"),             // tie on length: allow wins
      // regex metachars in patterns stay literal (only * and trailing $
      // are special): '/x+y' must not match '/xxy'
      ("m.example", "disallow", "/x+y"),
      // a leading-* pattern (RFC allows it) matches anywhere
      ("s.example", "disallow", "*/private/")
    ).toDF("host", "rule", "path_prefix")
    val docs = Seq(
      ("p1", "https://w.example/docs/file.pdf"),     // *.pdf$ hits
      ("p2", "https://w.example/docs/file.pdf.html"),// $ anchor: no hit -> keep
      ("p3", "https://w.example/a/b/c"),             // mid-path * hits
      ("p4", "https://w.example/a/ok/c"),            // allow (len 8) beats /a/*/c (len 6)
      ("p5", "https://w.example/page?session=42"),   // query matched by wildcard rule
      ("p6", "https://w.example/page"),              // no match: keep
      ("q1", "https://q.example/search?q=x"),        // prefix rule reaches the query
      ("q2", "https://q.example/search"),            // no query: keep
      ("t1", "https://t.example/p/z"),               // tie: allow wins
      ("m1", "https://m.example/xxy"),               // '+' literal: keep
      ("m2", "https://m.example/x+y"),               // exact literal: drop
      ("s1", "https://s.example/deep/private/x")     // leading *: drop
    ).toDF("id", "url")
    val kept = Web.dropDisallowed(docs, rules).select("id").as[String].collect().toSet
    assert(kept === Set("p2", "p4", "p6", "q2", "t1", "m1"))
    // robotsRules keeps a leading-* pattern (RFC path-pattern grammar)
    val parsed = Web.robotsRules(
      Seq(("https://s.example/robots.txt",
        "User-agent: *\nDisallow: */private/\nDisallow: bad-no-slash"))
        .toDF("url", "content"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(parsed === Set(("disallow", "*/private/")))
  }

  // --- X129: blocklist curation ------------------------------------------

  private def blockDocs = Seq(
    ("b1", "https://ads.tracker.net/p/1", "clean words here"),
    ("b2", "https://www.example.com/a", "buy cheap pills now"),
    ("b3", "https://www.example.com/b", "the pillsbury doughboy"), // word boundary: no hit
    ("b4", "http://shop.example.co.uk/x", "clean"), // multi-part suffix domain
    ("b5", null, "buy cheap pills now"), // NULL url: phrase can still block
    ("b6", "https://ok.org/y", null), // NULL content: never phrase-blocked
    ("b7", "https://ok.org/z", "entirely clean text")
  ).toDF("id", "url", "content")

  test("blocklistTag: domain beats phrase, word boundaries, NULL pass-through") {
    val tagged = Web.blocklistTag(blockDocs,
        blockedDomains = Seq("Tracker.NET", "example.co.uk"),
        blockedPhrases = Seq("cheap PILLS"))
      .select("id", "block_reason").as[(String, String)].collect().toMap
    assert(tagged("b1") === "domain") // registrable domain of ads.tracker.net
    assert(tagged("b2") === "phrase")
    assert(tagged("b3") === null) // "pillsbury" does not match \bcheap pills\b
    assert(tagged("b4") === "domain") // shop.example.co.uk → example.co.uk
    assert(tagged("b5") === "phrase") // NULL url falls through to the phrase test
    assert(tagged("b6") === null) // NULL content never phrase-blocks
    assert(tagged("b7") === null)
    val kept = Web.filterByBlocklist(blockDocs,
        blockedDomains = Seq("tracker.net", "example.co.uk"),
        blockedPhrases = Seq("cheap pills"))
      .select("id").as[String].collect().toSet
    assert(kept === Set("b3", "b6", "b7"))
    assert(Web.filterByBlocklist(blockDocs).count() === 7) // empty lists: no-op
  }

  test("blocklistTag: domain-frame path matches the literal path (broadcast join)") {
    val bdf = Seq("tracker.net", "EXAMPLE.co.uk").toDF("domain")
    val viaDf = Web.blocklistTag(blockDocs, blockedDomainsDf = Some(bdf),
        blockedPhrases = Seq("cheap pills"))
      .select("id", "block_reason").as[(String, String)].collect().toMap
    val viaLit = Web.blocklistTag(blockDocs,
        blockedDomains = Seq("tracker.net", "example.co.uk"),
        blockedPhrases = Seq("cheap pills"))
      .select("id", "block_reason").as[(String, String)].collect().toMap
    assert(viaDf === viaLit)
    // row multiplicity preserved even when the block frame carries dups
    val dupDf = Seq("tracker.net", "tracker.net").toDF("d")
    assert(Web.blocklistTag(blockDocs, blockedDomainsDf = Some(dupDf)).count() === 7)
  }

  // --- X134: WARC-lite source ----------------------------------------------

  test("Warc: record split, header/HTTP parse, NULL fields by record type") {
    import graft.sources.Warc
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc-").toString
    val warcinfo = "WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:1>\r\n\r\n" +
      "software: graft\r\n\r\n"
    val resp = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.com/a\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\n\r\nHTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n<p>Hello &amp; bye</p>\r\n\r\n"
    val req = "WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: https://ex.com/a\r\n\r\n" +
      "GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/f.warc"), warcinfo + resp + req)
    val df = Warc.read(spark, s"$tmp/f.warc")
    assert(df.count() === 3)
    val byType = df.collect().map(r => r.getAs[String]("warc_type") -> r).toMap
    val rr = byType("response")
    assert(rr.getAs[String]("target_uri") === "https://ex.com/a")
    assert(rr.getAs[Int]("http_status") === 200)
    assert(rr.getAs[String]("content_type") === "text/html; charset=utf-8")
    assert(rr.getAs[String]("body") === "<p>Hello &amp; bye</p>")
    val wi = byType("warcinfo")
    assert(wi.getAs[String]("target_uri") === null) // warcinfo has no URI
    assert(wi.isNullAt(wi.fieldIndex("http_status"))) // and no HTTP payload
    assert(wi.getAs[String]("body") === "software: graft")
    val rq = byType("request")
    assert(rq.isNullAt(rq.fieldIndex("http_status"))) // a GET line is no status
    assert(rq.getAs[String]("body") === "GET /a HTTP/1.1\r\nHost: ex.com")
  }

  test("Warc: formatResponse→read roundtrip is lossless for newline-terminated bodies") {
    import graft.sources.Warc
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc-rt-").toString
    // "</html>\n" tails are the norm in real crawl payloads — exactly ONE
    // separator unit must be trimmed, the payload-owned \n survives
    val bodies = Seq("<html>a</html>\n", "plain no newline", "tail crlf\r\n")
    bodies.zipWithIndex.toDF("body", "i")
      .select(Warc.formatResponse(concat(lit("https://x/"), col("i")),
        lit("2024-01-01T00:00:00Z"), lit("text/html"), col("body")).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$tmp/rt")
    val back = Warc.read(spark, s"$tmp/rt")
      .select(regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("int").as("i"),
        col("body")).as[(Int, String)].collect().toMap
    assert(back(0) === "<html>a</html>\n")
    assert(back(1) === "plain no newline")
    assert(back(2) === "tail crlf\r\n")
    // truncated HTTP block (no blank line): status NULL, raw body — never
    // a status with headers leaking into the body
    val trunc = Warc.parseRecords(Seq(
      "WARC-Type: response\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html")
      .toDF("record")).head()
    assert(trunc.isNullAt(trunc.fieldIndex("http_status")))
    assert(trunc.getAs[String]("body") === "HTTP/1.1 200 OK\r\nContent-Type: text/html")
  }

  test("Warc: 200-case roundtrip fuzz over CR/LF-bearing bodies") {
    import graft.sources.Warc
    // any body over a CR/LF-heavy alphabet (marker-free, as contracted)
    // must survive format → split-shape → parse byte-identically: the
    // formatted record minus its version marker, plus the text writer's
    // row newline, is exactly what the reader's splitter hands parseRecords
    val rnd = new scala.util.Random(134)
    val alphabet = Seq("a", "b c", "\r\n", "\n", "\r", "<p>", "&amp;")
    val bodies = (1 to 200).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    }
    val formatted = bodies.toDF("i", "body")
      .select(col("i"), concat(
        Warc.formatResponse(concat(lit("https://x/"), col("i")),
          lit("2024-01-01T00:00:00Z"), lit("text/plain"), col("body")),
        lit("\n")).as("rec"))
      .select(col("i"), expr(s"substring(rec, ${Warc.VersionMarker.length + 1})").as("record"))
    val back = Warc.parseRecords(formatted.select(col("record")), trimSeparator = true)
      .select(regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("int").as("i"),
        col("body")).as[(Int, String)].collect().toMap
    for ((i, b) <- bodies) assert(back(i) === b, s"case $i body=${b.replace("\r", "\\r").replace("\n", "\\n")}")
  }

  test("Warc.parseRecords: pre-split records keep payload-owned tail bytes") {
    import graft.sources.Warc
    // the exposed pre-split path never carried an inter-record separator:
    // a payload legitimately ending in a bare \n or \r\n\r\n owns those
    // bytes — the separator trim belongs to read() only
    def rec(body: String): String =
      "WARC-Type: response\r\nWARC-Target-URI: https://x/1\r\n\r\n" +
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body
    for (body <- Seq("ends bare\n", "ends crlf2\r\n\r\n", "no tail")) {
      val got = Warc.parseRecords(Seq(rec(body)).toDF("record"))
        .select(col("body")).head().getString(0)
      assert(got === body,
        s"pre-split body ${body.replace("\r", "\\r").replace("\n", "\\n")}")
    }
  }

  // --- X132: semantic decontamination --------------------------------------

  test("semanticDecontaminate: drops embedding matches, NULLs pass, LSH ⊆ exact") {
    val corpus = Seq(
      ("c1", Array(1.0f, 0.0f, 0.0f, 0.0f)),
      ("c2", Array(0.9f, 0.1f, 0.0f, 0.0f)), // near c1's direction
      ("c3", Array(0.0f, 1.0f, 0.0f, 0.0f)),
      ("c4", null.asInstanceOf[Array[Float]]) // unscreenable: must survive
    ).toDF("id", "embedding")
    val bench = Seq(("b1", Array(2.0f, 0.0f, 0.0f, 0.0f))) // same direction as c1
      .toDF("ref_id", "embedding")
    val m = Dedup.embeddingMatchesAgainst(corpus, bench, threshold = 0.95,
        numTables = 0)
      .select("id", "ref_id").as[(String, String)].collect().toSet
    assert(m === Set(("c1", "b1"), ("c2", "b1"))) // cos(c2,b1) ≈ 0.994
    val kept = Dedup.semanticDecontaminate(corpus, bench, threshold = 0.95,
        numTables = 0)
      .select("id").as[String].collect().toSet
    assert(kept === Set("c3", "c4"))
    // LSH arm: verified pairs are a subset of exact (here: equal, tiny corpus)
    val lsh = Dedup.embeddingMatchesAgainst(corpus, bench, threshold = 0.95,
        numTables = 16, numPlanes = 2, dim = 4)
      .select("id", "ref_id").as[(String, String)].collect().toSet
    assert(lsh.subsetOf(m))
  }

  // --- X131: Aho-Corasick multi-phrase matching ---------------------------

  test("PhraseAutomaton: boundaries, nesting, edges — regex-\\b parity by hand") {
    import graft.functions.PhraseAutomaton
    val a = new PhraseAutomaton(Seq("Cheap Pills", "pill", "aa", "x"))
    assert(a.containsAny("buy cheap pills now"))
    assert(a.containsAny("cheap pills")) // at both string edges
    assert(a.containsAny("one pill only")) // shorter phrase, own boundaries
    assert(!a.containsAny("cheap pillses")) // right boundary fails for both
    assert(!a.containsAny("pillsbury cheap_pills")) // '_' is a word char: no boundary
    assert(a.containsAny("aa")) // nested-suffix phrase set ("aa" inside scans of "aaa"?)
    assert(!a.containsAny("aaa")) // no \b inside a word-char run
    assert(a.containsAny("b aa b"))
    assert(a.containsAny("éxé")) // 'é' is non-word under ASCII \b — boundary holds
    assert(!a.containsAny(""))
    // non-word-edge phrase: \b is an XOR — '$9' matches only AFTER a word char
    val d = new PhraseAutomaton(Seq("$9"))
    assert(d.containsAny("win$9 now")) // word 'n' | non-word '$' → boundary
    assert(!d.containsAny("win $9 now")) // space | '$': neither is word → no \b
  }

  test("PhraseAutomaton vs regex arm: 300-case differential fuzz") {
    import graft.functions.PhraseAutomaton
    val rnd = new scala.util.Random(131)
    val vocab = Seq("a", "aa", "ab", "b", "key", "keys", "agg", "row", "scan",
      "slow key", "key agg", "agg row scan", "x_1", "2fa")
    for (trial <- 1 to 300) {
      val phrases = rnd.shuffle(vocab).take(1 + rnd.nextInt(6))
      val auto = new PhraseAutomaton(phrases)
      val pat = java.util.regex.Pattern.compile(Web.phrasePattern(phrases))
      val text = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(Seq(" ", "", "-", "_")(rnd.nextInt(4)))
        .toLowerCase
      assert(auto.containsAny(text) === pat.matcher(text).find(),
        s"trial $trial phrases=$phrases text='$text'")
    }
  }

  test("X128/X129 plan shapes: extraction + blocklist are zero-shuffle; frame arm broadcasts") {
    import graft.ext.Html
    // extraction and both literal-blocklist arms must be pure scan-side
    // projections/filters — an Exchange would mean a 100 TB pass shuffles
    val ext = Html.extractText(blockDocs.withColumnRenamed("content", "html"),
      "html", "content")
    val lit0 = Web.blocklistTag(blockDocs,
      blockedDomains = Seq("tracker.net"), blockedPhrases = Seq("x y"))
    val auto0 = Web.blocklistTag(blockDocs,
      blockedPhrases = Seq("x y"), phraseAutomatonAt = 1)
    for (df <- Seq(ext, lit0, auto0)) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }
    // the domain-frame arm must broadcast the blocklist, never shuffle the
    // corpus side
    val framed = Web.blocklistTag(blockDocs,
      blockedDomainsDf = Some(Seq("tracker.net").toDF("d")))
    framed.collect()
    val fplan = framed.queryExecution.executedPlan.toString
    assert(fplan.contains("BroadcastHashJoin"), fplan)
    assert(!fplan.contains("SortMergeJoin"), fplan)
  }

  test("blocklistTag: automaton arm (phraseAutomatonAt=1) equals the regex arm") {
    val viaRegex = Web.blocklistTag(blockDocs, blockedPhrases = Seq("cheap pills"))
      .select("id", "block_reason").as[(String, String)].collect().toMap
    val viaAuto = Web.blocklistTag(blockDocs, blockedPhrases = Seq("cheap pills"),
        phraseAutomatonAt = 1)
      .select("id", "block_reason").as[(String, String)].collect().toMap
    assert(viaAuto === viaRegex)
    assert(viaAuto("b2") === "phrase")
    // empty phrases rejected on BOTH paths (the match-everything hazard)
    intercept[IllegalArgumentException] {
      Web.blocklistTag(blockDocs, blockedPhrases = Seq("ok", ""))
    }
  }
}
