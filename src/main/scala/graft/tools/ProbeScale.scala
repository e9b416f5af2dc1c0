package graft.tools

import graft.api.Collection
import graft.ext.{Ann, Dedup, Layout, TextStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe: replicate the sf0.1 corpus ~200x (1M docs, distinct ids,
  * copy-perturbed content) and 50x (100k vectors), run the heavy operators,
  * and report wall times — evidence that the plans stay shuffle-bound with
  * no driver-side cliffs as data grows. The near-dup section is the
  * adversarial case that killed the round-2 architecture (every doc sits in
  * a 200-copy near-dup cluster at jaccard ≈ 0.6, so LSH candidate volume is
  * O(copies²) per base doc): it now completes via in-bucket verification +
  * bucket caps (see [[graft.ext.Dedup]]), and this probe records the bucket
  * skew diagnostics alongside the timings.
  *
  * Writes one JSON object to BENCH_scale.json in the cwd. Run:
  * `sbt "runMain graft.tools.ProbeScale [copies] [modes]"` — `modes` may
  * contain `wide` (double the BASE corpus with a token-reversed variant:
  * same doc count as 2×copies but cluster size UNCHANGED, separating
  * docs-growth from cluster-growth in the MinHash cost) and/or `stages`
  * (per-stage MinHash timing: banding / bucket-collect / payload-pack /
  * verify+expand, materialized cumulatively), or be `ftsread` (ingest and
  * the ranked reads only, with each read's postings slice size).
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 200
    val mode = if (args.length > 1) args(1) else ""
    val sfDir = "/root/testdata/sf0.1"
    // `mhonly` mode = ingest + MinHash/cluster (+stages) only, and the
    // shuffle-partition count is env-overridable: the per-round scale probes
    // pin partitions at 32, so doubling the corpus doubles per-partition
    // shuffle volume — this knob separates "operator scales" from
    // "partition count must scale with the data", which on a real cluster
    // it does.
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val metrics = scala.collection.mutable.LinkedHashMap[String, Any]()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $label: $secs%.1f s")
      metrics += (label -> math.round(secs * 10) / 10.0)
      r
    }

    // fixed data-independent calibration (see Bench): probe artifacts from
    // different runs normalize by their calib_sec ratio — the host shows
    // multi-x wall-clock variance between runs
    time("calib_sec")(
      spark.range(20000000L)
        .select(($"id" % 997).as("k"), $"id")
        .groupBy($"k").agg(sum($"id").as("s"))
        .agg(sum($"s")).head())

    def writeOut(): Unit = {
      metrics += ("copies" -> copies, "shuffle_partitions" -> parts.toInt)
      val json = metrics.map {
        case (k, v: String) if v.startsWith("[") => s""""$k":$v"""
        case (k, v: String) => s""""$k":"$v""""
        case (k, v) => s""""$k":$v"""
      }.mkString("{", ",", "}")
      // copies=200 (1M docs) is the canonical cross-round artifact; other
      // scales/modes write alongside so they never clobber the comparison
      // baseline
      val modeSuffix = if (mode.isEmpty) "" else s"_$mode"
      val outName = if (copies == 200 && mode.isEmpty) "BENCH_scale.json"
                    else s"BENCH_scale_${copies}x$modeSuffix.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(outName),
        json.getBytes("UTF-8"))
      println(s"PROBE wrote $outName: $json")
      spark.stop()
    }

    // `r9ops` = self-contained round-9 probes, NO corpus ingest: (a) the
    // native dedupLinesDoc must be ~linear in LINES-PER-DOC (the HOF
    // formulation it replaced was quadratic — 4× the lines would have cost
    // ~16×); (b) the temporal-join family (as-of backward / nearest /
    // trailing range join) at 2M right events under BOTH a 100-key hot
    // layout and a 100k-key entity layout — per-event linearity and skew
    // sensitivity in one artifact.
    if (mode.contains("r9ops")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-r9ops-").toString
      for (l <- Seq(2000, 8000)) {
        val path = s"$tmp/docs_$l.parquet"
        spark.range(2000)
          .select($"id".cast("string").as("id"),
            concat_ws("\n", transform(sequence(lit(1), lit(l)),
              i => concat(lit("line "), pmod(i * 7919, lit(499))))).as("content"))
          .repartition(32).write.mode("overwrite").parquet(path)
        val docs = spark.read.parquet(path)
        val dropped = time(s"dedup_lines_doc_${l}l_sec")(
          Dedup.dedupLinesDoc(docs).agg(sum($"n_lines_dropped")).head().getLong(0))
        // 499 distinct trimmed forms per doc survive
        require(dropped == 2000L * (l - 499), s"unexpected drop count $dropped")
      }
      // r9 operators at scale: triangles on a 3M-edge circulant graph
      // (1M nodes, +17/+34/+57 rules — every node closes wedges), WCC on
      // the sparse 2/3-density chain graph, retention + SCD2 at 2M events
      // over 100k users, JL projection of 100k 64-d vectors
      {
        val n = 1000000L
        val nodes = spark.range(n).select($"id".as("i")).repartition(32)
        val tri = time("triangles_1m_nodes_3m_edges_sec")(
          graft.ext.Graphs.triangleCount(
            nodes.select($"i".as("src"), (($"i" + 17) % n).as("dst"))
              .unionByName(nodes.select($"i".as("src"), (($"i" + 34) % n).as("dst")))
              .unionByName(nodes.select($"i".as("src"), (($"i" + 57) % n).as("dst")))))
        println(s"PROBE   triangles = $tri"); metrics += ("triangles" -> tri)
        val cc = time("wcc_1m_nodes_sec")(
          graft.ext.Graphs.connectedComponents(
            nodes.filter($"i" % 3 =!= 0)
              .select($"i".as("src"), (($"i" + 17) % n).as("dst")))
            .select(countDistinct($"component")).head().getLong(0))
        println(s"PROBE   components = $cc"); metrics += ("components" -> cc)
        val ev2 = spark.range(2000000L)
          .select(($"id" % 100000).as("user_id"), $"id".as("event_id"),
            timestamp_micros(lit(1700000000000000L) + ($"id" % 7777777L) * 1000000L).as("ts"),
            concat(lit("t"), $"id" % 5).as("event_type"))
          .repartition(32).cache()
        ev2.count()
        val rn = time("retention_2m_events_sec")(
          graft.streaming.EventStreams.retentionCohorts(ev2, unit = "week").count())
        println(s"PROBE   retention cells = $rn"); metrics += ("retention_cells" -> rn)
        val sn = time("scd2_2m_events_sec")(
          graft.streaming.EventStreams.scd2(ev2, "user_id", "event_type").count())
        println(s"PROBE   scd2 intervals = $sn"); metrics += ("scd2_intervals" -> sn)
        ev2.unpersist()
        val vecs = spark.range(100000L)
          .select($"id", transform(sequence(lit(0), lit(63)),
            i => (pmod($"id" * 31 + i, lit(1000)) / 500.0 - 1.0).cast("float")).as("embedding"))
          .repartition(32).cache()
        vecs.count()
        val pn = time("jl_project_100k_64to8_sec")(
          graft.ext.Quantize.randomProject(vecs, outDim = 8, inDim = 64)
            .agg(sum(element_at($"proj", 1))).head().getDouble(0))
        println(f"PROBE   proj checksum = $pn%.3f")
        vecs.unpersist()
      }
      for (keys <- Seq(100, 100000)) {
        val right = spark.range(2000000L)
          .select(($"id" % keys).as("k"),
            timestamp_micros(lit(1700000000000000L) + $"id" * 1000000L).as("ts"),
            ($"id" * 3 % 1000).as("v"))
          .repartition(32).cache()
        val left = spark.range(200000L)
          .select(($"id" % keys).as("k"),
            timestamp_micros(lit(1700000000500000L) + $"id" * 9999999L).as("ts"))
          .repartition(32).cache()
        right.count(); left.count()
        val kTag = if (keys == 100) "hot100" else "k100k"
        val nB = time(s"asof_backward_2m_${kTag}_sec")(
          graft.ext.Joins.asofJoin(left, right, Seq("k")).count())
        val nN = time(s"asof_nearest_2m_${kTag}_sec")(
          graft.ext.Joins.asofNearest(left, right, Seq("k")).count())
        val nR = time(s"range_join_2m_${kTag}_sec")(
          graft.ext.Joins.rangeJoin(left, right, Seq("k"), "1 hour").count())
        require(nB == 200000L && nN == 200000L, "as-of joins must be left-preserving")
        println(s"PROBE   range-join rows ($kTag) = $nR")
        metrics += (s"range_rows_$kTag" -> nR)
        right.unpersist(); left.unpersist()
      }
      writeOut(); return
    }

    // `r9c` = the late-round-9 operators at 1M docs, no corpus ingest:
    // phrase verify (zero-shuffle ContainsSlice scan), distribution drift
    // (two token aggs + vocab-bounded tail), CMS sketch build, and the
    // batch + streaming-op domain caps (~1000 domains, WindowGroupLimit vs
    // one-long-per-key state).
    if (mode.contains("r9c")) {
      val docs1m = spark.range(1000000L)
        .select($"id".cast("string").as("id"),
          concat_ws(" ", transform(sequence(lit(1), lit(60)),
            i => concat(lit("t"), pmod($"id" * 31 + i * 7, lit(997)).cast("string")))).as("content"))
        .repartition(32).cache()
      docs1m.count()
      val nv = time("phrase_verify_1m_sec")(
        docs1m.filter(graft.functions.TextFunctions.containsSlice(
          graft.functions.TextFunctions.tokens($"content"),
          array(lit("t100"), lit("t107")))).count())
      println(s"PROBE   phrase hits = $nv"); metrics += ("phrase_hits" -> nv)
      val js = time("drift_1m_sec")(
        graft.ext.TextStats.tokenDistributionDrift(
          docs1m.filter($"id".cast("long") % 2 === 0),
          docs1m.filter($"id".cast("long") % 2 === 1), vocabSize = 1000)
          .agg(sum($"js_contrib")).head().getDouble(0))
      println(f"PROBE   js = $js%.6f")
      time("freq_sketch_1m_sec")(
        graft.ext.TextStats.freqSketchProbe(
          docs1m, Seq("t1", "t500", "zz"), eps = 1e-4).count())
      val ng = time("novelty_1m_sec")(
        graft.ext.TextStats.noveltyScores(docs1m)
          .agg(sum($"n_grams")).head().getLong(0))
      println(s"PROBE   novelty gram instances = $ng")
      val urls = docs1m.select($"id",
        concat(lit("https://www.site"),
          pmod($"id".cast("long") * 13, lit(1000)).cast("string"),
          lit(".com/p/"), $"id").as("url"))
        .repartition(32).cache()
      urls.count()
      val nc = time("domain_cap_1m_sec")(
        graft.ext.Web.capPerDomain(urls, maxPerDomain = 100).count())
      require(nc == 100L * 1000, s"unexpected cap count $nc")
      val ns = time("stream_cap_batch_1m_sec")(
        graft.streaming.EventStreams.capPerKeyStream(
          urls.select(graft.ext.Web.registrableDomain($"url").as("domain"), $"id"),
          "domain", "id", cap = 100).count())
      require(ns == nc, s"stream cap $ns != batch cap $nc")
      urls.unpersist(); docs1m.unpersist()
      writeOut(); return
    }

    // Shared r16 synthetic-crawl generator: 2M docs of (id, content, url)
    // — 16 distinct 8-word chunks, each doc 8 hash-chosen chunks (~64
    // tokens from 8 codegen'd hashes, no interpreted per-element lambdas),
    // urls over 100k hosts. ONE definition so the r16b and r16c corpora
    // stay comparable. The 100-phrase list carries an `i / 16` term so all
    // 100 are DISTINCT ((i*3+1) % 16 alone has period 16).
    val r16Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "customer", "join",
      "stream", "vector")
    def r16SynthDocs(): org.apache.spark.sql.DataFrame = {
      // every chunk carries one language stopword (rotating en/de/es/fr)
      // so the langid stage has real signal — an all-DB-word vocabulary
      // scores 'und' on every doc and a langid gate would drop the corpus
      val stops = Seq("the", "der", "el", "le")
      val chunkArr = array((0 until 16).map(k =>
        lit(((0 until 8).map(j => r16Words((k + j * 3) % 16)) :+
          stops(k % 4) :+ s"v$k").mkString(" "))): _*)
      val body = concat_ws(" ", (1 to 8).map(k =>
        element_at(chunkArr, (pmod(xxhash64($"id", lit(k)), lit(16)) + 1).cast("int"))): _*)
      spark.range(2000000L).repartition(64)
        .select($"id".cast("string").as("id"), body.as("content"),
          concat(lit("https://www.host"),
            pmod(xxhash64($"id", lit(3)), lit(100000)).cast("string"),
            lit(".com/p/"), $"id").as("url"))
    }
    def r16Phrases(): Seq[String] = {
      val out = (0 until 100).map(i =>
        s"${r16Words(i % 16)} ${r16Words((i * 3 + 1 + i / 16 * 7) % 16)}")
      require(out.distinct.size == out.size, "phrase fixture must be duplicate-free")
      out
    }

    // `r16b` = self-contained round-16 probes, NO collection ingest: the
    // X128 HTML→text extraction chain and the X129 blocklist at 2M docs,
    // each over a parquet-materialized input (so each timing is THAT
    // operator — the blocklist reads the extraction's OUTPUT parquet, not
    // a lazy plan that would re-run the extraction inside its timing).
    // Extraction = ~10 codegen'd regex passes + the single-pass entity
    // decode per row; the blocklist runs BOTH arms — literal (1k-domain
    // InSet + 100 word-bounded phrases as one alternation) and
    // broadcast-frame (1M-row dup-heavy domain list) — which must agree
    // on the hit counts.
    if (mode.contains("r16b")) {
      import graft.ext.{Html, Web}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r16b-").toString
      r16SynthDocs()
        .select($"id",
          concat(lit("<html><head><title>Doc "), $"id",
            lit("</title><style>p{color:red}</style></head><body>" +
              "<!-- hidden <p>x</p> --><h1>T &amp; caf&#233;</h1><p>"),
            $"content",
            lit("</p><script>var x=\"<div>no</div>\";</script>" +
              "<div>t&nbsp;A&#x41;</div></body></html>")).as("html"),
          $"url")
        .write.mode("overwrite").parquet(s"$tmp/crawl.parquet")
      val crawl = spark.read.parquet(s"$tmp/crawl.parquet")
      time("html_extract_2m_sec")(
        Html.extractText(crawl, "html", "content")
          .select($"id", $"url", $"content")
          .write.mode("overwrite").parquet(s"$tmp/extracted.parquet"))
      val extracted = spark.read.parquet(s"$tmp/extracted.parquet")
      // X128b head-metadata over the same crawl: up to 8 order×quote
      // patterns per field coalesce (first hit short-circuits; absent
      // fields pay all eight) — the title/lang hit early here, the
      // canonical/description fields MISS (not planted), so this times a
      // mixed hit/miss profile
      time("html_metadata_2m_sec")(
        graft.ext.Html.extractMetadata(crawl)
          .select($"id", $"title", $"canonical_url", $"meta_description",
            $"declared_lang")
          .write.format("noop").mode("overwrite").save())
      val domains = (0 until 1000).map(i => s"host${i * 97 % 100000}.com")
      val phrases = r16Phrases()
      val litHits = time("blocklist_2m_lit_sec")(
        Web.blocklistTag(extracted, blockedDomains = domains,
            blockedPhrases = phrases)
          .groupBy($"block_reason").count()
          .as[(String, Long)].collect().toMap)
      println(s"PROBE   blocklist lit hits = $litHits")
      metrics += ("bl_domain_hits" -> litHits.getOrElse("domain", 0L),
        "bl_phrase_hits" -> litHits.getOrElse("phrase", 0L))
      // same 1000 domains as the literal arm, but delivered as a 1M-row
      // dup-heavy frame (the UT1-list shape) — the broadcast-join arm must
      // reproduce the literal arm's counts exactly
      val domFrame = spark.range(1000000L)
        .select(concat(lit("host"),
          (pmod($"id", lit(1000)) * 97 % 100000).cast("string"),
          lit(".com")).as("domain"))
      val dfHits = time("blocklist_2m_domframe_sec")(
        Web.blocklistTag(extracted, blockedDomainsDf = Some(domFrame),
            blockedPhrases = phrases)
          .groupBy($"block_reason").count()
          .as[(String, Long)].collect().toMap)
      println(s"PROBE   blocklist frame hits = $dfHits")
      require(dfHits == litHits, s"frame arm $dfHits != literal arm $litHits")
      metrics += ("bl_frame_domain_hits" -> dfHits.getOrElse("domain", 0L))
      writeOut(); return
    }

    // `r16c` = the X131 phrase-matching arms head-to-head at 2M docs: the
    // regex alternation vs the Aho-Corasick automaton on the SAME 100
    // phrases (hit maps must agree), then the automaton alone at 100k
    // phrases — the UT1-class list size the regex arm cannot carry.
    if (mode.contains("r16c")) {
      import graft.ext.Web
      val tmp = java.nio.file.Files.createTempDirectory("graft-r16c-").toString
      r16SynthDocs().write.mode("overwrite").parquet(s"$tmp/docs.parquet")
      val docs2m = spark.read.parquet(s"$tmp/docs.parquet")
      val phrases = r16Phrases()
      def hits(at: Int, ps: Seq[String]): Map[String, Long] =
        Web.blocklistTag(docs2m, blockedPhrases = ps, phraseAutomatonAt = at)
          .groupBy($"block_reason").count()
          .as[(String, Long)].collect().toMap
      val rx = time("bl_regex_100p_2m_sec")(hits(Int.MaxValue, phrases))
      println(s"PROBE   regex hits = $rx")
      val ac = time("bl_auto_100p_2m_sec")(hits(1, phrases))
      println(s"PROBE   automaton hits = $ac")
      require(ac == rx, s"automaton $ac != regex $rx")
      metrics += ("bl_phrase_hits" -> rx.getOrElse("phrase", 0L))
      // 100k phrases: the same 100 live ones + 99,900 vocabulary-disjoint
      // fillers — hit mass unchanged, automaton cost must stay ~flat
      val big = phrases ++ (0 until 99900).map(i => s"blk$i q${i % 97}")
      val ac100k = time("bl_auto_100kp_2m_sec")(hits(1, big))
      require(ac100k == rx, s"100k-phrase automaton $ac100k != 100-phrase $rx")
      // the live phrases hit EVERY doc above (early exit flatters both
      // arms) — the miss arms are the honest worst case: zero hits, every
      // row pays the FULL content scan
      val missPhrases = phrases.map(p => s"zz$p".replace(" ", " qq"))
      val rxMiss = time("bl_regex_100p_miss_2m_sec")(hits(Int.MaxValue, missPhrases))
      val acMiss = time("bl_auto_100p_miss_2m_sec")(hits(1, missPhrases))
      require(rxMiss == acMiss && !rxMiss.contains("phrase"),
        s"miss arms diverged: $rxMiss vs $acMiss")
      val bigMiss = missPhrases ++ (0 until 99900).map(i => s"blk$i q${i % 97}")
      time("bl_auto_100kp_miss_2m_sec")(hits(1, bigMiss))
      writeOut(); return
    }

    // `r16d` = the x130 COMPOSED web pipeline at 2M docs as ONE lazy DAG:
    // URL canonicalize+dedup (50% planted dup mass via floor(id/2) paths +
    // tracking params on the odd twin) → blocklist (1k domains + the 100
    // distinct phrases) → HTML extract → langid gate → per-domain cap.
    // The point is plan-shape evidence at scale: the chain is linear (two
    // window shuffles, rest scan stages) and must NOT recompute upstream
    // stages — wall-clock ≈ the sum of its stages' standalone probes.
    if (mode.contains("r16d")) {
      import graft.ext.{Html, Web}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r16d-").toString
      // content kept alongside its HTML wrap so the blocklist stage runs
      // on the text (the x130 stage order); phrase list = the zz-prefixed
      // MISS forms, so the blocklist drops only the ~1% domain mass and
      // every downstream stage sees real volume
      r16SynthDocs()
        .select($"id", $"content",
          concat(lit("<body><h1>Page &amp; no."), $"id", lit("</h1><p>"),
            $"content", lit("</p><script>var x=1;</script></body>")).as("html"),
          // host hashes floor(id/2) — the SAME value the path carries —
          // so the dup twins 2k/2k+1 really share a canonical URL (hashing
          // the raw id gave the twins different hosts and the dedup stage
          // silently measured a no-op)
          concat(lit("https://www.host"),
            pmod(xxhash64(floor($"id".cast("long") / 2).cast("long"), lit(3)),
              lit(100000)).cast("string"),
            lit(".com/p/"), floor($"id".cast("long") / 2).cast("string"),
            when($"id".cast("long") % 2 === 1, lit("?utm_source=x"))
              .otherwise(lit(""))).as("url"))
        .write.mode("overwrite").parquet(s"$tmp/crawl.parquet")
      val crawl = spark.read.parquet(s"$tmp/crawl.parquet")
      val domains = (0 until 1000).map(i => s"host${i * 97 % 100000}.com")
      val n = time("web_pipeline_2m_sec") {
        val deduped = Web.dedupByUrl(crawl)
        val clean = Web.filterByBlocklist(deduped,
          blockedDomains = domains,
          blockedPhrases = r16Phrases().map(p => s"zz$p".replace(" ", " qq")))
        val extracted = Html.extractText(clean, "html", "content").drop("html")
        val en = graft.ext.TextStats.langId(extracted)
          .filter($"pred_lang" === "en").drop("pred_lang")
        Web.capPerDomain(en, maxPerDomain = 5).count()
      }
      println(s"PROBE   pipeline survivors = $n")
      metrics += ("pipeline_survivors" -> n)
      writeOut(); return
    }

    // `r16e` = X132 semantic decontamination at 1M corpus vectors × 10k
    // benchmark vectors (every 100th corpus vector planted as the bench):
    // identity matches share every LSH bucket, so the planted recall is
    // exactly 1.0 and the survivor count pins correctness while the clock
    // pins the LSH arm's cost (candidates ≈ tables × |C|×|R| / 2^planes —
    // 8 × 1M × 10k / 65536 ≈ 1.2M skinny rows, embeddings never shuffle).
    if (mode.contains("r16e")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-r16e-").toString
      val dim = 64
      val emb = array((0 until dim).map(d =>
        ((pmod(xxhash64($"id", lit(d)), lit(2000)).cast("double") / 1000.0) - 1.0)
          .cast("float")): _*)
      spark.range(1000000L).repartition(64)
        .select($"id".cast("string").as("id"), emb.as("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/vecs.parquet")
      val corpus = spark.read.parquet(s"$tmp/vecs.parquet")
      val bench = corpus.filter(xxhash64($"id", lit(9)) % 100 === 0)
        .select($"id".as("ref_id"), $"embedding")
      val planted = bench.count()
      val kept = time("semantic_decon_1m_x_10k_sec")(
        Dedup.semanticDecontaminate(corpus, bench, threshold = 0.95,
          numTables = 8, numPlanes = 16).count())
      println(s"PROBE   planted = $planted kept = $kept")
      require(kept <= 1000000L - planted,
        s"identity recall must be 1.0: kept $kept of 1M with $planted planted")
      metrics += ("decon_planted" -> planted, "decon_kept" -> kept)
      writeOut(); return
    }

    // `r16f` = the X134 WARC-lite reader at 2M records: format the shared
    // synthetic corpus as WARC responses through the text sink (64 part
    // files), then read + parse + aggregate. The reader is the Hadoop
    // delimiter split + codegen'd header regexes — the probe pins that a
    // crawl-scale scan stays a flat distributed read (no driver parsing).
    if (mode.contains("r16f")) {
      import graft.sources.Warc
      val tmp = java.nio.file.Files.createTempDirectory("graft-r16f-").toString
      r16SynthDocs().select(
        Warc.formatResponse(
          concat(lit("https://crawl.example/doc/"), $"id"),
          lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("value"))
        .write.mode("overwrite").text(s"$tmp/crawl")
      val parsed = time("warc_read_2m_sec")(
        Warc.read(spark, s"$tmp/crawl")
          .agg(count(lit(1)).as("n"),
            sum(when($"http_status" === 200, 1L).otherwise(0L)).as("ok"),
            sum(length($"body")).as("chars")).head())
      println(s"PROBE   warc parsed = $parsed")
      require(parsed.getLong(0) == 2000000L && parsed.getLong(1) == 2000000L,
        s"every record must parse: $parsed")
      metrics += ("warc_records" -> parsed.getLong(0),
        "warc_body_chars" -> parsed.getLong(2))
      writeOut(); return
    }

    // `r17ops` = round-17 probes, NO collection ingest:
    //  (a) X127 NB scoring, scan kernel vs the retired join shape, at 2M
    //      docs — the round's "kill the avoidable token shuffle" claim as
    //      a number (r16 measured the join shape at 39.1 s);
    //  (b) X134b member-gzip WARC write/read at 2M records vs the
    //      uncompressed text reader (done = within ~2× of uncompressed);
    //  (c) the x135 crawl→shards composition end-to-end at 2M: gz read →
    //      extract+id → url dedup → blocklist → line dedup → near dedup →
    //      pack + shards, persist() at the multi-consumer stage boundaries
    //      (the library-scale equivalent of the entry's freeze()).
    if (mode.contains("r17ops")) {
      import graft.sources.{Warc, WarcGzip}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r17ops-").toString
      val docs = r16SynthDocs().select($"id", $"content").persist()
      println(s"PROBE   docs = ${docs.count()}")
      val posT = docs.filter(pmod(xxhash64($"id", lit(7)), lit(20)) === 0)
      val negT = docs.filter(pmod(xxhash64($"id", lit(7)), lit(20)) === 1)
      val nbm = time("nb_train_2x100k_sec")(
        graft.ext.Classify.trainQualityNb(posT, negT))
      time("nb_score_2m_sec")(
        graft.ext.Classify.scoreQualityNb(docs, nbm)
          .write.format("noop").mode("overwrite").save())
      time("nb_score_join_2m_sec")(
        graft.ext.Classify.scoreQualityNbJoin(docs, nbm)
          .write.format("noop").mode("overwrite").save())
      val nbmB = time("nb_train_bigram_sec")(
        graft.ext.Classify.trainQualityNb(posT, negT, bigrams = true))
      time("nb_score_bigram_2m_sec")(
        graft.ext.Classify.scoreQualityNb(docs, nbmB)
          .write.format("noop").mode("overwrite").save())

      val recs = docs.select(Warc.formatResponse(
        concat(lit("https://crawl.example/doc/"), $"id"),
        lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("rec"))
        .persist()
      println(s"PROBE   records = ${recs.count()}")
      // the reader timings must not carry the NB section's cached corpus
      // as heap pressure (measured 4x on the gz read)
      docs.unpersist()
      time("warc_write_text_2m_sec")(
        recs.write.mode("overwrite").text(s"$tmp/plain"))
      time("warc_gz_write_2m_sec")(WarcGzip.writeGzip(recs, s"$tmp/gz"))
      recs.unpersist()
      // steady-state read timings: one warm-up pass each (JIT + page
      // cache), then the measured pass — in-probe cold numbers varied 2×
      // against an isolated rerun of the same read
      def readPlain() = Warc.read(spark, s"$tmp/plain")
        .agg(count(lit(1)), sum(length($"body"))).head()
      def readGz() = WarcGzip.read(spark, s"$tmp/gz")
        .agg(count(lit(1)), sum(length($"body"))).head()
      readPlain(); readGz()
      val plain = time("warc_read_2m_sec")(readPlain())
      val gz = time("warc_gz_read_2m_sec")(readGz())
      require(plain.getLong(0) == 2000000L && gz.getLong(0) == 2000000L,
        s"every record must parse both ways: plain=$plain gz=$gz")
      require(plain.getLong(1) == gz.getLong(1),
        s"body mass must agree across readers: plain=$plain gz=$gz")
      metrics += ("warc_gz_records" -> gz.getLong(0))

      // (c) crawl e2e — html-wrapped bodies with the x135 plants
      val crawlSrc = r16SynthDocs()
      val html = concat(
        lit("<html><body><h1>Crawl &amp; shard</h1><p>"), $"content",
        lit("</p><p>zzdocid "), $"id",
        lit("</p><script>var x = 1;</script></body></html>"))
      time("crawl_gz_write_2m_sec")(WarcGzip.writeGzip(
        crawlSrc.select(Warc.formatResponse($"url",
          lit("2024-01-01T00:00:00Z"), lit("text/html"), html).as("rec")),
        s"$tmp/crawl"))
      // the PRODUCT call end-to-end (CrawlPipeline = the x135 library
      // surface): gz read → robots gate → extract+id → url dedup →
      // blocklist → line dedup → near dedup → pack + shards
      time("crawl_e2e_2m_sec") {
        val curated = graft.ext.CrawlPipeline.curateCrawl(spark, s"$tmp/crawl",
          graft.ext.CrawlPipeline.CrawlConfig(
            blockedDomains = Seq("tracker.net"),
            blockedPhrases = Seq("slow scan merge"),
            idFrom = Some(
              regexp_extract($"content", "(?m)^zzdocid (\\w+)$", 1))))
        try {
          graft.ext.CrawlPipeline.toShards(curated, budget = 512,
              packShards = 64, numShards = 64, seed = 42L)
            .write.format("noop").mode("overwrite").save()
          println(s"PROBE   e2e curated=${curated.count()}")
        } finally curated.unpersist()
      }
      writeOut(); return
    }

    // `r18ops` = round-18 probes, NO collection ingest:
    //  (a) HTTP body decoding in the gz reader at 2M members: a CHUNKED
    //      corpus read with decoding on vs the raw escape hatch, plus a
    //      plain corpus under decoding (the no-op detection path) — the
    //      claim "decoding is scan-local, bounded overhead" as numbers;
    //  (b) X139 robots.txt gate at 2M docs with 50k ruled hosts: the
    //      rules parse (per-host windows) and the broadcast evaluation
    //      (the corpus side never shuffles);
    //  (c) X135 stage boundaries on the 2M crawl: persist() vs the
    //      durable stagePath parquet form (the resumable-run cost).
    if (mode.contains("r18ops")) {
      import graft.sources.{Warc, WarcGzip}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r18ops-").toString
      val docs = r16SynthDocs().persist()
      println(s"PROBE   docs = ${docs.count()}")
      // (a) chunked wire form constructed in SQL: two chunks split at
      // char 40, octet-counted (the x138 construction at probe scale)
      val ch1 = substring($"content", 1, 40)
      val ch2 = substring($"content", 41, Int.MaxValue)
      val chunked = concat(
        lower(hex(octet_length(ch1))), lit("\r\n"), ch1, lit("\r\n"),
        when(octet_length(ch2) > 0,
          concat(lower(hex(octet_length(ch2))), lit("\r\n"), ch2, lit("\r\n")))
          .otherwise(lit("")),
        lit("0\r\n\r\n"))
      val httpCh = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"), chunked)
      val recChunked = concat(
        lit("WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: "), $"url",
        lit("\r\nContent-Length: "), octet_length(httpCh).cast("string"),
        lit("\r\n\r\n"), httpCh, lit("\r\n\r\n"))
      WarcGzip.writeGzip(docs.select(recChunked.as("rec")), s"$tmp/chunked")
      WarcGzip.writeGzip(docs.select(Warc.formatResponse($"url",
        lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("rec")),
        s"$tmp/plain")
      def readSum(path: String, decode: Boolean) =
        WarcGzip.read(spark, path, decodeBody = decode)
          .agg(count(lit(1)), sum(length($"body"))).head()
      // steady-state: one warm-up pass each (r17ops rationale)
      readSum(s"$tmp/plain", decode = true)
      readSum(s"$tmp/chunked", decode = true)
      readSum(s"$tmp/chunked", decode = false)
      val pl = time("gz_read_plain_decode_on_2m_sec")(readSum(s"$tmp/plain", decode = true))
      val cOn = time("gz_read_chunked_decode_2m_sec")(readSum(s"$tmp/chunked", decode = true))
      val cOff = time("gz_read_chunked_raw_2m_sec")(readSum(s"$tmp/chunked", decode = false))
      require(pl.getLong(0) == 2000000L && cOn.getLong(0) == 2000000L,
        s"every record must parse: plain=$pl chunked=$cOn")
      require(pl.getLong(1) == cOn.getLong(1),
        s"dechunked body mass must equal the plain corpus: $pl vs $cOn")
      require(cOff.getLong(1) > cOn.getLong(1),
        "the raw escape hatch must keep the chunk framing bytes")

      // (b) robots gate: 50k of the corpus's 100k hosts carry rules
      val robotsSrc = spark.range(50000L).select(
        concat(lit("https://www.host"), $"id".cast("string"),
          lit(".com/robots.txt")).as("url"),
        lit("User-agent: *\nDisallow: /p/1\nAllow: /p/13\n" +
          "User-agent: other\nDisallow: /").as("content"))
      val rules = graft.ext.Web.robotsRules(robotsSrc).persist()
      time("robots_rules_parse_50k_sec")(
        println(s"PROBE   rules = ${rules.count()}"))
      val keptN = time("robots_gate_2m_sec")(
        graft.ext.Web.dropDisallowed(docs, rules).count())
      println(s"PROBE   kept = $keptN")
      require(keptN > 0L && keptN < 2000000L,
        s"the gate must drop some and keep some: kept=$keptN")
      rules.unpersist()
      docs.unpersist()

      // (c) stage-boundary forms on the crawl e2e's curation half
      val html = concat(
        lit("<html><body><h1>Crawl &amp; shard</h1><p>"), $"content",
        lit("</p><p>zzdocid "), $"id",
        lit("</p><script>var x = 1;</script></body></html>"))
      WarcGzip.writeGzip(r16SynthDocs().select(Warc.formatResponse($"url",
        lit("2024-01-01T00:00:00Z"), lit("text/html"), html).as("rec")),
        s"$tmp/crawl")
      def curate(stagePath: Option[String]): Long = {
        val cur = graft.ext.CrawlPipeline.curateCrawl(spark, s"$tmp/crawl",
          graft.ext.CrawlPipeline.CrawlConfig(
            blockedDomains = Seq("tracker.net"),
            blockedPhrases = Seq("slow scan merge"),
            idFrom = Some(
              regexp_extract($"content", "(?m)^zzdocid (\\w+)$", 1)),
            stagePath = stagePath))
        try cur.count() finally cur.unpersist()
      }
      val nPersist = time("crawl_curate_persist_2m_sec")(curate(None))
      val nStaged = time("crawl_curate_stagepath_2m_sec")(
        curate(Some(s"$tmp/stages")))
      println(s"PROBE   curated persist=$nPersist staged=$nStaged")
      require(nPersist == nStaged,
        s"boundary modes must agree: $nPersist vs $nStaged")
      writeOut(); return
    }

    // `r18fetch` = X141's selectivity claim as numbers: index a 2M-member
    // archive once (header-only pass), then fetch a 1% stratum by
    // pointer vs re-scanning the whole archive.
    // r19robots (run with copies=400 → 2M docs): the wildcard-rule cost
    // question — prefix rules ride the codegen'd startsWith arm, wildcard
    // rules pay per-row regexp_like with per-row Pattern compilation
    // (Spark's RLike has no non-foldable pattern cache). Same corpus, same
    // 50k ruled hosts, prefix-only vs wildcard-heavy rule sets.
    if (mode.contains("r19robots")) {
      val docs = r16SynthDocs().persist()
      println(s"PROBE   docs = ${docs.count()}")
      def rulesFrom(content: String) = {
        val r = graft.ext.Web.robotsRules(
          spark.range(50000L).select(
            concat(lit("https://www.host"), $"id".cast("string"),
              lit(".com/robots.txt")).as("url"),
            lit(content).as("content"))).persist()
        r.count(); r
      }
      def gate(rules: org.apache.spark.sql.DataFrame): Long =
        graft.ext.Web.dropDisallowed(docs, rules).count()
      val prefixRules = rulesFrom("User-agent: *\nDisallow: /p/1\nAllow: /p/13")
      gate(prefixRules) // steady-state warm-up (r17ops rationale)
      val n1 = time("robots_gate_prefix_2m_sec")(gate(prefixRules))
      val wildRules = rulesFrom(
        "User-agent: *\nDisallow: /p/*1$\nAllow: /p/*13$\nDisallow: /*?sess=")
      gate(wildRules)
      val n2 = time("robots_gate_wildcard_2m_sec")(gate(wildRules))
      println(s"PROBE   kept prefix=$n1 wildcard=$n2")
      require(n1 > 0 && n1 < 2000000L && n2 > 0 && n2 < 2000000L,
        s"both gates must drop some and keep some: $n1 / $n2")
      metrics += ("kept_prefix" -> n1, "kept_wildcard" -> n2)
      prefixRules.unpersist(); wildRules.unpersist(); docs.unpersist()
      writeOut(); return
    }

    // r19push (run with copies=400 → 2M records): the WARC-Type pushdown
    // payoff on the real CC record mix (response/request/metadata
    // rotating): a response-only read should skip the other records
    // before any body work.
    if (mode.contains("r19push")) {
      import graft.sources.WarcGzip
      val tmp = java.nio.file.Files.createTempDirectory("graft-r19push-").toString
      val docs = r16SynthDocs()
      val t = when(pmod(xxhash64($"id", lit(9)), lit(3)) === 0, lit("response"))
        .when(pmod(xxhash64($"id", lit(9)), lit(3)) === 1, lit("request"))
        .otherwise(lit("metadata"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"), $"content")
      val payload = when(t === "response", http)
        .when(t === "request", lit("GET / HTTP/1.1\r\nHost: x\r\n\r\n"))
        .otherwise(lit("{\"m\":1}"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: "), t,
        lit("\r\nWARC-Target-URI: "), $"url",
        lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      WarcGzip.writeGzip(docs.select(rec.as("rec")), s"$tmp/mixed")
      def readSum(filtered: Boolean) = {
        val r = WarcGzip.read(spark, s"$tmp/mixed")
        (if (filtered) r.filter($"warc_type" === "response") else r)
          .agg(count(lit(1)), sum(length($"body"))).head()
      }
      readSum(false); readSum(true) // steady-state warm-ups
      val full = time("gz_read_mixed_all_2m_sec")(readSum(false))
      val resp = time("gz_read_mixed_response_only_2m_sec")(readSum(true))
      require(full.getLong(0) == 2000000L, s"all records must parse: $full")
      println(s"PROBE   responses = ${resp.getLong(0)}")
      require(resp.getLong(0) > 600000L && resp.getLong(0) < 700000L,
        s"~1/3 must be responses: $resp")
      metrics += ("mixed_records" -> full.getLong(0),
        "response_records" -> resp.getLong(0))
      writeOut(); return
    }

    // r19hot (run with copies=400 → 2M records in ONE archive file): the
    // fetch-parallelism corner — with pointers concentrated in one hot
    // file, the old one-task-per-file layout serializes the whole fetch;
    // offset-range sub-splitting spreads it across cores.
    if (mode.contains("r19hot")) {
      import graft.sources.{Warc, WarcGzip}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r19hot-").toString
      val docs = r16SynthDocs()
      WarcGzip.writeGzip(docs.select(Warc.formatResponse($"url",
        lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("rec"))
        .coalesce(1), s"$tmp/gz")
      WarcGzip.index(spark, s"$tmp/gz")
        .write.mode("overwrite").parquet(s"$tmp/idx")
      val pointers = spark.read.parquet(s"$tmp/idx")
        .filter(pmod(xxhash64($"target_uri"), lit(20)) === 0).persist()
      val nPtrs = pointers.count()
      println(s"PROBE   pointers = $nPtrs (one archive file)")
      // diagnostic: the per-partition pointer distribution under fetch's
      // sub-split repartitioning (must spread, not collapse — the
      // explicit count is what defeats AQE's small-shuffle coalescing)
      val sizes = pointers
        .select($"file".cast("string").as("file"), $"offset".cast("long").as("offset"))
        .repartition(spark.sessionState.conf.numShufflePartitions,
          $"file", ($"offset" / lit(16L * 1024 * 1024)).cast("long"))
        .mapPartitions(it => Iterator.single(it.size)).collect().sorted.filter(_ > 0)
      println(s"PROBE   subsplit partition sizes: ${sizes.mkString(",")}")
      metrics += ("subsplit_partitions" -> sizes.length)
      def fetchSum(subSplit: Long) =
        WarcGzip.fetch(spark, pointers, subSplitBytes = subSplit)
          .agg(count(lit(1)), sum(length($"body"))).head()
      fetchSum(Long.MaxValue); fetchSum(16L * 1024 * 1024) // warm-ups
      val one = time("fetch_hot_one_task_sec")(fetchSum(Long.MaxValue))
      val split = time("fetch_hot_subsplit_16m_sec")(fetchSum(16L * 1024 * 1024))
      require(one.getLong(0) == nPtrs && split.getLong(0) == nPtrs &&
        one.getLong(1) == split.getLong(1),
        s"sub-split must return identical mass: $one vs $split")
      metrics += ("hot_pointers" -> nPtrs)
      pointers.unpersist()
      writeOut(); return
    }

    // r19cdx (run with copies=400 → 2M records): the zipnum access-pattern
    // probe — publish a 2M-line CDX index in the sharded layout, then show
    // a host lookup reads a FEW BLOCKS' bytes, not the index: block-pruned
    // bytes vs total index bytes, lookup wall time vs a full-scan filter,
    // result equality as the correctness pin.
    if (mode.contains("r19cdx")) {
      import graft.sources.{Cdx, Warc, WarcGzip}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r19cdx-").toString
      val docs = r16SynthDocs()
      WarcGzip.writeGzip(docs.select(Warc.formatResponse($"url",
        lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("rec")),
        s"$tmp/gz")
      time("cdx_zipnum_publish_2m_sec")(
        Cdx.writeZipnum(Cdx.format(WarcGzip.index(spark, s"$tmp/gz")),
          s"$tmp/zip"))
      val zipDir = new java.io.File(s"$tmp/zip")
      val totalGz = zipDir.listFiles()
        .filter(_.getName.matches("cdx-\\d{5}\\.gz")).map(_.length).sum
      val rows = scala.io.Source.fromFile(s"$tmp/zip/cluster.idx").getLines()
        .map { l => val f = l.split("\t"); (f(0), f(1), f(2).toLong, f(3).toLong) }
        .toVector
      // a host prefix guaranteed present: the mid-cluster block's urlkey host
      val prefix = rows(rows.length / 2)._1.takeWhile(_ != ')') + ")/"
      println(s"PROBE   lookup prefix = $prefix")
      // the covering blocks, by the lookup's own span arithmetic
      val startKey = rows.map(_._1).filter(_ <= prefix)
        .reduceOption((a, b) => if (a >= b) a else b)
      val hi = prefix + "\uffff"
      val cand = rows.filter(r => r._1 < hi && startKey.forall(r._1 >= _))
      metrics += ("cdx_index_lines" -> 2000000L, "cdx_blocks_total" -> rows.size,
        "cdx_total_gz_bytes" -> totalGz,
        "cdx_blocks_read" -> cand.size,
        "cdx_lookup_block_bytes" -> cand.map(_._4).sum)
      println(s"PROBE   blocks ${cand.size}/${rows.size}, " +
        s"bytes ${cand.map(_._4).sum}/$totalGz")
      val n1 = time("cdx_lookup_sec")(
        Cdx.lookup(spark, s"$tmp/zip", prefix).count())
      val n2 = time("cdx_fullscan_filter_sec")(
        Cdx.read(spark, s"$tmp/zip/cdx-*.gz")
          .filter($"urlkey".startsWith(prefix)).count())
      require(n1 == n2 && n1 > 0, s"lookup must equal the full-scan filter: $n1 vs $n2")
      metrics += ("cdx_lookup_rows" -> n1)
      writeOut(); return
    }

    if (mode.contains("r18fetch")) {
      import graft.sources.{Warc, WarcGzip}
      val tmp = java.nio.file.Files.createTempDirectory("graft-r18fetch-").toString
      val docs = r16SynthDocs()
      WarcGzip.writeGzip(docs.select(Warc.formatResponse($"url",
        lit("2024-01-01T00:00:00Z"), lit("text/plain"), $"content").as("rec")),
        s"$tmp/gz")
      def readAll() = WarcGzip.read(spark, s"$tmp/gz")
        .agg(count(lit(1)), sum(length($"body"))).head()
      readAll() // steady-state warm-up (r17ops rationale)
      val full = time("gz_full_read_2m_sec")(readAll())
      require(full.getLong(0) == 2000000L, s"full read: $full")
      time("gz_index_build_2m_sec")(
        WarcGzip.index(spark, s"$tmp/gz")
          .write.mode("overwrite").parquet(s"$tmp/idx"))
      val pointers = spark.read.parquet(s"$tmp/idx")
        .filter(pmod(xxhash64($"target_uri"), lit(100)) === 0)
      val nPtrs = pointers.count()
      println(s"PROBE   pointers = $nPtrs")
      val fetched = time(s"gz_fetch_1pct_sec")(
        WarcGzip.fetch(spark, pointers)
          .agg(count(lit(1)), sum(length($"body"))).head())
      require(fetched.getLong(0) == nPtrs,
        s"every pointer must fetch: $fetched vs $nPtrs")
      metrics += ("fetch_pointers" -> nPtrs)
      writeOut(); return
    }

    val base0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("string").as("id"), $"text".as("content"),
        map(lit("lang"), $"lang").as("metadata"))
    // wide: union a token-reversed variant (same vocabulary, different
    // shingles — no cross-variant near-dups), doubling DISTINCT base docs
    // so copies× replication doubles corpus size at UNCHANGED cluster size
    // wide4: four mutually-dissimilar variants at UNCHANGED cluster size —
    // identity, token-reversed, and the same two over a "q"-tagged
    // vocabulary (every token prefixed, so cross-tag jaccard is 0 while
    // each tagged cohort reproduces the base cohort's near-dup structure
    // exactly). NOT sorting: sorted token streams of DIFFERENT docs
    // converge (shared vocabulary sorts alike), which manufactures extra
    // genuine near-dup mass and changes the workload, not just its size.
    // Checked before `wide` (substring).
    def variant(pfx: String, c: org.apache.spark.sql.Column) =
      base0.select(concat(lit(pfx), $"id").as("id"), c.as("content"), $"metadata")
    val toks = split($"content", " ")
    val tagged = transform(toks, t => concat(lit("q"), t))
    val base = if (mode.contains("wide4"))
      base0.unionByName(variant("w_", concat_ws(" ", reverse(toks))))
        .unionByName(variant("t_", concat_ws(" ", tagged)))
        .unionByName(variant("tw_", concat_ws(" ", reverse(tagged))))
    else if (mode.contains("wide"))
      base0.unionByName(variant("w_", concat_ws(" ", reverse(toks))))
    else base0
    // copy-specific 30-token suffix: cross-copy jaccard drops below 0.8 so
    // the qualifying near-dup pair count stays ~25 * copies, not O(copies^2)
    // — but the sub-threshold LSH CANDIDATE volume is still O(copies^2) per
    // base doc, which is exactly the skew this probe exists to exercise.
    val suffix = concat_ws(" ", (1 to 30).map(k => concat(lit(s"cp"), $"copy", lit(s"x$k"))): _*)
    // the crossJoin of a broadcast range otherwise yields ~1 output
    // partition and serializes the whole ingest onto one core
    val docs = spark.range(copies).withColumnRenamed("id", "copy").crossJoin(base)
      .repartition(64)
      .select(concat($"id", lit("_"), $"copy").as("id"),
        concat($"content", lit(" "), suffix).as("content"), $"metadata")

    val root = java.nio.file.Files.createTempDirectory("graft-scale-").toString
    val c = Collection(spark, root, "big")
    val n = time(s"ingest_index_sec")({ c.addDf(docs); c.count() })
    println(s"PROBE   docs = $n")
    metrics += ("docs" -> n)

    time("fts_and_sec")(println(s"PROBE   hits = ${c.queryFrame("table scan").count()}"))
    time("bm25_sec")(println(s"PROBE   hits = ${c.queryFrame("customer stream").count()}"))
    time("fts_meta_conj_sec")(println(s"PROBE   hits = ${c.queryFrame("table", where = Map("lang" -> "en")).count()}"))
    // `ftsread` = ingest + the ranked reads only: each postings slice's
    // row count (the driver arm scores a slice up to
    // Collection.SliceMaxRows rows, a larger one stays distributed), the
    // three reads again (a repeat of an over-bound read skips its slice
    // collect), and the federated searchAll frame over this root
    if (mode.contains("ftsread")) {
      val postings = graft.index.Stores.readPartition(spark,
        graft.index.Stores.postingsDir(root), "big", graft.index.Stores.postingsSchema)
      for ((label, terms) <- Seq("fts_and" -> Seq("table", "scan"),
          "bm25" -> Seq("customer", "stream"), "fts_meta_conj" -> Seq("table"))) {
        val rows = postings.filter($"term".isin(terms: _*)).count()
        println(s"PROBE   $label slice rows = $rows"); metrics += (s"${label}_slice_rows" -> rows)
      }
      time("fts_and_again_sec")(println(s"PROBE   hits = ${c.queryFrame("table scan").count()}"))
      time("bm25_again_sec")(println(s"PROBE   hits = ${c.queryFrame("customer stream").count()}"))
      time("fts_meta_conj_again_sec")(println(
        s"PROBE   hits = ${c.queryFrame("table", where = Map("lang" -> "en")).count()}"))
      time("federated_fts_sec")(println(
        s"PROBE   rows = ${Collection.searchAll(spark, root, "customer stream").count()}"))
      writeOut(); return
    }
    // phrase / NEAR over the 1M-doc store: the postings gate prunes before
    // the candidates-only verify (vs the r9c zero-index verify-alone point)
    time("phrase_sec")(println(s"PROBE   hits = ${c.phraseSearch("table hash").count()}"))
    time("extended_sec")(println(
      s"PROBE   hits = ${c.extendedQueryFrame("\"table hash\" or near(slow key, 4)").count()}"))

    val bigDocs = c.docs()
    def recordPairs(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val cnt = time(s"${label}_sec")(df.count())
      println(s"PROBE   $label pairs = $cnt")
      metrics += (s"${label}_pairs" -> cnt)
    }
    // `r11ops` = ingest + the round-10/11 operator wave at corpus size
    // (run with copies=400 -> 2M docs): NEAR + extended-NOT queries
    // (postings gate + candidates-only verify over the full store), the
    // BATCHED streamQuery contract (64 subscriptions -> ONE action per
    // micro-batch), the three federated arms over a 2-collection root, and
    // the in-place Collection.dedup() / maintain() admin surface.
    if (mode.contains("r11ops")) {
      time("near_sec")(println(
        s"PROBE   hits = ${c.nearSearch("table hash", maxSpan = 3).count()}"))
      time("extended_not_sec")(println(
        s"PROBE   hits = ${c.extendedQueryFrame("(table or scan) not \"table hash\"").count()}"))
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String)]
      var streamed = 0L
      val sq = c.streamQuery(mem.toDF().toDF("qid", "query"), limit = 10) { out =>
        streamed += out.count() // ONE action on the unioned frame
      }.start()
      val subs = (1 to 64).map(i =>
        (s"q$i", if (i % 2 == 0) "table scan" else "customer stream"))
      time("stream_fts_64q_sec") {
        mem.addData(subs: _*); sq.processAllAvailable()
      }
      sq.stop()
      println(s"PROBE   streamed rows = $streamed")
      metrics += ("stream_rows" -> streamed)
      // federated arms: a sibling vecs collection joins the root — the FTS
      // arm spans the full corpus, the vector arm its 60k embeddings
      val vbase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id".cast("string").as("id"),
          concat(lit("label "), $"label").as("content"), $"embedding")
      Collection(spark, root, "vecs").addDf(vbase)
      val qs5 = (0 until 5).map(i => i.toString ->
        vbase.filter($"id" === i.toString).select($"embedding").head()
          .getSeq[Float](0).toSeq)
      time("federated_fts_sec")(println(
        s"PROBE   rows = ${Collection.searchAll(spark, root, "customer stream").count()}"))
      time("federated_vec_sec")(println(
        s"PROBE   rows = ${Collection.vectorSearchAll(spark, root, qs5, 10).count()}"))
      time("federated_hyb_sec")(println(
        s"PROBE   rows = ${Collection.hybridAll(spark, root, "customer stream", qs5.head._2, 10).count()}"))
      time("maintain_sec")(println(s"PROBE   ${c.maintain().head()}"))
      val removed = time("collection_dedup_sec")(c.dedup(threshold = 0.8))
      println(s"PROBE   dedup removed = $removed")
      metrics += ("dedup_removed" -> removed)
      writeOut(); return
    }
    // `r12ops` = ingest + the x117–x120 wave at corpus size: the fused
    // signal sweep (ONE scan) timed against its four composed arms run
    // separately (the 100 TB claim is exactly this ratio), mojibake
    // corrupt+repair over the full corpus, the persisted dedup index
    // (build + a 64-probe screen whose cost must not scale with corpus
    // size), and the bucketed co-located join timed against the same
    // join unbucketed (zero-exchange vs two-sided shuffle).
    if (mode.contains("r12ops")) {
      time("signal_sweep_sec")(println(
        s"PROBE   kept = ${TextStats.signalSweep(bigDocs).filter($"keep").count()}"))
      time("signal_arms_separate_sec") {
        val g = TextStats.gopherFilter(bigDocs).filter($"keep").count()
        val q = TextStats.quality(bigDocs).agg(avg($"quality")).head().getDouble(0)
        val l = TextStats.langId(bigDocs).filter($"pred_lang" === "en").count()
        val t = TextStats.tokenCounts(bigDocs).agg(sum($"n_ws")).head().getLong(0)
        println(s"PROBE   separate arms: gopher=$g q=$q en=$l toks=$t")
      }
      time("mojibake_repair_sec") {
        val corrupt = TextStats.MojibakeTable
          .foldLeft($"content": org.apache.spark.sql.Column) {
            case (a, (m, ch)) => replace(a, lit(ch), lit(m))
          }
        println(s"PROBE   repaired = ${TextStats.fixMojibake(
          bigDocs.select($"id", corrupt.as("content"))).filter($"had_mojibake").count()}")
      }
      time("dedup_index_build_sec")(c.createDedupIndex())
      val probes = bigDocs.select($"id", $"content").limit(64).collect()
        .map(r => ("p" + r.getString(0)) -> r.getString(1)).toSeq
      time("dedup_probe_64_sec")(println(
        s"PROBE   hits = ${c.nearDuplicates(probes, 0.8).count()}"))
      val lay = java.nio.file.Files.createTempDirectory("graft-lay-").toString
      val left = bigDocs.select($"id", length($"content").as("len"))
      val right = bigDocs.select($"id", (length($"content") % 7).as("grp"))
      time("bucketed_write_sec") {
        Layout.writeBucketed(left, "probe_l", lay + "/l", Seq("id"), 32)
        Layout.writeBucketed(right, "probe_r", lay + "/r", Seq("id"), 32)
      }
      time("bucketed_join_sec")(println(s"PROBE   rows = ${
        Layout.coLocatedJoin(spark, "probe_l", "probe_r", Seq("id")).count()}"))
      time("shuffle_join_sec")(println(
        s"PROBE   rows = ${left.join(right, Seq("id")).count()}"))
      writeOut(); return
    }
    // `r14ops` = ingest + the certified impact top-k index at corpus size
    // (run with copies=400 -> 2M docs). The replicated corpus is tf-flat
    // (max organic tf ~9 — BM25's tf-part saturates, no bounded certificate
    // exists), so 500 high-tf docs are PLANTED for 'customer'; then the
    // serving claim is pinned with numbers: a certified single-term top-10
    // reads the term's O(cap) postings above its tf bound + a k-id pruned
    // docs fetch — never its whole ~1.6M-row postings list — while the
    // full BM25 path pays the whole list. Also pins both range layouts
    // (postings by term, docs by id) at corpus scale via scan-emitted row
    // counts.
    if (mode.contains("r14ops")) {
      import graft.index.Stores
      // 16 MB target partitions for the probe's store writes: the template
      // corpus compresses ~10x, and the default 64 MB advisory would fold
      // even 2M docs into a couple of files — at 100 TB the file count comes
      // from data volume, here it has to come from the advisory so the
      // layout pins measure a multi-file store
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16777216")
      def runScanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val rows = df.queryExecution.toRdd.count()
        (rows, ScanStats.scanOutputRows(df.queryExecution.executedPlan))
      }
      val heavy = spark.range(500).select(
        concat(lit("hv"), $"id".cast("string")).as("id"),
        concat(concat_ws(" ", transform(
            sequence(lit(1), (lit(40) + $"id" % 97).cast("int")),
            _ => lit("customer"))), lit(" needle")).as("content"),
        map(lit("lang"), lit("en")).as("metadata"))
      c.addDf(heavy)
      time("compact_2m_sec")(c.compact()) // range layouts: postings by term, docs by id
      time("impact_build_2m_sec")(c.createImpactIndex(cap = 1024))

      // layout pins at corpus scale
      val post = Stores.readPartition(spark, Stores.postingsDir(root), "big",
        Stores.postingsSchema)
      val totalPost = post.count()
      val (dfCust, termScanned) = runScanned(post.filter($"term" === "customer"))
      println(s"PROBE   postings term=customer df=$dfCust scanned=$termScanned of $totalPost")
      metrics += ("postings_total_rows" -> totalPost, "customer_df" -> dfCust,
        "postings_term_scanned_rows" -> termScanned)
      require(termScanned * 2 <= totalPost,
        s"range layout must skip postings files at 2M docs ($termScanned of $totalPost)")
      val wanted = (0 until 10).map(i => s"hv${i * 37}")
      val (nd, docScanned) = runScanned(c.docs().filter($"id".isin(wanted: _*)))
      println(s"PROBE   docs fetch n=$nd scanned=$docScanned of $n")
      metrics += ("docs_fetch_scanned_rows" -> docScanned)
      require(nd == 10 && docScanned * 2 <= n,
        s"id-clustered docs fetch must skip files at 2M docs ($docScanned of $n)")

      // serving: certified path must engage, answer from O(cap) rows
      val served = c.impactCertifiedTopK("customer", 10, 0)
      require(served.nonEmpty, "2M-doc single-term top-10 must certify")
      require(served.get.select($"id").collect().forall(_.getString(0).startsWith("hv")),
        "planted docs must own the top-10")
      // the certified read: the term's postings above its stored tf bound
      val boundTf = Stores.readPartition(spark, Stores.impactMetaDir(root), "big",
        Stores.impactMetaSchema).filter($"id" === "customer")
        .select($"bound_tf").as[Long].head()
      val (candRows, candScanned) =
        runScanned(post.filter($"term" === "customer" && $"tf" > boundTf))
      println(s"PROBE   impact candidates for term = $candRows scanned=$candScanned " +
        s"(cap 1024, bound_tf $boundTf, df $dfCust)")
      metrics += ("impact_candidate_rows" -> candRows,
        "impact_candidate_scanned_rows" -> candScanned)
      require(candRows <= 1024L, "at most cap postings lie above the bound")
      time("impact_serve_10q_sec")(
        (1 to 10).foreach(_ => c.searchTopK("customer", 10).collect()))
      time("full_bm25_topk_10q_sec")(
        (1 to 10).foreach(_ => c.queryFrame("customer", limit = 10).collect()))

      // O(batch) maintenance at 2M: a small pure-insert delta must keep the
      // impact index servable (updated exact df) without any rebuild
      val batch2 = spark.range(200).select(
        concat(lit("hw"), $"id".cast("string")).as("id"),
        concat(concat_ws(" ", transform(
            sequence(lit(1), (lit(40) + $"id" % 89).cast("int")),
            _ => lit("customer"))), lit(" needle gadget")).as("content"),
        map(lit("lang"), lit("en")).as("metadata"))
      time("impact_upsert_200_sec")(c.addDf(batch2))
      require(c.impactCertifiedTopK("customer", 10, 0).nonEmpty,
        "post-upsert serve must stay certified at 2M docs")
      time("impact_serve_after_upsert_sec")(c.searchTopK("customer", 10).collect())

      // X123 at corpus scale — the ADVERSARIAL case by construction: the
      // 400-copy corpus makes every doc's byte stream near-identical to its
      // 399 siblings (the suffix only perturbs trailing slices), so dHash
      // buckets balloon exactly like the round-2 MinHash cliff — the capped
      // bucketJoin must bound the work at star edges, and hashing stays a
      // bounded-batch scan (8 bytes out per blob; media never shuffles).
      val mbase = c.docs().select($"id", $"content")
      val mPlanted = mbase.filter(xxhash64($"id") % 100 === 0)
        .select(concat(lit("pm"), $"id").as("id"),
          concat(lit("ZZZ"), expr("substring(content, 4)")).as("content"))
      val mediaAll = mbase.unionByName(mPlanted)
        .select($"id", $"content".cast("binary").as("media"))
      val pPairs = time("perceptual_dedup_2m_sec")(
        Dedup.perceptualDupPairs(mediaAll, maxHamming = 3, maxBucket = 256).count())
      println(s"PROBE   perceptual pairs (capped) = $pPairs")
      metrics += ("perceptual_pairs_capped" -> pPairs)
      writeOut(); return
    }
    // `r15ops` = ingest + (a) the extended-query STAGE BREAKDOWN at corpus
    // size (r14 verdict: extended_sec ~5x fts_and_sec at 2M — attribute the
    // cost to its arms before optimizing: the preamble already timed
    // phrase_sec and extended_sec on this same session, so the deltas are
    // comparable) and (b) X124 URL canonicalization + URL dedup at 2M URLs
    // (the five synthesized families of the x124 entry, scaled), pinning
    // the WindowGroupLimit survivor-pick shape at corpus scale.
    if (mode.contains("r15ops")) {
      import graft.ext.Web
      // leaf-arm attribution for the preamble's extended query
      // `"table hash" or near(slow key, 4)`:
      //   gate-only cost = the plain AND conjunction (no verify)
      //   per-arm cost   = gate + candidates-only verify + BM25
      //   full cost      = both arms + union.distinct + final score join
      time("ext_and_gate_sec")(println(
        s"PROBE   hits = ${c.queryFrame("table hash").count()}"))
      time("ext_phrase_arm_sec")(println(
        s"PROBE   hits = ${c.phraseSearch("table hash").count()}"))
      time("ext_near_gate_sec")(println(
        s"PROBE   hits = ${c.queryFrame("slow key").count()}"))
      time("ext_near_arm_sec")(println(
        s"PROBE   hits = ${c.nearSearch("slow key", maxSpan = 4).count()}"))
      time("ext_full_warm_sec")(println(
        s"PROBE   hits = ${c.extendedQueryFrame("\"table hash\" or near(slow key, 4)").count()}"))

      // X124 at 2M URLs: families 0/1 share ~200k canonical keys (the
      // cosmetic-collision dedup mass); 2-4 are key-unique; canonicalize is
      // a pure scan-side projection (no shuffle) computed ONCE, and the
      // survivor pick must stay WindowGroupLimit (map-side 1-heaps)
      val f = pmod(xxhash64($"id"), lit(5))
      val k = pmod(xxhash64($"id", lit(1)), lit(200000)).cast("string")
      val urls = c.docs().select($"id",
        when(f === 0, concat(lit("HTTP://WWW.Example.COM:80/Path/"), k,
            lit("/?utm_source=x&b=2&a=1#frag")))
          .when(f === 1, concat(lit("http://www.example.com/Path/"), k,
            lit("?b=2&a=1")))
          .when(f === 2, concat(lit("https://Site"), pmod(xxhash64($"id"), lit(11)),
            lit(".ORG:443/p/"), $"id", lit("#x")))
          .when(f === 3, concat(lit("http://tracker.net/p/"), $"id",
            lit("?gclid=abc&utm_campaign=z")))
          .otherwise(concat(lit("no-scheme-url-"), $"id")).as("url"))
      time("url_canon_2m_sec")(
        urls.select(Web.canonicalizeUrl($"url").as("c"))
          .write.format("noop").mode("overwrite").save())
      val deduped = Web.dedupByUrl(urls)
      val keptN = time("url_dedup_2m_sec")(deduped.count())
      println(s"PROBE   url dedup kept = $keptN of $n")
      metrics += ("url_dedup_kept" -> keptN)
      val uplan = deduped.queryExecution.executedPlan.toString
      require(uplan.contains("WindowGroupLimit"),
        "dedupByUrl must keep the WindowGroupLimit shape at 2M")

      // X125 containment at 2M+10k docs — adversarial for the INDEX side
      // by construction: every copy-suffix shingle is corpus-hot (df =
      // docs/copy ≈ 5000 > maxBucket), so the default cap must carry the
      // probe prefixes onto the per-doc-rare junction/content shingles
      // instead of exploding on the hot mass. Planted first-20-token
      // snippets must still be FOUND contained in their sources through
      // the capped index (their rare shingles are shared with exactly one
      // source doc).
      val snips = c.docs().filter(xxhash64($"id") % 200 === 0)
        .select(concat(lit("ct"), $"id").as("id"),
          concat_ws(" ", slice(graft.functions.TextFunctions.tokens($"content"),
            1, 20)).as("content"))
      val nSnips = snips.count()
      // DISTINCT probe ids, not pairs: each snippet pairs with ~400 copies
      // of its source, so a raw pair count would stay above nSnips even
      // after a 97% recall regression — the guard must count found SNIPPETS
      val (ctPairs, ctFound) = time("containment_2m_sec") {
        val pairs = graft.ext.Dedup.containmentPairs(
            c.docs().select($"id", $"content").unionByName(snips),
            threshold = 0.9)
          .filter($"id".startsWith("ct")).persist()
        try (pairs.count(), pairs.select($"id").distinct().count())
        finally pairs.unpersist()
      }
      println(s"PROBE   containment pairs = $ctPairs, snippets found = $ctFound of $nSnips")
      metrics += ("containment_planted" -> nSnips, "containment_pairs" -> ctPairs,
        "containment_found" -> ctFound)
      require(ctFound == nSnips,
        s"every planted snippet must be found contained ($ctFound of $nSnips)")
      // dropContained is deliberately NOT probed on this corpus: its
      // documented precondition is a DEDUPED corpus (dedupCorpus first),
      // and this one is 400-fold-duplicated by construction — the
      // containment candidate distinct is O(docs × cluster size) here
      // (~5.6B pre-distinct rows; measured: a second full pipeline pass in
      // the same JVM exceeded the host's ~75 GB of shuffle-spill disk).
      // containmentPairs above IS the scale evidence for the shared
      // pipeline; x125b at sf0.1 plus ExtSpec pin the curation semantics.
      writeOut(); return
    }
    // `r16ops` = ingest + (a) GONE-AWARE certified serving at 2M: delete
    // and update DELTAS keep the impact index serving (stale-df regime,
    // df re-counted per query term) — measure that serve cost against the
    // exact regime and the full BM25 path; (b) the X125c containment
    // cap-sizing profile at 2M+snippets — the shared-shingle df evidence
    // behind the maxBucket=4096 default; (c) federated scatter-gather
    // serving over a 4-member root (three 100k members on the full path +
    // the 2M member through its STALE impact meta) with per-member serve
    // attribution, so the searchAll/vectorSearchAll/hybridAll cost reads
    // off as additive.
    if (mode.contains("r16ops")) {
      import graft.api.Collection
      // (a) impact lifecycle: build, exact serve, delete top-2, stale
      // serve (certified, tombstones excluded), update 200 docs, serve
      val heavy = spark.range(500).select(
        concat(lit("hv"), $"id".cast("string")).as("id"),
        concat(concat_ws(" ", transform(
            sequence(lit(1), (lit(40) + $"id" % 97).cast("int")),
            _ => lit("customer"))), lit(" needle")).as("content"),
        map(lit("lang"), lit("en")).as("metadata"))
      c.addDf(heavy)
      time("impact_build_2m_sec")(c.createImpactIndex(cap = 1024))
      time("impact_serve_exact_10q_sec")(
        (1 to 10).foreach(_ => c.searchTopK("customer", 10).collect()))
      spark.conf.set("spark.graft.store.directUpsertMaxBytes", "0")
      spark.conf.set("spark.graft.compact.auto", "false")
      try {
        val top2 = c.searchTopK("customer", 2).select($"id").as[String].collect().toSeq
        time("impact_delete_2_sec")(c.delete(top2))
        val stale = c.impactCertifiedTopK("customer", 10, 0)
        require(stale.nonEmpty,
          "a delete delta must keep the impact index serving (stale df)")
        require(!stale.get.select($"id").as[String].collect().exists(top2.contains),
          "deleted docs must vanish from the certified top-k")
        time("impact_serve_stale_10q_sec")(
          (1 to 10).foreach(_ => c.searchTopK("customer", 10).collect()))
        time("full_bm25_topk_10q_sec")(
          (1 to 10).foreach(_ => c.queryFrame("customer", limit = 10).collect()))
        val upd = spark.range(200).select(
          concat(lit("hv"), ($"id" + 100).cast("string")).as("id"),
          concat(concat_ws(" ", transform(
              sequence(lit(1), (lit(40) + $"id" % 89).cast("int")),
              _ => lit("customer"))), lit(" needle gadget")).as("content"),
          map(lit("lang"), lit("en")).as("metadata"))
        time("impact_update_200_sec")(c.addDf(upd)) // ids pre-exist -> mirror
        require(c.impactCertifiedTopK("customer", 10, 0).nonEmpty,
          "an update delta must keep the impact index serving (stale df)")
        time("impact_serve_after_update_sec")(c.searchTopK("customer", 10).collect())
      } finally {
        spark.conf.unset("spark.graft.store.directUpsertMaxBytes")
        spark.conf.set("spark.graft.compact.auto", "true")
      }

      // (b) containment cap profile — same snippet construction as the
      // r15 probe (threshold 0.9); the kept/skipped split is the
      // before-you-run recall exposure the X125 contract tells users to
      // read, and the 400-copy corpus is its adversarial case (every
      // copy-suffix shingle has df ≈ copies × 25 >> 4096)
      val snips = c.docs().filter(xxhash64($"id") % 200 === 0)
        .select(concat(lit("ct"), $"id").as("id"),
          concat_ws(" ", slice(graft.functions.TextFunctions.tokens($"content"),
            1, 20)).as("content"))
      val prof = time("containment_stats_2m_sec")(
        graft.ext.Dedup.containmentBucketStats(
          c.docs().select($"id", $"content").unionByName(snips),
          threshold = 0.9, maxBucket = 4096).head())
      println(s"PROBE   containment profile = $prof")
      metrics += ("ct_probe_shingles" -> prof.getAs[Long]("probe_shingles"),
        "ct_capped_shingles" -> prof.getAs[Long]("capped_shingles"),
        "ct_probe_rows" -> prof.getAs[Long]("probe_rows"),
        "ct_candidates_kept" -> prof.getAs[Long]("candidates_kept"),
        "ct_candidates_skipped" -> prof.getAs[Long]("candidates_skipped"))

      // (c) federated serving: three 100k members with embeddings join
      // the root; per-member serves first (attribution), then the three
      // federated calls over all four members
      val emb = array((0 until 8).map(d =>
        ((pmod(xxhash64($"id", lit(d)), lit(1000)).cast("double") / 500.0) - 1.0)
          .cast("float")): _*)
      time("fed_ingest_3x100k_sec")((0 until 3).foreach { m =>
        Collection(spark, root, s"m$m").addDf(
          docs.filter(pmod(xxhash64($"id", lit(99)), lit(20)) === m)
            .select($"id", $"content", $"metadata").withColumn("embedding", emb))
      })
      time("fed_member_big_sec")(c.searchTopK("customer stream", 10).collect())
      (0 until 3).foreach { m =>
        time(s"fed_member_m${m}_sec")(Collection.open(spark, root, s"m$m")
          .searchTopK("customer stream", 10).collect())
      }
      time("fed_search_all_sec")(println(s"PROBE   fed fts rows = " +
        Collection.searchAll(spark, root, "customer stream", limit = 10).count()))
      val qv = (0 until 8).map(d => (math.sin(d * 0.7) * 0.5).toFloat)
      time("fed_vector_all_sec")(println(s"PROBE   fed vec rows = " +
        Collection.vectorSearchAll(spark, root, Seq(("q0", qv)), 10).count()))
      time("fed_hybrid_all_sec")(println(s"PROBE   fed hybrid rows = " +
        Collection.hybridAll(spark, root, "customer stream", qv, 10).count()))

      // (d) X127 classifier: train on two disjoint 100k slices, score the
      // whole 2M ingest frame — train is the postings-build shape, score
      // is tf rows joining the skinny weights (content never shuffles)
      val posT = docs.filter(pmod(xxhash64($"id", lit(7)), lit(20)) === 0)
      val negT = docs.filter(pmod(xxhash64($"id", lit(7)), lit(20)) === 1)
      val nbm = time("nb_train_2x100k_sec")(
        graft.ext.Classify.trainQualityNb(posT, negT))
      time("nb_score_2m_sec")(
        graft.ext.Classify.scoreQualityNb(docs, nbm)
          .write.format("noop").mode("overwrite").save())
      writeOut(); return
    }
    // `newops` = ingest + the round-6 training-pipeline operators only:
    // cross-corpus dedup, duplicated-substring spans, chunking, unigram
    // perplexity, shard shuffle, length histogram, and SemDeDup at 100k
    // vectors. The planted copies make dedupAgainst adversarial (EVERY copy
    // near-matches its base doc at jaccard ≈ 0.87 — removal mass ~100%, the
    // candidate cap is what keeps verification O(docs)) and make nearly
    // every 8-gram corpus-repeated for duplicateSpans (suffix grams repeat
    // across base docs of a copy, content grams across copies — the island
    // merge runs at full hit width).
    if (mode.contains("newops")) {
      import graft.ext.{Pipeline, TextStats}
      // threshold 0.7, NOT the 0.8 the self-dedup probes use: the copy
      // suffix pins copy-vs-base jaccard at ~0.77 (below 0.8 by fixture
      // design, so self-dedup pair counts stay linear) — at 0.7 every copy
      // matches its base and the probe exercises full removal mass, not
      // just candidate generation
      val ref = base.select($"id".as("ref_id"), $"content")
      val gone = time("dedup_against_sec")(
        Dedup.dedupAgainst(bigDocs, ref, refIdCol = "ref_id",
          threshold = 0.7).count())
      println(s"PROBE   dedup_against kept = $gone")
      metrics += ("dedup_against_kept" -> gone)
      val spanDocs = time("dup_spans_sec")(
        Dedup.duplicateSpans(bigDocs, k = 8)
          .select($"id").distinct().count())
      println(s"PROBE   docs with dup spans = $spanDocs")
      metrics += ("dup_span_docs" -> spanDocs)
      val chunks = time("chunk_sec")(
        Pipeline.chunkDocuments(bigDocs, chunkSize = 128, stride = 96).count())
      println(s"PROBE   chunks = $chunks"); metrics += ("chunks" -> chunks)
      val ppl = time("unigram_ppl_sec")(
        TextStats.unigramNll(bigDocs, vocabSize = 50000)
          .agg(sum(when($"ppl" > 1000, 1L).otherwise(0L))).head().getLong(0))
      println(s"PROBE   high-ppl docs = $ppl"); metrics += ("high_ppl_docs" -> ppl)
      val maxPos = time("shuffle_shards_sec")(
        Pipeline.shuffleShards(bigDocs, numShards = 64, seed = 1L)
          .agg(max($"pos")).head().getLong(0))
      println(s"PROBE   max shard pos = $maxPos"); metrics += ("max_shard_pos" -> maxPos)
      val histRows = time("length_hist_sec")(
        TextStats.lengthHistogram(bigDocs.withColumn("source",
          element_at($"metadata", "lang")), bucketWidth = 32).count())
      println(s"PROBE   hist rows = $histRows"); metrics += ("hist_rows" -> histRows)
      val vbase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id".cast("string").as("id"), $"embedding")
      val vecs = spark.range(50).withColumnRenamed("id", "copy").crossJoin(vbase)
        .repartition(32)
        .select(concat($"id", lit("_"), $"copy").as("id"), $"embedding")
      recordPairs("semdedup", Dedup.semanticDupPairs(vecs, threshold = 0.9,
        numClusters = 256, maxBucket = 4096))
    }
    // `r8ops` = ingest + the round-8 operators only: bloom dedup-against,
    // funnel / rolling aggregates over 2M replicated events, mean pooling
    // over 1M chunk embeddings, MMR over 250k vectors, RRF fusion, lexical
    // diversity / weighted sampling / quantiles over the 1M-doc corpus.
    if (mode.contains("r8ops")) {
      import graft.ext.{Pipeline, TextStats}
      import graft.streaming.EventStreams
      // Bloom-gated cross-corpus dedup vs the exact arm, with REAL match
      // mass: the reference is 500 rows drawn from the corpus itself, so
      // those contents must drop (plus fpp*1M false positives the sha2
      // verify arm must clear) and the two arms must agree exactly.
      val ref = bigDocs.limit(500).select($"id".as("ref_id"), $"content")
      val keptBloom = time("bloom_dedup_sec")(
        Dedup.bloomDedupAgainst(bigDocs, ref, refContentCol = "content",
          expectedItems = 1000L).count())
      println(s"PROBE   bloom kept = $keptBloom")
      metrics += ("bloom_kept" -> keptBloom)
      val keptExact = time("exact_dedup_against_sec")(
        Dedup.dedupAgainst(bigDocs, ref, refIdCol = "ref_id", near = false).count())
      println(s"PROBE   exact kept = $keptExact")
      metrics += ("exact_kept" -> keptExact)
      require(keptBloom == keptExact, "bloom arm diverged from exact arm")
      require(keptBloom < n, "reference drawn from the corpus must drop rows")

      // 2M events: 20 shifted replicas of the sf0.1 events table (distinct
      // user spaces, so funnel/rolling per-user state stays realistic)
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .select($"ts".cast("timestamp").as("ts"), $"user_id", $"event_type", $"value")
      val ev = spark.range(20).withColumnRenamed("id", "rep").crossJoin(ev0)
        .repartition(64)
        .select($"ts", ($"user_id" + $"rep" * 1000000L).as("user_id"),
          $"event_type", $"value")
        .persist()
      println(s"PROBE events = ${ev.count()}")
      val fun = time("funnel_2m_sec")(
        EventStreams.funnel(ev, Seq("view", "click", "purchase"),
          within = Some("3 days")).count())
      println(s"PROBE   funnel completions = $fun"); metrics += ("funnel_rows" -> fun)
      val roll = time("rolling_2m_sec")(
        EventStreams.rollingAgg(ev, Seq("user_id"), "6 hours")
          .agg(max($"n_window")).head().getLong(0))
      println(s"PROBE   max rolling n = $roll"); metrics += ("rolling_max_n" -> roll)
      ev.unpersist()

      // 1M chunk embeddings pooled into 100k docs (10 chunks/doc)
      val vbase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding")
      val chunks = spark.range(500).withColumnRenamed("id", "copy").crossJoin(vbase)
        .repartition(64)
        .select(concat($"vec_id" % 100, lit("_"), $"copy").as("id"), $"embedding")
      val pooled = time("pool_1m_sec")(Pipeline.poolEmbeddings(chunks).count())
      println(s"PROBE   pooled docs = $pooled"); metrics += ("pooled_docs" -> pooled)

      // MMR + RRF over 250k vectors
      val vecs = spark.range(125).withColumnRenamed("id", "copy").crossJoin(vbase)
        .repartition(32)
        .select(concat($"vec_id", lit("_"), $"copy").as("id"), $"embedding")
        .persist()
      println(s"PROBE vectors = ${vecs.count()}")
      val q0 = vbase.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0).toSeq
      time("mmr_250k_sec")(
        Ann.mmrRerank(vecs, Seq("0" -> q0), k = 10, candK = 100).count())
      val q1 = vbase.filter($"vec_id" === 1).select($"embedding").head().getSeq[Float](0).toSeq
      time("rrf_250k_sec")(graft.exec.Hybrid.rrfFuse(Seq(
        "a" -> Ann.exactTopK(vecs, Seq(("q", q0)), 100).select($"id", $"sim".as("rank")),
        "b" -> Ann.exactTopK(vecs, Seq(("q", q1)), 100).select($"id", $"sim".as("rank"))),
        k = 10, depth = 100).count())
      vecs.unpersist()

      // 1M-doc text ops
      val lex = time("lexdiv_1m_sec")(TextStats.lexicalDiversity(
        bigDocs.withColumn("source", element_at($"metadata", "lang")), "source").count())
      println(s"PROBE   lex groups = $lex"); metrics += ("lex_groups" -> lex)
      val sw = time("sample_weighted_1m_sec")(Pipeline.sampleWeighted(
        bigDocs.withColumn("w", length($"content") / 4000.0), "w").count())
      println(s"PROBE   weighted kept = $sw"); metrics += ("weighted_kept" -> sw)
      val qn = time("quantiles_1m_sec")(TextStats.lengthQuantiles(
        bigDocs.withColumn("source", element_at($"metadata", "lang")), "source").count())
      println(s"PROBE   quantile rows = $qn"); metrics += ("quantile_rows" -> qn)

      // salted vs plain join on the 5-value hot lang key at 1M rows
      val dim = Seq(("en", "English"), ("de", "German"), ("zh", "Chinese"),
        ("fr", "French"), ("es", "Spanish")).toDF("lang", "lang_name")
      val langed = bigDocs.withColumn("lang", element_at($"metadata", "lang"))
      val nSalted = time("salted_join_1m_sec")(
        graft.ext.Joins.saltedJoin(langed, dim, Seq("lang"), salt = 32).count())
      val nPlain = time("plain_join_1m_sec")(langed.join(dim, Seq("lang")).count())
      require(nSalted == nPlain, "salted join diverged from plain")
      metrics += ("join_rows" -> nSalted)

      // zero-shuffle per-row scans at 1M docs
      val ent = time("token_entropy_1m_sec")(TextStats.tokenEntropy(bigDocs)
        .agg(sum(when($"norm_entropy" < 0.5, 1L).otherwise(0L))).head().getLong(0))
      println(s"PROBE   low-entropy docs = $ent"); metrics += ("low_entropy_docs" -> ent)
      val ld = time("dedup_lines_doc_1m_sec")(Dedup.dedupLinesDoc(
        bigDocs.withColumn("content", concat(
          regexp_replace($"content", " cp", "\ncp"),
          lit("\nfooter line\nbody\nfooter line\nbody"))))
        .agg(sum($"n_lines_dropped")).head().getLong(0))
      require(ld == 2L * n, s"expected 2 planted dup lines per doc, got $ld")
      println(s"PROBE   intra-doc lines dropped = $ld"); metrics += ("doc_lines_dropped" -> ld)

      // corpus diff at 1M vs a mutated snapshot
      val mutated = bigDocs.filter(xxhash64($"id") % 7 =!= 0)
        .withColumn("content", when(xxhash64($"id") % 11 === 0,
          concat($"content", lit(" edited"))).otherwise($"content"))
      val nDiff = time("corpus_diff_1m_sec")(
        graft.ext.Joins.diffCorpora(bigDocs, mutated)
          .filter($"status" =!= "unchanged").count())
      println(s"PROBE   changed+removed = $nDiff"); metrics += ("diff_rows" -> nDiff)
    }

    // `r8x` = ingest + the second round-8 batch only: DSIR importance
    // weighting (hashed + exact arms), JSON flattening over 2M events,
    // PageRank over a synthetic 1M-node/5M-edge graph
    if (mode.contains("r8x")) {
      import graft.ext.TextStats

      // DSIR importance weighting at 1M docs: hashed-feature mode (the
      // 100 TB arm — no vocab collect at all) vs the exact top-50k-vocab
      // arm; target = the English slice
      val tgt = bigDocs.filter(element_at($"metadata", "lang") === "en").limit(50000)
      val dsirH = time("dsir_hashed_1m_sec")(TextStats.importanceWeights(
        bigDocs, tgt, hashBuckets = Some(10000)).count())
      println(s"PROBE   dsir hashed rows = $dsirH"); metrics += ("dsir_rows" -> dsirH)
      time("dsir_exact_1m_sec")(TextStats.importanceWeights(
        bigDocs, tgt, vocabSize = 50000).count())

      // JSON flattening at 2M events: bounded-sample inference + codegen'd
      // extraction
      val evj = spark.range(20).withColumnRenamed("id", "rep")
        .crossJoin(spark.read.parquet(s"$sfDir/events.parquet")
          .select($"event_id", $"props"))
        .repartition(64)
        .select(($"event_id" + $"rep" * 10000000L).as("event_id"), $"props")
      val jn = time("json_flatten_2m_sec")(
        graft.ext.Json.flatten(evj, "props", maxSample = 10000L)
          .agg(sum($"k")).head().getLong(0))
      println(s"PROBE   json sum(k) = $jn"); metrics += ("json_sum_k" -> jn)

      // PageRank over a synthetic 1M-node / 5M-edge graph (deterministic
      // expander-ish wiring), 5 iterations — the per-round shuffle cost at
      // real scale, independent of any kNN build
      // NOTE: no 1M fuzzy-join arm — this corpus's ~200-word template
      // vocabulary is exactly the low-entropy key space Joins.fuzzyJoin's
      // caveat documents (no key carries a rare gram, candidate buckets
      // approach |keys|/|gram space|), so a probe here measures the
      // documented degenerate case, not the operator on natural keys.

      // two sizes in ONE run (same host-noise regime) pin linearity:
      // 2× nodes and edges should be ~2× wall at fixed partitions
      for (m <- Seq(1, 2)) {
        val nNodes = 1000000L * m
        val prEdges = spark.range(nNodes).withColumnRenamed("id", "src")
          .crossJoin(spark.range(5).withColumnRenamed("id", "j"))
          .select($"src", (($"src" * 7 + $"j" * 999983L + 1) % nNodes).as("dst"))
        val prTop = time(s"pagerank_${m}m_sec")(
          graft.ext.Graphs.pageRank(prEdges, iterations = 5)
            .agg(sum($"rank"), count(lit(1))).head())
        println(s"PROBE   pagerank sum = ${prTop.getDouble(0)} nodes = ${prTop.getLong(1)}")
        metrics += (s"pagerank_${m}m_nodes" -> prTop.getLong(1))
        require(math.abs(prTop.getDouble(0) - 1.0) < 1e-6, "pagerank mass must be conserved")
      }
    }
    // `ngonly` = ingest + ngram/simhash only (the partition-scaling twin of
    // mhonly, for the prefix-filter join)
    if (!mode.contains("ngonly") && !mode.contains("newops") && !mode.contains("r8ops") && !mode.contains("r8x")) {
    // persist the minhash pairs: the clustering stage below consumes them
    // without recomputing the LSH+verify work
    val mhPairs = Dedup.minHashDupPairs(bigDocs, threshold = 0.8).persist()
    recordPairs("minhash_dedup", mhPairs)
    val nClusters = time("dedup_cluster_sec")(
      Dedup.dupClusters(mhPairs.select("id_a", "id_b"))
        .select("cluster").distinct().count())
    println(s"PROBE   dup clusters = $nClusters")
    metrics += ("dup_clusters" -> nClusters)
    mhPairs.unpersist()
    if (mode.contains("stages")) {
      // cumulative materialization: every stage recomputes its
      // predecessors, so per-stage cost = diff of consecutive entries
      val d = Dedup.minHashDiag(bigDocs, threshold = 0.8)
      Seq("mh_banded_cum" -> d.banded, "mh_sets_cum" -> d.sets,
        "mh_packed_cum" -> d.packed, "mh_pairs_cum" -> d.pairs)
        .foreach { case (l, df) =>
          val n = time(s"${l}_sec")(df.count())
          println(s"PROBE   $l rows = $n")
          metrics += (s"${l}_rows" -> n)
        }
    }
    } // end !ngonly
    if (!mode.contains("mhonly") && !mode.contains("newops") && !mode.contains("r8ops") && !mode.contains("r8x")) {
    recordPairs("ngram_dedup", Dedup.ngramJaccardPairs(bigDocs, threshold = 0.8))
    recordPairs("simhash_dedup", Dedup.simHashDupPairs(bigDocs, maxHamming = 3))
    if (!mode.contains("ngonly")) {

    // Bucket skew diagnostics: how much all-pairs candidate mass the cap
    // replaced with star edges (the round-2 disk filler, quantified).
    val lshStats = time("lsh_bucket_stats_sec")(Dedup.lshBucketStats(bigDocs).head())
    metrics += ("lsh_buckets" -> lshStats.getLong(0), "lsh_oversized" -> lshStats.getLong(1),
      "lsh_oversized_members" -> lshStats.getLong(2), "lsh_pairs_skipped" -> lshStats.getLong(3))
    val ngStats = time("ngram_bucket_stats_sec")(Dedup.ngramBucketStats(bigDocs).head())
    metrics += ("ngram_buckets" -> ngStats.getLong(0), "ngram_oversized" -> ngStats.getLong(1),
      "ngram_oversized_members" -> ngStats.getLong(2), "ngram_pairs_skipped" -> ngStats.getLong(3))

    // Corpus-assembly operators at the same 1M docs: packing is ONE shuffle
    // + streaming window, sampling is a bare scan, decontamination is a
    // broadcast gram join (the 1M-doc corpus side never shuffles). The
    // planted copies guarantee real contamination mass against a 500-doc
    // benchmark slice.
    val packed = graft.ext.Pipeline.packSequences(bigDocs, budget = 2048, shards = 64)
    val nBins = time("pack_sec")(
      packed.select($"shard", $"bin").distinct().count())
    println(s"PROBE   pack bins = $nBins"); metrics += ("pack_bins" -> nBins)
    val sampled = time("sample_sec")(graft.ext.Pipeline.sampleStratified(
      bigDocs.withColumn("lang", element_at($"metadata", "lang")), "lang",
      Map("en" -> 0.1), defaultFraction = 0.01).count())
    println(s"PROBE   sampled = $sampled"); metrics += ("sample_kept" -> sampled)
    val kept = time("decontam_sec")(
      graft.ext.Pipeline.decontaminate(bigDocs, base.limit(500), n = 8).count())
    println(s"PROBE   decontam kept = $kept"); metrics += ("decontam_kept" -> kept)
    val rep = time("repetition_sec")(graft.ext.TextStats.repetition(bigDocs, n = 2)
      .agg(sum(when(col("top_ngram_frac") > 0.2, 1L).otherwise(0L))).head().getLong(0))
    println(s"PROBE   repetitive docs = $rep"); metrics += ("repetitive_docs" -> rep)
    // Corpus-level line dedup at 1M docs, ~32 lines/doc: splitting the copy
    // suffix into lines makes every token line repeat corpus-wide (per-copy
    // tokens recur across base docs, the text line recurs across copies) —
    // all must drop — while the prepended doc-id line is unique and must
    // survive: the frequency agg, the anti join, and the reassembly all run
    // at full width with a realistic drop mass.
    val lineDocs = bigDocs.select($"id",
      concat($"id", lit("\n"), regexp_replace($"content", " cp", "\ncp")).as("content"))
    val linesKept = time("dedup_lines_sec")(
      Dedup.dedupLinesCorpus(lineDocs).agg(sum($"n_lines_kept")).head().getLong(0))
    println(s"PROBE   lines kept = $linesKept"); metrics += ("dedup_lines_kept" -> linesKept)

    val vbase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id".cast("string").as("id"), $"embedding")
    val vecs = spark.range(50).withColumnRenamed("id", "copy").crossJoin(vbase)
      .repartition(32)
      .select(concat($"id", lit("_"), $"copy").as("id"), $"embedding")
    println(s"PROBE vectors = ${vecs.count()}")
    val qs = (0 until 5).map(i => i.toString ->
      vbase.filter($"id" === i.toString).select($"embedding").head().getSeq[Float](0).toSeq)
    time("ann_exact_sec")(Ann.exactTopK(vecs, qs, 10).count())
    time("ann_lsh_sec")(Ann.lshTopK(vecs, qs, 10, numTables = 16, numPlanes = 4, dim = 64).count())

    // Embedding near-dup at 100k vectors: 50 identical copies per base
    // vector → 2,000 50-member duplicate clusters, so the true pair count is
    // quadratic-in-cluster (2000 × C(50,2) = 2.45M) — the in-set generator
    // must enumerate them without ever materializing candidate rows.
    recordPairs("emb_dedup", Dedup.embeddingDupPairs(vecs, threshold = 0.9))

    // IVF build at 1M vectors: train (hash-threshold bounded sample — never
    // a corpus-wide sort, see Ivf.boundedSample) + the full assignment scan.
    // The r4 sample path would have range-shuffle-sorted all 1M embeddings
    // right here.
    val ivfVecs = spark.range(500).withColumnRenamed("id", "copy").crossJoin(vbase)
      .repartition(64)
      .select(concat($"id", lit("_"), $"copy").as("id"), $"embedding")
      .persist()
    println(s"PROBE ivf vectors = ${ivfVecs.count()}")
    time("ivf_build_1m_sec") {
      val ix = graft.ext.Ivf.build(ivfVecs, k = 256, iters = 5, maxSample = 50000)
      val assigned = ix.assignments.count()
      println(s"PROBE   ivf assigned = $assigned")
      metrics += ("ivf_assigned" -> assigned)
    }
    ivfVecs.unpersist()

    // Micro-batch upsert flatness (LAST: the inserts would otherwise shift
    // the dedup ground-truth counts above): the same five 1,000-doc upserts
    // against a fresh base-sized collection (~5k docs) vs the 1M-doc one.
    // Base+delta segments make the write side O(batch); the residual
    // collection-size dependence is the stats aggregate's column-pruned
    // (id, dl) postings scan.
    def microBatches(cc: Collection, tag: String): Unit = {
      val times = (1 to 5).map { i =>
        val b = base.limit(1000)
          .select(concat(lit(s"mb${i}_"), $"id").as("id"),
            concat($"content", lit(s" probe batch $i")).as("content"), $"metadata")
        val t0 = System.nanoTime()
        cc.addDf(b)
        math.round((System.nanoTime() - t0) / 1e9 * 100) / 100.0
      }
      println(s"PROBE microbatch_$tag: ${times.mkString(", ")} s")
      metrics += (s"microbatch_${tag}_secs" -> times.mkString("[", ",", "]"))
    }
    val smallRoot = java.nio.file.Files.createTempDirectory("graft-scale-small-").toString
    val cSmall = Collection(spark, smallRoot, "small")
    cSmall.addDf(base)
    microBatches(cSmall, "small")
    microBatches(c, "big")

    // MaxDeltas fan-in worst case: with auto-compaction off, accumulate
    // pending deltas up to the policy cap minus one, then time ONE more
    // micro-batch — the heaviest read-side resolution any batch can see
    // under the MaxDeltas policy (the claims frame unions MaxDeltas-1
    // segments before the broadcast join). Confirms the broadcast-resolution
    // claim AT the policy boundary, not just after a compact.
    {
      import graft.index.Stores
      spark.conf.set("spark.graft.compact.auto", "false")
      var i = 0
      while (Stores.deltaCount(spark, Stores.docsDir(root), "big") < Stores.MaxDeltas - 1) {
        i += 1
        c.addDf(base.limit(1000)
          .select(concat(lit(s"dd${i}_"), $"id").as("id"), $"content", $"metadata"))
      }
      val pending = Stores.deltaCount(spark, Stores.docsDir(root), "big")
      println(s"PROBE pending docs deltas = $pending")
      metrics += ("pending_deltas" -> pending)
      time("microbatch_big_maxdeltas_sec")(c.addDf(base.limit(1000)
        .select(concat(lit("ddlast_"), $"id").as("id"), $"content", $"metadata")))
      spark.conf.set("spark.graft.compact.auto", "true")
    }
    } // end !ngonly (post-detector sections)
    } // end !mhonly

    writeOut()
  }
}
