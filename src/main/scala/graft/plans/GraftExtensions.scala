package graft.plans

import graft.ext.LshBuckets
import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native expressions, registered through the
  * standard `SparkSessionExtensions` hook:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions …
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions) …
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM …
  * }}}
  *
  * For a session that already exists (notebooks, the driver harness),
  * [[GraftFunctions.register]] installs the same functions through the
  * session's function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftFunctions.tables.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    // cosine-top-k → ANN candidate rewrite (armed per-path via AnnCatalog)
    ext.injectOptimizerRule(session => AnnTopKRewrite(session))
  }
}

object GraftFunctions {

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a STRING literal, got $other")
  }
  private def stringSeqArg(e: Expression, what: String): Seq[String] = {
    val ok = e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.ArrayType(_: org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    })
    if (!ok)
      throw new IllegalArgumentException(
        s"$what must be a foldable ARRAY<STRING> (e.g. array('a','b')), got $e")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), s"$what must not contain NULL elements")
          a.getUTF8String(i).toString
        }
      case _ =>
        throw new IllegalArgumentException(s"$what evaluated to NULL")
    }
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an INT literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a BIGINT literal, got $other")
  }
  private def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    // Spark SQL parses a plain fractional literal (0.7) as DECIMAL, and an
    // integral one as INT — both are legitimate spellings of a double arg
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a DOUBLE literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.1.2", "", "scala_udf")

  /** Arity guard: a wrong-arg-count SQL call must fail with the function's
    * signature, not a raw IndexOutOfBoundsException from `args(i)`.
    */
  private def arity(name: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression): FunctionBuilder =
    (args: Seq[Expression]) => {
      if (args.size < min || args.size > max)
        throw new IllegalArgumentException(
          s"$name expects $min${if (max != min) s"-$max" else ""} arguments, " +
            s"got ${args.size}; usage: $usage")
      build(args)
    }

  private def fn(name: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression): (String, ExpressionInfo, FunctionBuilder) =
    (name, info(name, usage), arity(name, usage, min, max)(build))

  /** (name, info, builder) for every SQL-exposed engine function. */
  val all: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_cosine",
      "graft_cosine(a ARRAY<FLOAT>, b ARRAY<FLOAT>) - codegen'd cosine similarity", 2, 2)(
      args => CosineSimilarity(args(0), args(1))),
    fn("graft_dot",
      "graft_dot(a ARRAY<FLOAT>, b ARRAY<FLOAT>) - codegen'd dot product", 2, 2)(
      args => DotProduct(args(0), args(1))),
    fn("graft_simhash64",
      "graft_simhash64(tokens ARRAY<STRING>) - MD5-derived 64-bit SimHash", 1, 1)(
      args => SimHash64(args(0))),
    fn("graft_minhash",
      "graft_minhash(hashes ARRAY<BIGINT>, numHashes INT[, seed BIGINT]) - MinHash signature", 2, 3)(
      args => MinHashSignature(args(0), intArg(args(1), "numHashes"),
        if (args.size > 2) longArg(args(2), "seed") else 42L)),
    fn("graft_shingles",
      "graft_shingles(tokens ARRAY<STRING>, n INT) - distinct word n-gram shingles", 2, 2)(
      args => ShingleArray(args(0), intArg(args(1), "n"))),
    fn("graft_hash_prefix",
      "graft_hash_prefix(shingles ARRAY<STRING>, t DOUBLE) - prefix-filter probe set", 2, 2)(
      args => HashPrefix(args(0), doubleArg(args(1), "t"))),
    fn("graft_jaccard",
      "graft_jaccard(a ARRAY<STRING>, b ARRAY<STRING>) - set Jaccard similarity", 2, 2)(
      args => JaccardSimilarity(args(0), args(1))),
    fn("graft_lsh_buckets",
      "graft_lsh_buckets(emb ARRAY<FLOAT>, tables INT, planes INT, dim INT[, seed BIGINT]) - hyperplane LSH buckets", 4, 5)(
      args => LshBuckets(args(0), intArg(args(1), "tables"),
        intArg(args(2), "planes"), intArg(args(3), "dim"),
        if (args.size > 4) longArg(args(4), "seed") else 42L)),
    fn("graft_token_entropy",
      "graft_token_entropy(tokens ARRAY<STRING>) - Shannon entropy (nats) of the token distribution", 1, 1)(
      args => graft.functions.TokenEntropy(args(0))),
    fn("graft_contains_slice",
      "graft_contains_slice(haystack ARRAY<STRING>, needle ARRAY<STRING>) - true iff needle occurs as a contiguous run", 2, 2)(
      args => graft.functions.ContainsSlice(args(0), args(1))),
    fn("graft_html_text",
      "graft_html_text(html STRING) - HTML to text extraction (comments/containers/tags stripped, entities decoded, whitespace disciplined)", 1, 1)(
      args => graft.ext.Html.htmlToTextExpr(args(0))),
    fn("graft_html_entity_decode",
      "graft_html_entity_decode(s STRING) - single-pass HTML character-reference decode (named + numeric; invalid refs verbatim)", 1, 1)(
      args => graft.functions.HtmlEntities.decodeExpr(args(0))),
    fn("graft_multi_phrase",
      "graft_multi_phrase(content STRING, phrases ARRAY<STRING>) - Aho-Corasick any-phrase containment at ASCII word boundaries (case-insensitive)", 2, 2)(
      args => {
        val ps = stringSeqArg(args(1), "phrases")
        // reject at ANALYSIS time what PhraseAutomaton's constructor would
        // otherwise reject on every executor task (a whole-stage failure
        // for a statically-detectable bad argument)
        if (ps.isEmpty || ps.exists(_.isEmpty))
          throw new IllegalArgumentException(
            "graft_multi_phrase phrases must be a non-empty ARRAY<STRING> of non-empty strings")
        graft.functions.MultiPhraseContains(args(0), ps)
      }),
    fn("graft_token_min_span",
      "graft_token_min_span(tokens ARRAY<STRING>, terms ARRAY<STRING>) - smallest position window covering all terms (NULL if any absent)", 2, 2)(
      args => graft.functions.TokenMinSpan(args(0), args(1)))
  )

  /** Install the functions into an EXISTING session (temp-function scope). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }

  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def tfn(name: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => LogicalPlan): (String, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (name, info(name, usage), (args: Seq[Expression]) => {
      if (args.size < min || args.size > max)
        throw new IllegalArgumentException(
          s"$name expects $min${if (max != min) s"-$max" else ""} arguments, " +
            s"got ${args.size}; usage: $usage")
      build(args)
    })

  /** Table functions: persisted-collection access from plain SQL, e.g.
    *
    * {{{
    *   SELECT id, rank FROM graft_search('/data/stores', 'main', 'spark AND sql', 10)
    * }}}
    *
    * Arguments must be literals (they select the store, so they are part of
    * the plan, not the data). The produced subtree is the collection's own
    * query plan — the BM25 postings scan, metadata filters, and pagination
    * all stay inside Catalyst, so an outer WHERE/projection composes with
    * (and is optimized across) the search plan like any other SQL source.
    * `graft_search` (and each member of `graft_search_all`) plans BM25 on
    * its distributed arm: the API's `queryFrame` runs a postings-slice job
    * when it is built, which here would run during analysis.
    * The reference has no SQL surface (everything goes through the Python
    * API, core.py:258-384); this is the Spark-native equivalent of handing
    * the collection to a SQL user.
    */
  val tables: Seq[(String, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    tfn("graft_docs",
      "graft_docs(root STRING, name STRING) - all documents (id, content, metadata) of a persisted collection", 2, 2) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .docs().queryExecution.logical
    },
    tfn("graft_search",
      "graft_search(root STRING, name STRING, query STRING[, limit INT]) - ranked full-text search (id, content, metadata, rank)", 3, 4) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      // the distributed arm: the driver arm would run its postings-slice
      // job during analysis (every EXPLAIN and re-analysis)
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .withSliceMaxRows(-1).queryFrame(strArg(args(2), "query"),
          limit = if (args.size > 3) intArg(args(3), "limit") else 0)
        .queryExecution.logical
    },
    tfn("graft_phrase",
      "graft_phrase(root STRING, name STRING, phrase STRING[, limit INT]) - token-adjacency phrase search (id, content, metadata, rank)", 3, 4) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .phraseSearch(strArg(args(2), "phrase"),
          limit = if (args.size > 3) intArg(args(3), "limit") else 0)
        .queryExecution.logical
    },
    tfn("graft_near",
      "graft_near(root STRING, name STRING, terms STRING, span INT[, limit INT]) - proximity search: all terms within a span-token window", 4, 5) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .nearSearch(strArg(args(2), "terms"), intArg(args(3), "span"),
          limit = if (args.size > 4) intArg(args(4), "limit") else 0)
        .queryExecution.logical
    },
    tfn("graft_extended",
      "graft_extended(root STRING, name STRING, query STRING[, limit INT]) - extended-grammar search: \"quoted phrase\" and near(a b, k) leaves composable with and/or", 3, 4) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .extendedQueryFrame(strArg(args(2), "query"),
          limit = if (args.size > 3) intArg(args(3), "limit") else 0)
        .queryExecution.logical
    },
    tfn("graft_search_all",
      "graft_search_all(root STRING, query STRING[, limit INT]) - federated FTS across every collection of a store root (collection, id, content, metadata, rank)", 2, 3) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.searchAll(s, strArg(args(0), "root"), strArg(args(1), "query"),
          limit = if (args.size > 2) intArg(args(2), "limit") else 0)
        .queryExecution.logical
    },
    tfn("graft_docs_asof",
      "graft_docs_asof(root STRING, name STRING, seg BIGINT) - time-travel documents as of a history() segment", 3, 3) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.api.Collection.open(s, strArg(args(0), "root"), strArg(args(1), "name"))
        .docsAsOf(longArg(args(2), "seg"))
        .queryExecution.logical
    },
    tfn("graft_warc",
      "graft_warc(path STRING) - parsed records of an uncompressed WARC stream (warc_type, target_uri, warc_date, record_id, http_status, content_type, body, record)", 1, 1) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.sources.Warc.read(s, strArg(args(0), "path")).queryExecution.logical
    },
    tfn("graft_warc_gz",
      "graft_warc_gz(path STRING) - parsed records of a member-gzip .warc.gz (Common Crawl layout): Content-Length-framed, byte-exact body_bytes, warc_version/warc_truncated, and (file, offset, length) CDX coordinates alongside the text columns", 1, 1) { args =>
      val s = org.apache.spark.sql.SparkSession.active
      graft.sources.WarcGzip.read(s, strArg(args(0), "path")).queryExecution.logical
    })

  /** Install the table functions into an EXISTING session. */
  def registerTables(spark: org.apache.spark.sql.SparkSession): Unit =
    tables.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerTableFunction(spark, name, builder)
    }
}
