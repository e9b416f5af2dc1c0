package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash primitives for the dedup operators (SURVEY §7.6). Both are
  * single-pass per-row expressions over an already-hashed/tokenized array —
  * signature computation is an embarrassingly-parallel scan with ZERO
  * shuffle; only LSH banding shuffles. That is the property that matters at
  * 100 TB: the expensive O(rows × perms × shingles) arithmetic never crosses
  * the wire.
  */

/** MinHash signature over an ARRAY<BIGINT> of element hashes (produce them
  * with `transform(shingles, s => xxhash64(s))`, fully codegen'd).
  *
  * Universal-hash permutations h_i(x) = (a_i·x + b_i) mod p over the field
  * Z_p with p = 2^31 − 1 (Mersenne) and the element hash reduced mod p
  * first. p must sit just above the element domain: a_i·x then wraps ~2^31
  * times and the induced orderings decorrelate across perms. (A too-large p,
  * e.g. 2^61−1 against 32-bit x, makes a_i·x wrap ≤3 times — the map stays
  * near-monotone and EVERY perm picks nearly the same minimum, collapsing
  * the agreement probability far below the Jaccard it must estimate.)
  * a_i·x ≤ (2^31)² fits a signed long; collision prob per pair is |S|/2^31,
  * negligible. Returns ARRAY<BIGINT> of length `numHashes`; empty input ->
  * all p (the "empty set" signature, matches nothing).
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private val P = (1L << 31) - 1

  @transient private lazy val coeffs: Array[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numHashes) {
      val a = 1L + math.floorMod(rnd.nextLong(), P - 1) // 1 .. p-1
      val b = math.floorMod(rnd.nextLong(), P)          // 0 .. p-1
      (a, b)
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val sig = Array.fill(numHashes)(P)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) { i += 1 } // null element hash (null shingle) — skip
      else {
      val x = (xs.getLong(i) & 0x7FFFFFFFFFFFFFFFL) % P
      var j = 0
      while (j < numHashes) {
        val (a, b) = coeffs(j)
        val h = (a * x + b) % P
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over an ARRAY<STRING> of tokens.
  *
  * Per-token 64-bit hash = first 8 bytes of MD5(token) read as a big-endian
  * unsigned integer — deliberately MD5 so any SQL engine with an `md5()`
  * function can replay the exact signature (the correctness oracle does).
  * Bit i of the signature is set iff Σ_tokens (2·bit_i(h) − 1) > 0.
  * Duplicate tokens each count (term frequency weighting).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val counts = new Array[Int](64)
    val md = SimHash64.digest.get()
    var i = 0
    while (i < n) {
      val tok = xs.get(i, StringType).asInstanceOf[UTF8String]
      if (tok != null) {
        md.reset()
        val d = md.digest(tok.getBytes)
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) sim |= (1L << bit); bit += 1 }
    sim
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** One MD5 instance per executor thread — a per-ROW getInstance was a JCA
    * provider lookup + allocation on the dedup hot scan.
    */
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** Distinct word-`n`-gram shingles over an ARRAY<STRING> token column —
  * single-pass native replacement for the `transform(sequence…)` +
  * `concat_ws` + `array_distinct` HOF composition, whose per-element lambda
  * dispatch runs interpreted and dominated the dedup scans (~1 ms/row
  * observed on 90-token docs vs ~10 µs here). First-occurrence order,
  * empty array for docs shorter than n tokens (same contract as the HOF
  * version).
  */
case class ShingleArray(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_array"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    // Null elements (possible on SQL-exposed graft_shingles over arbitrary
    // user arrays) are dropped up front — a null token would make
    // UTF8String.concat return null and violate containsNull=false.
    val all = xs.numElements()
    var m = 0
    val toksAll = new Array[UTF8String](all)
    var r = 0
    while (r < all) {
      if (!xs.isNullAt(r)) { toksAll(m) = xs.getUTF8String(r); m += 1 }
      r += 1
    }
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = if (distinct) new java.util.LinkedHashSet[UTF8String]() else null
    val ordered = if (distinct) null else new Array[Any](m - n + 1)
    val toks = toksAll
    var i = 0
    val space = UTF8String.fromString(" ")
    i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        if (j > 0) parts(2 * j - 1) = space
        parts(2 * j) = toks(i + j)
        j += 1
      }
      val gram = UTF8String.concat(parts: _*)
      if (distinct) seen.add(gram) else ordered(i) = gram
      i += 1
    }
    if (!distinct) return new GenericArrayData(ordered)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Max multiplicity of any element in an ARRAY<STRING> — the per-row core
  * of the Gopher `top_ngram_tf` repetition metric, computed in ONE hash-map
  * pass inside the row. Replaces the explode → groupBy(id, gram) →
  * groupBy(id) max formulation, whose per-(id, gram) shuffle grows with the
  * duplicated-content gram mass (measured 3.9× time for 2× docs on
  * 200-copy clusters); this form is a zero-shuffle scan, exactly linear in
  * docs. 0 for empty arrays; null elements are skipped (same contract as
  * ShingleArray's null handling on SQL-exposed arbitrary arrays).
  */
case class MaxMultiplicity(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "max_multiplicity"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      val s = xs.getUTF8String(i)
      if (s != null) {
        val c = counts.merge(s, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-element occurrence counts of an ARRAY<STRING>, as
  * STRUCT<tc: MAP<STRING, BIGINT>, dl: BIGINT> where `dl` is the total
  * element count — the per-row core of the postings build:
  * `explode(term_counts(tokens).tc)` yields (term, tf) rows from a PURE
  * SCAN, replacing `explode(tokens)` + `groupBy(id, term) count`, which
  * shuffled every token OCCURRENCE of every batch (the single largest
  * ingest cost; ~70 tokens/doc → a 7M-row shuffle per 100k-doc batch, and
  * the per-batch shuffle at the 100 TB target). `dl` rides in the same
  * struct so the tokenizer runs ONCE per row (two top-level expressions
  * would each re-evaluate the regex split). Null elements are skipped;
  * empty/all-null arrays yield an empty map (explode drops the row,
  * matching the old shape's absent postings) with dl = non-null count.
  */
case class TermCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("tc", MapType(StringType, LongType, valueContainsNull = false),
      nullable = false),
    StructField("dl", LongType, nullable = false)))
  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Long](n * 2)
    var dl = 0L
    var i = 0
    while (i < n) {
      val s = xs.getUTF8String(i)
      if (s != null) { counts.merge(s, 1L, (a, b) => a + b); dl += 1L }
      i += 1
    }
    val m = counts.size()
    val keys = new Array[Any](m)
    val vals = new Array[Any](m)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(keys), new GenericArrayData(vals)),
      dl))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `p` = floor((1−t)·size + 1e-9)+1 shingles that come FIRST in the
  * global (xxhash64, value) order — the prefix-filter probe set, computed
  * entirely inside the row (zero shuffles; see Dedup.ngramJaccardPairs).
  * The epsilon guards the case where (1−t)·size is integral but binary
  * (1−t) rounds low — a one-short prefix breaks the filter's exactness.
  */
case class HashPrefix(child: Expression, threshold: Double)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "hash_prefix"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val m0 = xs.numElements()
    // drop null elements (the SQL surface graft_hash_prefix accepts
    // arbitrary arrays; ShingleArray does the same for the same reason)
    val buf = new scala.collection.mutable.ArrayBuffer[UTF8String](m0)
    var i = 0
    while (i < m0) {
      val s = xs.getUTF8String(i)
      if (s != null) buf += s
      i += 1
    }
    val m = buf.length
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val p = math.min(m, (math.floor((1.0 - threshold) * m + 1e-9) + 1).toInt)
    val arr = new Array[(Long, UTF8String)](m)
    i = 0
    while (i < m) {
      val s = buf(i)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      arr(i) = (h, s)
      i += 1
    }
    java.util.Arrays.sort(arr.asInstanceOf[Array[Object]], new java.util.Comparator[Object] {
      def compare(a: Object, b: Object): Int = {
        val x = a.asInstanceOf[(Long, UTF8String)]
        val y = b.asInstanceOf[(Long, UTF8String)]
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c else x._2.compareTo(y._2)
      }
    })
    val out = new Array[Any](p)
    i = 0
    while (i < p) { out(i) = arr(i)._2; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Jaccard similarity of two distinct-element ARRAY<STRING> columns in one
  * hash-set pass (|A∩B| counted while probing, |A∪B| = |A|+|B|−|A∩B|) —
  * replaces the size(array_intersect)/size(array_union) pair, which walks
  * both arrays twice through interpreted collection builders. 0.0 when both
  * sides are empty (matches TextFunctions.jaccard).
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "jaccard_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val nx = xs.numElements()
    val ny = ys.numElements()
    if (nx == 0 && ny == 0) return 0.0
    val set = new java.util.HashSet[UTF8String](nx * 2)
    var i = 0
    while (i < nx) { set.add(xs.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < ny) { if (set.contains(ys.getUTF8String(i))) inter += 1; i += 1 }
    inter.toDouble / (nx + ny - inter).toDouble
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED-ascending distinct ARRAY<BIGINT> columns
  * (hashed shingle sets) by linear merge-intersection — no per-row hash set,
  * no boxing, ~5× cheaper than [[JaccardSimilarity]] on the string arrays and
  * ~4× lighter on the wire (8 bytes/element vs whole shingle strings): the
  * representation the in-bucket dedup verification ships through its shuffle.
  * 0.0 when both sides are empty (same contract as JaccardSimilarity; the
  * value is identical to string-set Jaccard short of a 64-bit hash collision).
  * The arithmetic is [[SortedJaccard.atLeast]] at threshold 0.
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "sorted_long_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedJaccard.atLeast(a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray(), 0.0)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The one Jaccard kernel over sorted distinct hashed shingle sets, shared
  * by [[SortedLongJaccard]], [[BucketJaccardPairs]] and the driver-side
  * dedup verify ([[graft.ext.Dedup]]), so every route qualifies a pair by
  * the same arithmetic.
  */
object SortedJaccard {
  /** Exact Jaccard of `a` and `b` if it is ≥ `threshold`, −1.0 otherwise;
    * early-exits once even matching every remaining element cannot reach
    * the smallest qualifying intersection. Two empty sets score 0.0.
    */
  def atLeast(a: Array[Long], b: Array[Long], threshold: Double): Double = {
    val na = a.length
    val nb = b.length
    if (na == 0 && nb == 0) return if (0.0 >= threshold) 0.0 else -1.0
    // smallest integer intersection size that qualifies, pinned with the
    // same double division the final value uses (decision parity with
    // jaccard >= threshold)
    var minInter = math.ceil(threshold * (na + nb) / (1.0 + threshold)).toLong
    while (minInter > 0 &&
      (minInter - 1).toDouble / (na + nb - (minInter - 1)).toDouble >= threshold)
      minInter -= 1
    while (minInter <= math.min(na, nb) &&
      minInter.toDouble / (na + nb - minInter).toDouble < threshold)
      minInter += 1
    if (minInter > math.min(na, nb)) return -1.0
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < minInter) return -1.0
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (inter < minInter) -1.0
    else inter.toDouble / (na + nb - inter).toDouble
  }
}

/** WHOLE-BUCKET near-duplicate verification as a generator: the input is one
  * collected bucket — ARRAY<STRUCT<id STRING, shh ARRAY<BIGINT>>> with `shh`
  * the sorted hashed shingle set — and the output rows are exactly the
  * member pairs with Jaccard ≥ `threshold`: (id_a, id_b, jaccard), a < b.
  *
  * This replaces pair materialization + per-side payload re-joins: payloads
  * cross the wire ONCE (with their bucket row, bounded by the bucket cap),
  * and the O(m²) candidate pairs exist only inside this loop, which emits
  * only survivors. The inner merge-intersection EARLY-EXITS as soon as the
  * remaining elements cannot reach the threshold — on crawl-shaped buckets
  * (many sub-threshold near-copies) that skips ~half the comparison work —
  * while qualifying pairs complete the merge, so the emitted jaccard and
  * the qualification decision are bit-identical to
  * `SortedLongJaccard ≥ threshold`.
  */
case class BucketJaccardPairs(child: Expression, threshold: Double)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator with CodegenFallback {
  require(threshold >= 0.0 && threshold <= 1.0, "threshold in [0, 1]")

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", StringType, nullable = false),
    StructField("id_b", StringType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false)))
  override def prettyName: String = "bucket_jaccard_pairs"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow):
      IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val m = arr.numElements()
    val ids = new Array[UTF8String](m)
    val sets = new Array[Array[Long]](m)
    var i = 0
    while (i < m) {
      val st = arr.getStruct(i, 2)
      // clone: generator output outlives this input row's unsafe buffer
      ids(i) = st.getUTF8String(0).clone()
      sets(i) = st.getArray(1).toLongArray()
      i += 1
    }
    // LAZY pair enumeration (same shape as BucketCosinePairs): a duplicate-
    // heavy cap-sized bucket can emit C(m, 2) survivors — materializing them
    // before Generate consumes any would buffer the whole quadratic set in
    // one task's heap; only the O(m) member arrays above are resident.
    Iterator.range(0, m).flatMap { i =>
      Iterator.range(i + 1, m).flatMap { j =>
        val jac = SortedJaccard.atLeast(sets(i), sets(j), threshold)
        if (jac >= 0.0)
          // ids are pre-sorted ascending by the caller (sort_array), so
          // (i, j) is already (a < b); don't re-compare per pair
          Iterator.single(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](ids(i), ids(j), jac)): org.apache.spark.sql.catalyst.InternalRow)
        else Iterator.empty
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashFunctions {
  /** Native distinct n-gram shingles over a token array column. */
  def shingleArray(tokens: Column, n: Int): Column =
    Bridge.column(ShingleArray(Bridge.expression(tokens), n))

  /** All n-gram windows IN ORDER, duplicates kept — the occurrence-counting
    * shape (repetition metrics), vs the set shape above (Jaccard/MinHash).
    */
  def shingleArrayAll(tokens: Column, n: Int): Column =
    Bridge.column(ShingleArray(Bridge.expression(tokens), n, distinct = false))

  /** Native one-pass Jaccard over two distinct-element string arrays. */
  def jaccardSim(a: Column, b: Column): Column =
    Bridge.column(JaccardSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Max element multiplicity of a string-array column (one per-row pass). */
  def maxMultiplicity(arr: Column): Column =
    Bridge.column(MaxMultiplicity(Bridge.expression(arr)))

  /** Per-element occurrence counts of a string-array column as a map. */
  def termCounts(arr: Column): Column =
    Bridge.column(TermCounts(Bridge.expression(arr)))

  /** Prefix-filter probe set over a shingle array column. */
  def hashPrefix(shingles: Column, threshold: Double): Column =
    Bridge.column(HashPrefix(Bridge.expression(shingles), threshold))

  /** MinHash signature Column over a string-array column (shingles). */
  def minHashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column = {
    val hashes = transform(shingles, s => xxhash64(s))
    Bridge.column(MinHashSignature(Bridge.expression(hashes), numHashes, seed))
  }

  /** MinHash signature over an ALREADY-hashed ARRAY<BIGINT> element column —
    * lets a pipeline that also ships the hashed set for verification compute
    * the element hashes exactly once (element order is irrelevant to the
    * signature, so a sorted hashed set is a fine input).
    */
  def minHashSignatureHashed(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    Bridge.column(MinHashSignature(Bridge.expression(hashes), numHashes, seed))

  /** Hashed+sorted set representation of a string-array column: distinct
    * xxhash64 of each element, ascending. The compact verification payload
    * for [[sortedJaccard]].
    */
  def hashedSet(arr: Column): Column =
    sort_array(array_distinct(transform(arr, s => xxhash64(s))))

  /** Merge-intersection Jaccard over two [[hashedSet]] columns. */
  def sortedJaccard(a: Column, b: Column): Column =
    Bridge.column(SortedLongJaccard(Bridge.expression(a), Bridge.expression(b)))

  /** Whole-bucket qualifying-pairs generator over a collected bucket column
    * (ARRAY<STRUCT<id, shh>>, id-sorted): emits (id_a, id_b, jaccard) rows.
    */
  def bucketJaccardPairs(docs: Column, threshold: Double): Column =
    Bridge.column(BucketJaccardPairs(Bridge.expression(docs), threshold))

  /** SimHash64 Column over a token-array column. */
  def simHash64(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))

  /** Signed long -> fixed 16-char lowercase hex (two's complement), the
    * cross-engine-stable rendering of an unsigned 64-bit value.
    */
  def hex64(c: Column): Column = lpad(lower(hex(c)), 16, "0")
}
