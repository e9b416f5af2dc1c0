package graft.plans

import graft.ext.{Ann, IvfIndex, LshIndex}
import graft.functions.CosineSimilarity
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** The pgvector-analog planner decision (reference src/sifts/core.py:319-321:
  * `ORDER BY embedding <=> q LIMIT k` silently uses the vector index when one
  * exists): a `Rule[LogicalPlan]` that rewrites an EXACT cosine top-k —
  *
  * {{{ corpus.withColumn("sim", cosine($"embedding", vecLit(q)))
  *          .orderBy($"sim".desc).limit(k) }}}
  *
  * — into the same plan restricted to the candidates of a REGISTERED ANN
  * index (LSH buckets or IVF posting lists) via a LEFT SEMI join:
  *
  * {{{ Limit(k, Sort(sim DESC, child ⋉ candidateIds(q))) }}}
  *
  * The sort/limit/projection stay verbatim (exact rerank inside the candidate
  * set — identical semantics to [[graft.ext.LshIndex.topK]]), so output
  * attributes are untouched and the rewrite composes with any surrounding
  * plan. Like pgvector, the result is approximate by the index's recall;
  * registration ([[AnnCatalog.register]]) is the explicit opt-in, and
  * `spark.graft.ann.rewrite=false` opts a session out.
  *
  * Scope: the corpus must scan a registered parquet path (the shape of every
  * graft store); the first sort key must be the cosine DESC between the
  * registered embedding column and a literal query vector.
  *
  * FILTERED top-k (`WHERE meta … ORDER BY cosine LIMIT k`, the X115 serving
  * shape) rewrites through the same two patterns: the optimizer pushes the
  * Filter below the Sort, so it lands INSIDE `child` and the candidate semi
  * join applies to the filtered corpus — X115's intersect-then-rerank
  * contract, with bucket-complete candidates (no k×overfetch cut to
  * under-fill). Pinned by AnnRewriteSpec ("metadata-filtered …" and the
  * vectorTopKWhere-parity case).
  */
object AnnCatalog {

  /** A registered index: produces the candidate-id frame for one query,
    * or None to decline (e.g. a deferred index that no longer exists) —
    * declining leaves the exact plan untouched.
    */
  sealed trait Registered {
    /** One column `id` — the candidate ids for this query vector. */
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame]
  }

  /** Hyperplane-LSH: probe = the query's bucket per table (literal
    * predicates, row-group-prunable on a (table, bucket)-clustered store).
    */
  final case class LshRegistered(index: LshIndex) extends Registered {
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame] = {
      val expr = graft.ext.LshBuckets(
        Literal.create(qvec.toArray, ArrayType(FloatType)),
        index.numTables, index.numPlanes, index.dim, index.seed)
      val buckets = expr.eval(null).asInstanceOf[ArrayData].toLongArray()
      val pred = buckets.zipWithIndex.map { case (b, t) =>
        col("table") === t && col("bucket") === b
      }.reduce(_ || _)
      Some(index.buckets.filter(pred).select(col("id")))
    }
  }

  /** IVF: probe = the `nprobe` nearest posting lists (literal cluster
    * predicates against the cluster-clustered store).
    */
  final case class IvfRegistered(index: IvfIndex, nprobe: Int) extends Registered {
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame] = {
      val lists = graft.ext.Ivf.nearestCentroidIds(
        qvec, index.centroids, math.min(nprobe, index.centroids.size))
      Some(index.assignments.filter(col("cluster").isin(lists: _*)).select(col("id")))
    }
  }

  /** PQ: probe = the query's ADC top-`candK` over the codes frame (m
    * bytes/row; a full codes scan by design — no clustering key to prune
    * on). The surrounding exact sort/limit then reranks the candidates
    * with true cosine, so the rewrite is the standard PQ retrieve+rerank.
    */
  final case class PqRegistered(codes: DataFrame, cb: graft.ext.PqCodebook,
                                candK: Int) extends Registered {
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame] =
      Some(graft.ext.Pq.adcTopK(codes, cb, Seq(("q", qvec)), candK)
        .select(col("id")))
  }

  /** IVF-PQ: probe = ADC top-`candK` over ONLY the query's `nprobe`
    * nearest coarse lists (literal cluster predicates prune the codes
    * store's row groups, so the ADC scan reads ~nprobe/k of the codes —
    * the composite of [[IvfRegistered]]'s pruning and [[PqRegistered]]'s
    * compression). The surrounding exact sort/limit reranks in floats.
    */
  /** `residual` is REQUIRED (no default): it is a persisted-data property —
    * scoring a residual store with the raw LUT interprets every code
    * against the wrong input space and silently collapses recall, so a
    * forgotten argument must not compile.
    */
  final case class IvfPqRegistered(rows: DataFrame, cents: Seq[Seq[Float]],
                                   cb: graft.ext.PqCodebook, nprobe: Int,
                                   candK: Int, residual: Boolean)
      extends Registered {
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame] = {
      val lists = graft.ext.Ivf.nearestCentroidIds(
        qvec, cents, math.min(nprobe, cents.size))
      Some(graft.ext.Pq.adcTopKFor(
        rows.filter(col("cluster").isin(lists: _*)),
        cb, cents, residual, Seq(("q", qvec)), candK).select(col("id")))
    }
  }

  /** Re-resolved on every probe — the registration shape for indexes that
    * live in a mutable store (e.g. a [[graft.api.Collection]]'s persisted,
    * delta-maintained index): each rewrite re-reads the current store, and a
    * dropped index declines the rewrite instead of serving stale buckets.
    */
  final case class Deferred(resolve: () => Option[Registered]) extends Registered {
    def candidates(spark: SparkSession, qvec: Seq[Float]): Option[DataFrame] =
      resolve().flatMap(_.candidates(spark, qvec))
  }

  final case class Entry(idCol: String, embCol: String, source: Registered)

  // keyed by (session UUID, qualified path): a registration arms the rewrite
  // ONLY for the session that made it — another SparkSession in the same JVM
  // scanning the same path keeps its exact plans unless it opts in itself
  private val entries = TrieMap.empty[(String, String), Entry]

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Register an ANN index for the corpus parquet at `path` — the opt-in
    * that arms the rewrite for scans of that path in THIS session.
    */
  def register(spark: SparkSession, path: String, entry: Entry): Unit =
    entries.put((org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark), qualify(spark, path)), entry)

  def unregister(spark: SparkSession, path: String): Unit =
    entries.remove((org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark), qualify(spark, path)))

  def clear(): Unit = entries.clear()

  def isEmpty: Boolean = entries.isEmpty

  private[plans] def lookup(spark: SparkSession, rootPath: String): Option[Entry] =
    entries.get((org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark), rootPath))

  /** Install the rewrite into an EXISTING session (the
    * `SparkSessionExtensions` path only reaches sessions configured before
    * construction). Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations.exists(_.isInstanceOf[AnnTopKRewrite])
    if (!have)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnTopKRewrite(spark)
  }
}

case class AnnTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private val Marker = "__graft_ann_cand"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (AnnCatalog.isEmpty) return plan
    if (!graft.GraftConf.annRewrite(spark)) return plan
    // Two shapes: the bare `orderBy(cos desc).limit(k)`, and the same with a
    // pruning Project BETWEEN limit and sort — what ColumnPruning leaves
    // behind for the ubiquitous `select("id").orderBy(...).limit(k)` query
    // (this rule runs in the LAST optimizer batch, so it always sees the
    // pruned plan). Missing the second shape silently serves the exact scan.
    plan.transformDown {
      case l @ Limit(le @ IntegerLiteral(_),
                     s @ Sort(SortOrder(head, Descending, _, _) +: _, true, child, _))
          if !child.exists(_.output.exists(_.name == Marker)) =>
        candidateJoin(head, child)
          .map(join => Limit(le, Sort(s.order, global = true, join)))
          .getOrElse(l)
      case l @ Limit(le @ IntegerLiteral(_),
                     p @ Project(projList,
                       s @ Sort(SortOrder(head, Descending, _, _) +: _, true, child, _)))
          if !child.exists(_.output.exists(_.name == Marker)) =>
        candidateJoin(head, child)
          .map(join => Limit(le,
            Project(projList, Sort(s.order, global = true, join))))
          .getOrElse(l)
    }
  }

  /** The candidate semi join for one top-k sort, or None when the sort key /
    * relation / registration don't line up (plan left untouched).
    */
  private def candidateJoin(head: Expression, child: LogicalPlan): Option[Join] =
    for {
      (embAttr, qvec) <- cosineOf(head, child)
      // ground BOTH columns in the registered relation's own attributes
      // (exprId match) — a bare name like "id" may also be exposed by
      // OTHER relations joined into the child, and binding one of those
      // would semi-join on the wrong ids and corrupt results. When two
      // registered corpora are joined in one query, the exprId test
      // picks the relation the sort key actually scores.
      (entry, lr)     <- registrationsOf(child).find { case (e, rel) =>
                           rel.output.exists(a =>
                             a.name == e.embCol && a.exprId == embAttr.exprId)
                         }
      relId           <- lr.output.find(_.name == entry.idCol)
      idAttr          <- child.output.find(_.exprId == relId.exprId)
      candDf          <- entry.source.candidates(spark, qvec)
    } yield {
      // Inject the OPTIMIZED candidate subtree: this rule runs in the last
      // optimizer batch ("User Provided Optimizers"), so an analyzed
      // subtree would reach the planner raw — its Deduplicate (from
      // .distinct()) is never replaced by ReplaceDeduplicateWithAggregate
      // and physical planning throws INTERNAL_ERROR. Optimizing the
      // candidate Dataset separately lowers distinct() to an Aggregate and
      // runs pushdown/pruning on the probe too; the candidate plan has no
      // cosine-top-k shape, so re-entering this rule on it is a no-op.
      val candPlan = candDf
        .select(col("id").as(Marker)).distinct()
        .queryExecution.optimizedPlan
      Join(child, candPlan, LeftSemi,
        Some(EqualTo(idAttr, candPlan.output.head)), JoinHint.NONE)
    }

  /** The (embedding Attribute, literal query vector) of a cosine-DESC sort
    * key, chasing one level of aliasing through the child's projections.
    * Returning the Attribute (not its name) lets the caller demand exprId
    * identity with the registered relation's own column.
    */
  private def cosineOf(e: Expression, child: LogicalPlan): Option[(Attribute, Seq[Float])] =
    e match {
      case CosineSimilarity(l, r) =>
        (queryVec(r), embAttr(l)) match {
          case (Some(q), Some(a)) => Some((a, q))
          case _ => (queryVec(l), embAttr(r)) match {
            case (Some(q), Some(a)) => Some((a, q))
            case _ => None
          }
        }
      case a: Attribute =>
        child.collect { case p: Project => p.projectList }.flatten
          .collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
          .flatMap(cosineOf(_, child))
      case _ => None
    }

  private def embAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case Cast(a: Attribute, ArrayType(FloatType, _), _, _) => Some(a)
    case _ => None
  }

  private def queryVec(e: Expression): Option[Seq[Float]] = e match {
    case Literal(arr: ArrayData, ArrayType(FloatType, _)) =>
      Some(arr.toFloatArray().toSeq)
    case _ => None
  }

  /** Every registered parquet relation the child scans, with its catalog
    * entry, in plan order — the caller selects by embedding-column exprId.
    * A relation qualifies only when EVERY rootPath it scans resolves to the
    * SAME registration: with a partially-registered multi-path scan (e.g.
    * `spark.read.parquet(registeredA, unregisteredB)`) the candidate semi
    * join would systematically drop all of B's rows — absent from A's index
    * — which is data loss, not index recall.
    */
  private def registrationsOf(child: LogicalPlan): Seq[(AnnCatalog.Entry, LogicalRelation)] =
    child.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val lookups = lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
          .map(p => AnnCatalog.lookup(spark, p.toString))
        if (lookups.nonEmpty && lookups.forall(_.isDefined) &&
            lookups.flatten.distinct.size == 1)
          lookups.head.map(e => (e, lr))
        else None
    }.flatten
}
