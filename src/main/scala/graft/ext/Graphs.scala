package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge frames the other operators produce — the kNN
  * graph ([[Ann.knnGraph]] / [[Ann.exactTopKAll]]), the duplicate-pair
  * graph ([[Dedup]]), or any (src, dst) relation. New-scope per
  * BASELINE.json: centrality feeds representative-document selection in a
  * curation pipeline (score a corpus by how central each doc is in the
  * semantic graph, keep the heads or re-weight the tails).
  */
object Graphs {

  /** PageRank with a FIXED iteration count — deterministic by
    * construction (no tolerance test whose float comparison could flip a
    * round), so an independent engine unrolling the same recurrence reaches
    * bit-close values and a rounded compare matches.
    *
    * Semantics: directed edges, parallel edges collapsed, self-loops
    * dropped; nodes = endpoints of the edge set. From `r_0(v) = 1/N`,
    * each round `r_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} r_t(u)/outdeg(u)
    * + dangling_t/N)` where `dangling_t` is the rank mass sitting on
    * nodes with no out-edges (redistributed uniformly, the standard
    * stochastic-matrix completion). With `weightCol` set, a node's mass
    * splits by `w/Σw` instead of uniformly (parallel edges sum their
    * weights; non-positive/null weights drop the edge) — e.g. cosine-
    * similarity-weighted centrality over the kNN graph.
    *
    * Scale: per round, ONE (dst) shuffle of skinny (dst, contrib) rows —
    * the edge frame is hash-partitioned on `src` once up front and the
    * per-round rank⋈edges join reuses that exchange on the big side; the
    * dangling term rides as a broadcast 1-row aggregate, never a
    * driver-side action. Lineage is truncated every round (checkpoint if a
    * reliable dir is set, else localCheckpoint) — the O(log-plan) blowup
    * fix [[Dedup.dupClusters]] measured applies identically here. Rounds
    * are O(iterations), independent of graph diameter. At 100 TB the edge
    * frame is the big side and it never moves after the initial partition.
    */
  def pageRank(edges: DataFrame, iterations: Int = 5, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations >= 1")
    require(damping >= 0.0 && damping < 1.0, "0 <= damping < 1")
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    // weighted: parallel edges collapse by SUM of weights, non-positive/null
    // weights drop the edge, and a node's contribution splits by w/Σw —
    // similarity-weighted centrality over the kNN graph. Unweighted:
    // parallel edges collapse to one (max of the constant 1).
    val w = weightCol.map(c => coalesce(col(c).cast("double"), lit(0.0)))
      .getOrElse(lit(1.0))
    val wAgg = if (weightCol.isDefined) sum(col("w")) else max(col("w"))
    val e = truncated(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
      .filter(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(wAgg.as("w"))
      .repartition(col("src")))
    val nodes = truncated(
      e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count()
    require(n > 0, "empty graph")
    val outDeg = truncated(e.groupBy(col("src")).agg(sum(col("w")).as("deg")))
    var rank = truncated(nodes.select(col("id"), lit(1.0 / n).as("rank")))
    // Dangling nodes are a property of the GRAPH, not the round: probe once
    // (one anti-join over two skinny truncated frames) and, when there are
    // none — e.g. a kNN graph, where every node is a query and has exactly k
    // out-edges — skip the per-round dangling subtree (an anti-join + 1-row
    // aggregate + broadcast per iteration) outright. Bit-identical: with no
    // dangling nodes `__dm` is exactly 0.0 and `x + 0.0/n == x` for the
    // strictly-positive rank sums this recurrence produces.
    val hasDangling = !nodes
      .join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti").isEmpty
    for (_ <- 1 to iterations) {
      val contrib = rank.join(outDeg, rank("id") === outDeg("src"))
        .join(e, "src")
        .groupBy(col("dst"))
        .agg(sum(col("rank") * col("w") / col("deg")).as("__in"))
      val next = if (!hasDangling)
        nodes
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
      else {
        // rank mass on dangling nodes (no out-edges), as a 1-row frame so
        // the whole round stays one lazily-planned job
        val dangling = rank.join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
        nodes
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("__in"), lit(0.0)) + col("__dm") / n)).as("rank"))
      }
      val prev = rank
      rank = truncated(next)
      release(prev)
    }
    rank
  }

  // free a superseded round's localCheckpoint blocks (same rationale as
  // Dedup.dupClusters: don't pin O(iterations) rank frames in storage)
  private def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }

  /** Degree report for an edge frame: per node, in-degree, out-degree and
    * total — the quick shape diagnostic next to [[pageRank]] (a node with
    * huge in-degree in the kNN graph is a semantic hub / near-dup magnet).
    * One shuffle per direction on skinny (id, 1) rows.
    */
  def degrees(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        (coalesce(col("in_degree"), lit(0L)) + coalesce(col("out_degree"), lit(0L))).as("degree"))
  }

  /** Weakly-connected components of an edge frame: (id, component) for
    * every node that appears on an edge, component = the node's min id
    * (deterministic canonical label). Edges are treated undirected;
    * isolated nodes (absent from the edge set) are the caller's to union
    * in if needed.
    *
    * Scale: delegates to the alternating-star contraction that
    * [[graft.ext.Dedup.dupClusters]] built for near-dup clustering —
    * O(log n) rounds, each one window + distinct over skinny (s, l) edge
    * rows with per-round lineage truncation and digest-based convergence
    * (no anti-join probes). The 2M-node probe pinned per-round linearity.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst", maxIter: Int = 50): DataFrame =
    Dedup.dupClusters(
        edges.select(col(srcCol).as("id_a"), col(dstCol).as("id_b")), maxIter)
      .select(col("id"), col("cluster").as("component"))

  /** Exact triangle count of the UNDIRECTED simple graph an edge frame
    * induces (direction, parallel edges, and self-loops ignored) — the
    * clustering-coefficient numerator, and the classic density check on a
    * kNN / co-occurrence graph.
    *
    * Scale: the degree-ordered orientation bound (Schank–Wagner 2005 /
    * the MapReduce formulation in Suri–Vassilvitskii 2011): each
    * undirected edge is oriented from its LOWER-(degree, id) endpoint, so
    * every node's out-neighborhood is O(√m) on any graph — the wedge join
    * (out-edges ⋈ out-edges on the pivot) emits Σ outdeg² = O(m^1.5)
    * candidate wedges worst-case instead of the Σ deg² a hub would pay
    * unoriented, then one semi-join against the oriented edge set closes
    * each wedge. Three skinny shuffles total; no driver-side state.
    */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): Long = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient each edge from the lower-(deg, id) endpoint; ties break by id,
    // so the orientation is acyclic and each triangle has exactly ONE wedge
    // whose pivot is its minimum-(deg, id) vertex
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("u"), col("e2.v").as("v"))
    // a wedge (pivot→x, pivot→y) closes iff x→y or y→x is an oriented edge;
    // canonicalize the probe the same way the orientation did NOT — probe
    // both directions via least/greatest on the UNDIRECTED canonical form
    val probe = wedges.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b"))
    probe.join(und, Seq("a", "b"), "left_semi").count()
  }
}
