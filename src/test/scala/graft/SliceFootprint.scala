package graft

import graft.api.Collection
import graft.exec.Bm25
import graft.index.Stores
import graft.model.BoolQuery
import org.apache.spark.sql.functions._

/** Driver-heap probe for the ranked read's driver arm: how many bytes of
  * driver heap one postings-slice row costs, the figure
  * `Collection.SliceMaxRows` is derived from.
  *
  * {{{
  *   sbt "Test/runMain graft.SliceFootprint [rows]"
  * }}}
  *
  * Builds a collection of `rows` docs (ids `doc-0000000`…, 11 chars) that
  * each hold the term `hot` once, so the slice of the query `hot` is
  * `rows` rows over `rows` docs: one per-doc score entry per slice row, the
  * most score state a row can carry. Then, per round, it measures the
  * heap retained (used heap after full GCs, references held) by the
  * pieces of [[graft.exec.Bm25.driverScores]] that live at the same time:
  *
  *   - `unsafe`: the copied UnsafeRows a collect decodes first, live while
  *     they are converted to Rows;
  *   - `rows`: the collected slice, as `Row`s;
  *   - `state`: the per-doc tf/dl arrays ([[graft.exec.Bm25.perDocTf]]);
  *   - `result`: the (id, rank) pairs ([[graft.exec.Bm25.rankDocs]]).
  *
  * The peak is the larger of `unsafe + rows` (the collect) and
  * `rows + state + result` (the scoring); it prints bytes per slice row
  * for each piece and for the peak.
  */
object SliceFootprint {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val spark = TestSpark.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-footprint-").toString
    val c = Collection(spark, root, "t")
    c.addDf(spark.range(n).select(format_string("doc-%07d", $"id").as("id"),
      concat(lit("hot w"), $"id".cast("string")).as("content")))
    val postings = Stores.readPartition(spark, Stores.postingsDir(root), "t",
      Stores.postingsSchema)
    val leaves = Seq[BoolQuery](BoolQuery.Term("hot"))
    val slice = Bm25.sliceFrame(postings, leaves).limit(n + 1)
    require(slice.count() == n, "every doc holds the term once")

    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def heap(): Long = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      mem.getHeapMemoryUsage.getUsed
    }
    def perRow(bytes: Long): Long = math.round(bytes.toDouble / n)
    val rounds = (1 to 3).map { round =>
      val h0 = heap()
      var internal = slice.queryExecution.executedPlan.executeCollect()
      val unsafe = heap() - h0
      require(internal.length == n)
      internal = null
      val h1 = heap()
      val rows = slice.collect()
      val h2 = heap()
      val state = Bm25.perDocTf(rows, leaves)
      val h3 = heap()
      val result = Bm25.rankDocs(leaves.head, leaves, state, n.toLong, 2.0)
      val h4 = heap()
      require(rows.length == n && state.size == n && result.size == n)
      val (u, r, s, o) = (perRow(unsafe), perRow(h2 - h1), perRow(h3 - h2), perRow(h4 - h3))
      val peak = math.max(u + r, r + s + o)
      println(s"FOOTPRINT round=$round rows=$n unsafe_b=$u rows_b=$r state_b=$s " +
        s"result_b=$o peak_b_per_row=$peak")
      peak
    }
    println(s"FOOTPRINT java=${System.getProperty("java.version")} " +
      s"max_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"median_peak_b_per_row=${rounds.sorted.apply(rounds.size / 2)}")
    spark.stop()
  }
}
