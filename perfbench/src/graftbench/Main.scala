package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.parse.QueryParser
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Line protocol on stdout, read by run.py:
  *   METRIC <name> <value> <unit>   every measured figure
  *   INFO <name> <text>             context (tail percentile, dominant layer)
  *   FAIL <kind> <detail>           a failed operation or output check
  *   RESULT <json>                  the run's summary, printed last
  */
object Out {
  def metric(name: String, value: Double, unit: String): Unit = println(s"METRIC $name $value $unit")
  def info(name: String, text: String): Unit = println(s"INFO $name ${text.replaceAll("\\s+", " ")}")
  def fail(kind: String, detail: String): Unit = println(s"FAIL $kind ${detail.replaceAll("\\s+", " ").take(300)}")

  /** Runs an untimed step and reports its wall time as an INFO line. */
  def step[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally info(s"step.$label", f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }
}

/** Command line: --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--param key=value ...]. Sizes arrive as params from workloads.json.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, params: Map[String, String]) {
  def int(k: String): Int = params.getOrElse(k, sys.error(s"missing --param $k")).toInt
  def double(k: String): Double = params.getOrElse(k, sys.error(s"missing --param $k")).toDouble
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => (k, v) }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"missing $k"))
    Args(one("--workload"), one("--seed").toLong, one("--seconds").toDouble, one("--trace") == "1",
      Paths.get(one("--work")),
      kv.collect { case ("--param", p) => p.split("=", 2) match { case Array(a, b) => a -> b } }.toMap)
  }
}

/** State shared by a run: the session, the call log and the failure count. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val calls = ArrayBuffer[Call]()
  var attempted = 0L
  var failed = 0L
  val trace: Option[Trace] = if (args.trace) Some(new Trace(spark)) else None
  val embedder = new HashEmbedder(64)
  val corpus = new Corpus(args.seed, args.int("vocab"))
  /** Benchmark-side work inside setup (generation, staging, oracle) — not
    * part of setup_s. */
  var excludedNs = 0L

  def excluded[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally excludedNs += System.nanoTime() - t0
  }

  /** Times one call into the engine's public API. */
  def call[A](kind: String, write: Boolean, timed: Boolean, userBytes: Long = 0L,
              parseUs: Double = -1.0)(f: => A): A = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    calls += Call(kind, write, timed, s, System.currentTimeMillis(), ms, userBytes, parseUs)
    r
  }

  /** Time of the engine's own query parse of `q`, in microseconds, measured
    * outside the engine call — only when tracing. */
  def parseTime(q: String): Double =
    if (trace.isEmpty) -1.0
    else {
      val t0 = System.nanoTime()
      QueryParser.parse(q)
      (System.nanoTime() - t0) / 1e3
    }

  /** One timed operation of the loop: an exception or a failed output check
    * counts as a failure and is reported; the loop goes on.
    */
  def op(kind: String, write: Boolean)(run: => Option[String]): Unit = {
    attempted += 1
    val problem =
      try run
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    problem.foreach { p => failed += 1; Out.fail(kind, p) }
  }

  def root(name: String): String = {
    val p = args.work.resolve("roots").resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  def stageDir(name: String): String = args.work.resolve("stage").resolve(name).toString
}

/** A workload: set-up (measured as setup_s), then timed rounds until the
  * run's seconds are spent, then the end-of-run checks.
  */
trait Workload {
  def warmup(): Unit
  def setup(): Unit
  /** One round of timed operations. */
  def round(r: Int): Unit
  def finish(): Unit
  /** Bytes under the collection root and user bytes of the live docs. */
  def space(): (Long, Long)
  /** Per-layer figures only this workload knows (build-step times, deltas). */
  def layerMetrics(): Seq[(String, Double, String)]
}

object Main {
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixed range + shuffle + aggregate job graft.Bench uses to stamp
    * how fast the host was during the run. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(20000000L)
      .select((col("id") % 997).as("k"), col("id"))
      .groupBy("k").agg(sum(col("id")).as("s"))
      .agg(sum(col("s"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session(args.int("cpus"), args.work)
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Args): Unit = {
    val ctx = new Ctx(spark, args)
    ctx.trace.foreach(_.start())
    val w: Workload = args.workload match {
      case "search" => new SearchWorkload(ctx)
      case "churn" => new ChurnWorkload(ctx)
      case "build" => new BuildWorkload(ctx)
      case "cds-train" => new SearchWorkload(ctx) // records the CDS class list: warm-ups of the benchmarked workloads
      case other => sys.error(s"unknown workload $other")
    }
    def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sessionS = uptimeS
    w.warmup()
    if (args.workload == "cds-train") {
      new BuildWorkload(ctx).warmup()
      return
    }
    val warmS = uptimeS - sessionS
    w.setup()
    val setupS = uptimeS - ctx.excludedNs / 1e9
    Out.metric("setup.session_s", sessionS, "s")
    Out.metric("setup.warmup_s", warmS, "s")
    Out.metric("setup.collection_s", setupS - sessionS - warmS, "s")
    Out.metric("setup.excluded_s", ctx.excludedNs / 1e9, "s")
    val calib = calibrate(spark)

    val loop0 = System.nanoTime()
    val deadline = loop0 + (args.seconds * 1e9).toLong
    val roundMs = ArrayBuffer[Double]()
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      val before = ctx.calls.size
      w.round(r)
      roundMs += ctx.calls.drop(before).filter(_.timed).map(_.wallMs).sum
      r += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    w.finish()
    val (rootBytes, userBytes) = w.space()
    val spaceAmp = rootBytes.toDouble / userBytes

    val reads = ctx.calls.filter(c => c.timed && !c.isWrite).map(_.wallMs).toSeq
    val writes = ctx.calls.filter(c => c.timed && c.isWrite).map(_.wallMs).toSeq
    val readTail = Stats.tail(reads)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("read_tail_ms", readTail.value, "ms"),
      ("round_ms", Stats.median(roundMs.toSeq), "ms"),
      ("space_amp", spaceAmp, "ratio"))
    val extra = Seq(
      ("fail_ratio", ctx.failed.toDouble / ctx.attempted, "ratio"),
      ("read_qps", reads.size / loopS, "1/s"),
      ("host.calib_s", calib, "s"),
      ("loop_s", loopS, "s"),
      ("rounds", r.toDouble, "count")) ++
      (if (writes.isEmpty) Nil
       else {
         val wt = Stats.tail(writes)
         Out.info("write_tail", f"p${wt.percentile}%.1f of ${wt.samples} writes, ${wt.beyond} beyond, rule met: ${wt.ruleMet}")
         Seq(("write_p50_ms", Stats.median(writes), "ms"), ("write_tail_ms", wt.value, "ms"))
       })
    Out.info("read_tail", f"p${readTail.percentile}%.1f of ${readTail.samples} reads, ${readTail.beyond} beyond, rule met: ${readTail.ruleMet}")
    (e2e ++ extra).foreach { case (n, v, u) => Out.metric(n, v, u) }

    val reported: Seq[(String, Double, String)] = ctx.trace match {
      case None => e2e
      case Some(t) =>
        val layers = Layers.report(ctx, t, w.layerMetrics(), calib)
        layers.foreach { case (n, v, u) => Out.metric(n, v, u) }
        layers
    }
    val metricsJson = reported.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metricsJson}""")
  }
}

/** The traced run's per-layer figures (means per call unless named p50). */
object Layers {
  def report(ctx: Ctx, t: Trace, own: Seq[(String, Double, String)],
             calib: Double): Seq[(String, Double, String)] = {
    t.stop()
    val reads = ctx.calls.filter(c => c.timed && !c.isWrite).toSeq
    val writes = ctx.calls.filter(_.isWrite).toSeq
    val rs = reads.map(t.split)
    val ws = writes.map(t.split)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime.max(0L)).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val parseUs = reads.map(_.parseUs).filter(_ >= 0)
    if (parseUs.nonEmpty) Out.metric("parse.parse_us", Stats.median(parseUs), "us")

    // dominant layer over the timed loop: where most of the call time went
    val all = ctx.calls.filter(_.timed).map(c => (c, t.split(c))).toSeq
    val byLayer = Seq(
      "api (driver-side)" -> all.map(_._2.driverMs).sum,
      "plans (Catalyst)" -> all.map(s => s._2.analysisMs + s._2.optimizerMs + s._2.planningMs).sum,
      "exec (stages running)" -> all.map(s => s._2.jobMs - s._2.schedGapMs).sum,
      "exec (scheduling gaps)" -> all.map(_._2.schedGapMs).sum)
    val totalMs = all.map(_._1.wallMs).sum
    Out.info("dominant_layer", byLayer.maxBy(_._2)._1 + " — " + byLayer.map { case (n, v) =>
      f"$n ${100 * v / math.max(totalMs, 1e-9)}%.1f%%" }.mkString(", "))
    reads.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      Out.metric(s"exec.kind.$k.p50_ms", Stats.median(cs.map(_.wallMs)), "ms")
      Out.metric(s"exec.kind.$k.n", cs.size.toDouble, "count")
    }
    val userBytes = writes.map(_.userBytes).sum
    Seq(
      ("api.driver_ms.read", mean(rs.map(_.driverMs)), "ms"),
      ("api.driver_ms.write", mean(ws.map(_.driverMs)), "ms"),
      ("api.jobs.read", mean(rs.map(_.jobs.toDouble)), "count"),
      ("api.jobs.write", mean(ws.map(_.jobs.toDouble)), "count"),
      ("plans.analysis_ms.read", mean(rs.map(_.analysisMs)), "ms"),
      ("plans.optimizer_ms.read", mean(rs.map(_.optimizerMs)), "ms"),
      ("plans.planning_ms.read", mean(rs.map(_.planningMs)), "ms"),
      ("plans.analysis_ms.write", mean(ws.map(_.analysisMs)), "ms"),
      ("plans.optimizer_ms.write", mean(ws.map(_.optimizerMs)), "ms"),
      ("plans.planning_ms.write", mean(ws.map(_.planningMs)), "ms"),
      ("exec.job_ms", mean(rs.map(_.jobMs)), "ms"),
      ("exec.sched_gap_ms", mean(rs.map(_.schedGapMs)), "ms"),
      ("exec.tasks", mean(rs.map(_.tasks.toDouble)), "count"),
      ("exec.executor_cpu_ms", mean(rs.map(_.cpuMs)), "ms"),
      ("exec.shuffle_bytes", mean(rs.map(_.shuffleBytes.toDouble)), "bytes"),
      ("index.write_amp", ws.map(_.bytesWritten).sum.toDouble / math.max(userBytes, 1L), "ratio"),
      ("index.files_written", mean(ws.map(_.filesWritten.toDouble)), "count"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB"),
      ("host.calib_s", calib, "s"),
      ("trace.wall_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3, "s"),
      ("trace.read_p50_ms", Stats.median(reads.map(_.wallMs)), "ms")) ++ own
  }
}
