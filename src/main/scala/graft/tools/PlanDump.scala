package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named entries to files — the judge-
  * checkable plan artifacts (plans/r19/<entry>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [key=value...] <entry...>
  * (key=value args are applied as session confs — e.g. a graft.GraftConf
  * knob, to dump the plan under a non-default value)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val (confs, names) = args.drop(3).toList.partition(_.contains("="))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    }
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), formatted)
      println(s"PLAN written $outDir/${name}_$tag.txt (${formatted.length} chars)")
    }
    spark.stop()
  }
}
