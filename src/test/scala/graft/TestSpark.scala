package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the session confs `kvs` set, then restores each
    * key's previous value (or unsets it), also when `body` throws.
    */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (action name, executed plan) of every Dataset action `f` runs, in
    * order. The listener is fed asynchronously but in order, so a marker
    * action's event arriving proves every earlier event has.
    */
  def actionsOf(f: => Unit): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe.executedPlan.toString))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add((s"FAIL:$funcName", exception.toString))
    }
    def marked = seen.asScala.exists(_._2.contains("__marker"))
    spark.listenerManager.register(ql)
    try {
      f
      spark.range(0, 1, 1, 1).toDF("__marker").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "marker action never reached the listener")
    } finally spark.listenerManager.unregister(ql)
    seen.asScala.toSeq.filterNot(_._2.contains("__marker"))
  }
}
