package graft

import org.apache.spark.sql.SparkSession

/** The engine's session knobs: every `spark.graft.*` key the library reads,
  * with its default and valid range. A set value outside the range (or one
  * that does not parse) throws an IllegalArgumentException naming the key
  * and the value, at the first read that would have used it. Booleans parse
  * case-insensitively, like Spark's own confs.
  */
private[graft] object GraftConf {

  /** Target bytes per file for range-partitioned store rewrites. */
  def rangeTargetBytes(spark: SparkSession): Long =
    long(spark, "spark.graft.store.rangeTargetBytes", 16L << 20, min = 1)

  /** Partitions at or below this size take the merge-rewrite upsert path;
    * larger ones get delta appends (0 = always append deltas).
    */
  def directUpsertMaxBytes(spark: SparkSession): Long =
    long(spark, "spark.graft.store.directUpsertMaxBytes", 64L << 20, min = 0)

  /** `false` defers delta folding entirely to explicit `compact()` calls. */
  def compactAuto(spark: SparkSession): Boolean =
    bool(spark, "spark.graft.compact.auto", default = true)

  /** Largest IVF training sample (vectors) trained on the driver. */
  def driverTrainMaxVecs(spark: SparkSession): Int =
    long(spark, "spark.graft.ivf.driverTrainMaxVecs", 1L << 17, min = 1,
      max = Int.MaxValue).toInt

  /** Largest IVF training sample (maxSample × dim × 4 B) trained on the driver. */
  def driverTrainMaxBytes(spark: SparkSession): Long =
    long(spark, "spark.graft.ivf.driverTrainMaxBytes", 256L << 20, min = 1)

  /** `false` opts the session out of the ANN planner rewrite. */
  def annRewrite(spark: SparkSession): Boolean =
    bool(spark, "spark.graft.ann.rewrite", default = true)

  private def read[T](spark: SparkSession, key: String, default: T, valid: String)
                     (parse: String => Option[T]): T =
    spark.conf.getOption(key).fold(default) { raw =>
      parse(raw.trim).getOrElse(
        throw new IllegalArgumentException(s"$key must be $valid, got '$raw'"))
    }

  private def long(spark: SparkSession, key: String, default: Long, min: Long,
                   max: Long = Long.MaxValue): Long = {
    val valid = if (max == Long.MaxValue) s"an integer >= $min" else s"an integer in [$min, $max]"
    read(spark, key, default, valid)(_.toLongOption.filter(v => v >= min && v <= max))
  }

  private def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    read(spark, key, default, "true or false")(_.toBooleanOption)
}
