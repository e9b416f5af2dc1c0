package graft.ext

import org.apache.spark.sql.DataFrame

/** Naming discipline for operator temporaries that ride on a CALLER-supplied
  * frame. Most operators isolate their working columns behind an internal
  * projection, where no collision is possible; the few that decorate the
  * caller's frame in place (dedupAgainst's hash, shuffleShards' rank key,
  * repetition's token count, stripDuplicateSpans' token scratch) must not
  * silently replace-and-drop a caller column that happens to share the
  * `__`-prefixed name.
  */
private[graft] object WorkingColumns {

  /** A working-column name that does not collide with any column of `df`:
    * `base` itself when free, else `base1`, `base2`, … Collision test is
    * case-INsensitive: Spark resolves column names case-insensitively by
    * default, so a caller column `__PREV` would otherwise be silently
    * replaced by a withColumn("__prev", …).
    */
  def fresh(df: DataFrame, base: String): String = {
    def taken(n: String) = df.columns.exists(_.equalsIgnoreCase(n))
    if (!taken(base)) base
    else Iterator.from(1).map(i => s"$base$i").find(n => !taken(n)).get
  }

  /** Spread a NARROW frame across the session's cores before a CPU-heavy
    * per-row kernel (r19 opt, guide §2 "make partitioning scale-adaptive"):
    * byte-based AQE coalescing and small single-row-group parquet both
    * leave few-partition inputs whose tokenize/shingle/hash work then runs
    * on one core. Fires ONLY when the input is narrower than the session's
    * parallelism — at real scale the input has >= cores partitions and
    * this is the identity; when it fires, the shuffled mass is small by
    * the same condition. Callers must not depend on row order (every
    * user below is set-semantics: dedup, banding, line aggregation).
    */
  def respread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
