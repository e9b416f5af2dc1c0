package graft.exec

import graft.model.SortKey
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** order_by + limit/offset semantics of the reference.
  *
  * NULLS placement (src/sifts/core.py:312-315): DESC => NULLS FIRST,
  * ASC => NULLS LAST — docs without the metadata key land LAST ascending and
  * FIRST descending (test_sqlite.py:163-186). Spark's defaults are the
  * opposite on BOTH directions (asc_nulls_first / desc_nulls_last), so the
  * explicit variants are mandatory here.
  */
object Sorter {

  def sortColumns(metadata: Column, keys: Seq[SortKey], tieBreak: Seq[Column] = Nil): Seq[Column] = {
    val metaCols = keys.map { k =>
      val c = metadata.getItem(k.field)
      if (k.descending) c.desc_nulls_first else c.asc_nulls_last
    }
    metaCols ++ tieBreak
  }
}

/** limit/offset with the reference's truthiness quirk: `limit=0` (or <0)
  * means UNLIMITED, ditto offset (src/sifts/core.py:327-333, pinned by
  * test_sqlite.py:205-207). Spark 4 has a native `Dataset.offset` —
  * `GlobalLimit`/`Offset` nodes, no row_number fallback needed.
  */
object Paginator {
  def apply(df: DataFrame, limit: Int, offset: Int): DataFrame = {
    val off = if (offset > 0) df.offset(offset) else df
    if (limit > 0) off.limit(limit) else off
  }
}
