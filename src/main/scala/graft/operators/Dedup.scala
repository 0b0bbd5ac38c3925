package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact dedup by key in first-occurrence order (reference op R-2,
  * `src/helper/helper.py:148`: `drop_duplicates` keeps the first row
  * in file order).
  *
  * [[firstOccurrence]] keeps the first row per key under an explicit
  * ordering via `row_number()`: one shuffle by key plus a per-key
  * sort, planned as a window group limit. The repo's one per-key pick:
  * [[Scd2.mergeBatch]] keeps a key's latest in-batch record with it,
  * [[graft.sinks.ParquetUpsertSink.prepare]] the incoming row per key.
  */
object Dedup {

  def firstOccurrence(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
