package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension history maintenance: instead of
  * last-write-wins (the upsert sinks' contract), every key keeps its
  * full version history — one row per (key, version) with
  * `valid_from` / `valid_to` batch stamps and an `is_current` flag,
  * so any past state is reconstructable with [[asOf]].
  *
  * Semantics: a batch re-delivering a key CLOSES the key's current
  * row (`valid_to` = incoming version) and appends the new state as
  * the current row. Within a batch the key's latest record wins
  * (explicit total order — ties impossible when the order ends on a
  * unique column).
  *
  * Scale shape: the within-batch latest-per-key is a window
  * partitioned BY KEY (per-key groups, never global); the
  * close-or-keep decision is ONE left join of history against the
  * batch's distinct keys (equi, hash-co-partitioned); the append is a
  * union. No driver state, no windows over the full history, and the
  * history table itself is an ordinary keyed table that the upsert
  * sinks can store partition-pruned.
  */
object Scd2 {

  /** Merge one batch into the history (None = initial load).
    * `ord` orders a key's in-batch records, HIGHEST priority first
    * (e.g. `Seq($"ts".desc, $"event_id".desc)`). Returns the new
    * history frame: same columns as the batch plus
    * (valid_from int, valid_to int-nullable, is_current boolean). */
  def mergeBatch(
      history: Option[DataFrame], batch: DataFrame,
      key: Seq[String], ord: Seq[Column], version: Int): DataFrame = {
    val dataCols = batch.columns.toSeq
    val outCols = dataCols ++ Seq("valid_from", "valid_to", "is_current")
    // the key's latest in-batch record: the first under `ord`
    val incoming = Dedup.firstOccurrence(batch, key.map(col), ord)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("int"))
      .withColumn("is_current", lit(true))
      .select(outCols.map(col): _*)
    history match {
      case None => incoming
      case Some(h) =>
        val hitKeys = incoming.select(key.map(col): _*).distinct()
          .withColumn("__hit", lit(1))
        // one equi join decides close-vs-keep for every history row:
        // a re-delivered key's CURRENT row closes at this version;
        // its older rows and all untouched keys pass through
        val updated = h.join(hitKeys, key, "left")
          .withColumn("valid_to",
            when(col("__hit") === 1 && col("is_current"), lit(version))
              .otherwise(col("valid_to")))
          .withColumn("is_current",
            when(col("__hit") === 1, lit(false)).otherwise(col("is_current")))
          .select(outCols.map(col): _*)
        updated.unionByName(incoming)
    }
  }

  /** Time-travel read: the state of the dimension as of `version`
    * (rows valid at that version). */
  def asOf(history: DataFrame, version: Int): DataFrame =
    history.filter(col("valid_from") <= version &&
      (col("valid_to").isNull || col("valid_to") > version))
}
