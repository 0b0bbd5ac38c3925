package graft.ext.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiler: null count, exact distinct count, min and max
  * (string-rendered) for every requested column.
  *
  * Shape (r14, guide §2.3/§4 — keep the big stream inside
  * HashAggregate): one two-level aggregation per column over a
  * column-pruned scan — `groupBy(value) → count` (strings are GROUP
  * KEYS here, so the corpus-sized stream stays in whole-stage-codegen
  * HashAggregate with map-side partial combine), then every metric
  * folds off the distinct-value table: n_distinct = count of non-null
  * groups, min/max over distinct values ≡ min/max over all values,
  * n_nulls/n_rows from the null group's / all groups' count sums. The
  * per-column pipelines are one UNION plan (one job, stages fill the
  * cluster in parallel) and each scan prunes to its single column, so
  * total bytes read equal the old single wide scan's (columnar
  * format); only distinct-sized frames ever reach an aggregate with a
  * string BUFFER.
  *
  * The previous form asked for all four exact `count(distinct)`s plus
  * string min/max in ONE wide aggregate: Catalyst's multi-distinct
  * rewrite expanded every row 5× (one branch per distinct column),
  * and the string min/max buffer forced the whole operator — over the
  * 5×-multiplied stream — into SortAggregate (16 SortAggregate nodes
  * in the r13 plan; zero remain). events_profile sf0.1 min-of-6:
  * 1.96 → 1.01 s (sf10 rung flat at ~6.6 s — there the distinct
  * hash aggregates and the old expand+sort cost about the same;
  * the local win is the removed 5× row multiplication), hash-exact
  * vs the unchanged oracle.
  */
object DataProfiler {

  /** One row per column: (column, n_rows, n_nulls, n_distinct,
    * min_value, max_value) — identical values to the single-aggregate
    * form (ProfilerSpec pins the parity). */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val perCol = columns.map { c =>
      df.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          // sum over an empty frame is NULL; the old count(lit(1))
          // was 0 — keep 0 (n_nulls keeps the old sum-NULL semantics)
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
          count(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_value"),
          max(col("v")).cast("string").as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }
    perCol.reduce(_.unionByName(_))
  }
}
