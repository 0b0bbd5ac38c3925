package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is one parquet file under `$sfDir/<name>.parquet`,
  * read once per session with `spark.read.parquet` (events also
  * normalizes its `ts` column) and then served from [[Artifacts]].
  * Catalyst pushes filters and prunes columns down to the scan —
  * callers should `select` / `filter` early and let pushdown do the
  * rest. At 100 TB these would be partitioned parquet/iceberg table
  * roots instead of single files; the API shape (name → DataFrame) is
  * unchanged.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** SQL-first entry point: register every corpus table as a temp
    * view (same names the oracles use) plus the graft native
    * functions, so `spark.sql("SELECT fvec_dot(...) FROM embeddings")`
    * works verbatim. Views are lazy — no data is read here. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
    graft.functions.FloatVectorDot.register(spark)
    graft.functions.SimHash64.register(spark)
    graft.functions.TopKFreq.register(spark)
    graft.plans.GraftTableFunctions.register(spark)
  }

  /** The table as a DataFrame, held in [[Artifacts]] per (session,
    * dir, table): `spark.read.parquet` builds a fresh relation per call
    * — file listing + footer schema read, a driver-side job before
    * every query even touches data, paid 125×2 times per bench run for
    * the same ten files. A catalog table reads its metadata once per
    * session; this is that posture for the path-based corpus (the
    * DataFrame handle is reused — every EXECUTION still scans the
    * parquet files, nothing result-shaped is cached). The entry carries
    * no snapshot token: corpus dirs are immutable within a session
    * (generators write before any read; upsert scratch never goes
    * through Tables). It lives until the session's SparkContext ends
    * or [[Artifacts.clear]]. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.get(spark, "table", (sfDir, name))(build(spark, sfDir, name))

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name != "events")
      return spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts has shipped in two physical shapes: TIMESTAMP(NANOS)
    // (which Spark can only read as raw long nanos via the legacy
    // flag) and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
    // (which Spark reads as TIMESTAMP_NTZ). Normalize BOTH to
    // session-UTC TimestampType so every downstream plan and the
    // Verify parquet dumps keep one schema regardless of which
    // generator wrote the corpus: long nanos floor-convert to µs
    // (the truncation DuckDB applies too), NTZ casts value-exact
    // because the session timezone is pinned to UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", raw("ts").cast(TimestampType))
    }
  }
}
