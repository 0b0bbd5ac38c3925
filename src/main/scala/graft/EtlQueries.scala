package graft

import graft.config.{ColumnSpec, EntitySchema}
import graft.operators.{Dedup, EntitySplit, KeyGen, Normalize}
import graft.sinks.ParquetUpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Correctness-gate queries that exercise the ETL-core operators
  * (SURVEY.md §2) over the driver's `events` table, each with a DuckDB
  * oracle replicating the exact semantics.
  *
  * The `events` table plays the role of the reference's event stream:
  * `event_type` is the entity discriminator (P-4), `(user_id, ts)` the
  * surrogate-key columns (R-1), and the flat columns the normalize
  * contract (P-1..P-3).
  */
object EtlQueries {

  /** Events re-declared in the reference's schema dialect: the same
    * ColumnSpec machinery the ETL jobs use (flat paths here). */
  private val eventsSchema = EntitySchema(
    entity = "event",
    targetTable = "events_normalized",
    columns = Seq(
      ColumnSpec("event_id", "event_id", "bigint", isKey = true),
      ColumnSpec("ts", "event_timestamp", "timestamp", isKey = false),
      ColumnSpec("user_id", "user_id", "bigint", isKey = false),
      ColumnSpec("event_type", "event_operation", "string", isKey = false),
      ColumnSpec("value", "event_value", "float", isKey = false),
      ColumnSpec("props", "props_json", "string", isKey = false)))

  private val knownEntities = Seq("click", "view", "purchase", "signup")

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** P-1/P-2/P-3: schema-driven projection+cast+rename+trim. */
  private def qNormalize(s: SparkSession, dir: String): DataFrame =
    Normalize(events(s, dir), eventsSchema).orderBy(col("event_id"))

  private val qNormalizeSql =
    """SELECT CAST(event_id AS BIGINT) AS event_id,
      |  CAST(ts AS TIMESTAMP) AS event_timestamp,
      |  CAST(user_id AS BIGINT) AS user_id,
      |  TRIM(CAST(event_type AS VARCHAR)) AS event_operation,
      |  CAST(value AS DOUBLE) AS event_value,
      |  TRIM(CAST(props AS VARCHAR)) AS props_json
      |FROM events ORDER BY event_id""".stripMargin

  /** R-1: deterministic surrogate key, byte-equal to the reference's
    * concat→sha256→uuid chain (pandas str() rendering of timestamps). */
  private def qKeygen(s: SparkSession, dir: String): DataFrame =
    KeyGen.withKey(events(s, dir), Seq("user_id" -> LongType, "ts" -> TimestampType))
      .select(col("event_id"), col(KeyGen.columnName))
      .orderBy(col("event_id"))

  private val qKeygenSql =
    """WITH h AS (
      |  SELECT event_id,
      |    sha256(CAST(user_id AS VARCHAR) ||
      |      CASE WHEN strftime(ts, '%f') = '000000'
      |           THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
      |           ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END) AS hx
      |  FROM events)
      |SELECT event_id,
      |  substr(hx,1,8) || '-' || substr(hx,9,4) || '-' || substr(hx,13,4) ||
      |    '-' || substr(hx,17,4) || '-' || substr(hx,21,12) AS event_generated_id
      |FROM h ORDER BY event_id""".stripMargin

  /** R-2: first-occurrence dedup by (user_id, event_type), "first" =
    * lowest event_id (deterministic arrival order). */
  private def qDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.firstOccurrence(events(s, dir),
      Seq(col("user_id"), col("event_type")), Seq(col("event_id")))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy(col("event_id"))

  private val qDedupSql =
    """SELECT event_id, user_id, event_type, value FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
      |ORDER BY event_id""".stripMargin

  /** P-4: entity split — one entity's frame from the shared scan. */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    EntitySplit(events(s, dir), "event_type", knownEntities)("click")
      .select("event_id", "user_id", "value")
      .orderBy(col("event_id"))

  private val qSplitSql =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'click' ORDER BY event_id""".stripMargin

  /** P-4 rejects: unknown discriminator values are counted, not fatal. */
  private def qSplitRejects(s: SparkSession, dir: String): DataFrame =
    EntitySplit.rejects(events(s, dir), "event_type", knownEntities)
      .agg(count(lit(1)).as("n_rejects"))

  private val qSplitRejectsSql =
    """SELECT COUNT(*) AS n_rejects FROM events
      |WHERE event_type IS NULL
      |   OR event_type NOT IN ('click','view','purchase','signup')""".stripMargin

  /** K-2 upsert round-trip: split events into even/odd halves by
    * event_id, upsert sequentially into a scratch table, read back.
    * `orderCol = event_id` makes within-batch "last" explicit, so the
    * final state is a pure function of the input: per key, the odd
    * (second-batch) event with the highest event_id wins, else the
    * highest even one — expressible as a DuckDB QUALIFY oracle. */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    // cache: both batch upserts scan the keyed frame — without the
    // barrier the events read + sha2 keygen run once per batch
    val base = KeyGen.withKey(events(s, dir),
      Seq("user_id" -> LongType, "ts" -> TimestampType))
      .select(col(KeyGen.columnName), col("event_id"), col("user_id"), col("value"))
      .cache()
    try {
      // reusableDir: each rep re-materializes a full events-sized table;
      // with JVM-lifetime dirs the bench ladder accumulated one table
      // copy per rep per rung and filled the disk at sf100 (the
      // partitioned twin died in a shuffle spill, "No space left on
      // device") — wipe-at-call bounds disk to one live copy
      val scratch = graft.tools.Scratch.reusableDir("graft_upsert") + "/t"
      val batch1 = base.filter(col("event_id") % 2 === 0)
      val batch2 = base.filter(col("event_id") % 2 === 1)
      ParquetUpsertSink.upsert(s, batch1, scratch, KeyGen.columnName, orderCol = Some("event_id"))
      ParquetUpsertSink.upsert(s, batch2, scratch, KeyGen.columnName, orderCol = Some("event_id"))
      s.read.parquet(scratch).orderBy(col("event_id"))
    } finally base.unpersist()
  }

  /** Shared oracle body for the upsert queries: the reference's
    * last-write-wins per key over the two sequential batches.
    * `hCols` is the extra select list in the base CTE (computed from
    * ts), `outCols` the corresponding pass-through names downstream. */
  private def upsertQualifySql(hCols: String, outCols: String): String =
    s"""WITH h AS (
      |  SELECT event_id, user_id, value,$hCols
      |    sha256(CAST(user_id AS VARCHAR) ||
      |      CASE WHEN strftime(ts, '%f') = '000000'
      |           THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
      |           ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END) AS hx
      |  FROM events),
      |k AS (
      |  SELECT substr(hx,1,8) || '-' || substr(hx,9,4) || '-' || substr(hx,13,4) ||
      |    '-' || substr(hx,17,4) || '-' || substr(hx,21,12) AS event_generated_id,
      |    event_id, user_id, value$outCols
      |  FROM h)
      |SELECT event_generated_id, event_id, user_id, value$outCols FROM k
      |QUALIFY row_number() OVER (PARTITION BY event_generated_id
      |  ORDER BY (event_id % 2) DESC, event_id DESC) = 1
      |ORDER BY event_id""".stripMargin

  private val qUpsertSql = upsertQualifySql("", "")

  /** K-2 at scale: [[ParquetUpsertSink.upsert]]'s hive-partitioned
    * form (only the partitions present in the batch are picked,
    * staged and promoted, each through the sink's one per-unit
    * commit). Partitioning by `event_date = date(ts)` — derived from
    * a key column, so keys can never move partitions and the
    * immutable-partition contract holds. */
  private def qUpsertPartitioned(s: SparkSession, dir: String): DataFrame = {
    val base = KeyGen.withKey(events(s, dir),
      Seq("user_id" -> LongType, "ts" -> TimestampType))
      .select(col(KeyGen.columnName), col("event_id"), col("user_id"), col("value"),
        to_date(col("ts")).as("event_date"))
      .cache()
    try {
      val scratch = graft.tools.Scratch.reusableDir("graft_upsert_part") + "/t"
      val batch1 = base.filter(col("event_id") % 2 === 0)
      val batch2 = base.filter(col("event_id") % 2 === 1)
      Seq(batch1, batch2).foreach(b => ParquetUpsertSink.upsert(s, b, scratch,
        KeyGen.columnName, orderCol = Some("event_id"), partitionCol = Some("event_date")))
      s.read.parquet(scratch)
        .select(col(KeyGen.columnName), col("event_id"), col("user_id"), col("value"),
          col("event_date"))
        .orderBy(col("event_id"))
    } finally base.unpersist()
  }

  private val qUpsertPartitionedSql =
    upsertQualifySql(" CAST(ts AS DATE) AS event_date,", ", event_date")

  /** Data-quality gate over events (graft.ext.profile.Expectations —
    * the Deequ-style suite): five row-level constraints as
    * conditional counts in ONE aggregation pass plus the key-
    * uniqueness set check. A deliberately violated range bound keeps
    * the failure path honest (one check must report violations). */
  private def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.profile.Expectations._
    validate(
      events(s, dir),
      Seq(
        notNull("event_id_not_null", col("event_id")),
        notNull("user_id_not_null", col("user_id")),
        inSet("event_type_known", col("event_type"),
          Seq("click", "view", "purchase", "error", "signup")),
        inRange("ts_in_window", col("ts"),
          lit("2024-01-01 00:00:00").cast("timestamp"),
          lit("2024-01-31 23:59:59.999999").cast("timestamp")),
        // deliberately tight bound: values run ~0..100, so this check
        // FAILS and proves violations are counted, not just zeros
        inRange("value_under_50", col("value"), lit(0.0), lit(50.0))),
      uniqueKey = Some(("event_id_unique", col("event_id"))))
  }

  private val qExpectationsSql =
    """WITH agg AS (
      |  SELECT
      |    SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS c_event_id_not_null,
      |    SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS c_user_id_not_null,
      |    SUM(CASE WHEN event_type IS NULL
      |             OR event_type NOT IN ('click','view','purchase','error','signup')
      |        THEN 1 ELSE 0 END) AS c_event_type_known,
      |    SUM(CASE WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-01 00:00:00'
      |             OR ts > TIMESTAMP '2024-01-31 23:59:59.999999'
      |        THEN 1 ELSE 0 END) AS c_ts_in_window,
      |    SUM(CASE WHEN value IS NULL OR value < 0.0 OR value > 50.0
      |        THEN 1 ELSE 0 END) AS c_value_under_50,
      |    COUNT(*) - COUNT(DISTINCT event_id) AS c_event_id_unique,
      |    COUNT(*) AS n
      |  FROM events)
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      |  CAST(n AS BIGINT) AS n_rows, n_violations = 0 AS pass
      |FROM (
      |  SELECT 'event_id_not_null' AS check_name, c_event_id_not_null AS n_violations, n FROM agg
      |  UNION ALL SELECT 'user_id_not_null', c_user_id_not_null, n FROM agg
      |  UNION ALL SELECT 'event_type_known', c_event_type_known, n FROM agg
      |  UNION ALL SELECT 'ts_in_window', c_ts_in_window, n FROM agg
      |  UNION ALL SELECT 'value_under_50', c_value_under_50, n FROM agg
      |  UNION ALL SELECT 'event_id_unique', c_event_id_unique, n FROM agg)
      |ORDER BY check_name""".stripMargin

  /** Type-2 history twin of the upsert contract (operators/Scd2):
    * the same two-batch replay as etl_upsert, but keyed on user_id so
    * keys genuinely re-deliver across batches — batch 1 (even
    * event_ids) loads each user's latest state, batch 2 (odd) closes
    * it and appends the new current row. Verifies close stamps,
    * pass-through of non-redelivered keys, and the is_current flag;
    * the oracle rebuilds the history from scratch with one window
    * (valid_to = next version per user). */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("ts"))
      .cache()
    try {
      val ord = Seq(col("ts").desc, col("event_id").desc)
      val h1 = graft.operators.Scd2.mergeBatch(None,
        base.filter(col("event_id") % 2 === 0), Seq("user_id"), ord, 1)
      val h2 = graft.operators.Scd2.mergeBatch(Some(h1),
        base.filter(col("event_id") % 2 === 1), Seq("user_id"), ord, 2)
      h2.select(col("user_id"), col("event_id"), col("value"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    } finally base.unpersist()
  }

  private val qScd2Sql =
    """WITH b AS (
      |  SELECT event_id, user_id, value, ts,
      |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS batch
      |  FROM events),
      |latest AS (
      |  SELECT * FROM b
      |  QUALIFY row_number() OVER (PARTITION BY user_id, batch
      |    ORDER BY ts DESC, event_id DESC) = 1),
      |hist AS (
      |  SELECT user_id, event_id, value,
      |    CAST(batch AS INT) AS valid_from,
      |    CAST(lead(batch) OVER (PARTITION BY user_id ORDER BY batch) AS INT) AS valid_to
      |  FROM latest)
      |SELECT user_id, event_id, value, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM hist ORDER BY user_id, valid_from""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_scd2_history"       -> (qScd2 _),
    "etl_expectations"       -> (qExpectations _),
    "etl_normalize"          -> (qNormalize _),
    "etl_keygen"             -> (qKeygen _),
    "etl_dedup_first"        -> (qDedup _),
    "etl_entity_split"       -> (qSplit _),
    "etl_split_rejects"      -> (qSplitRejects _),
    "etl_upsert"             -> (qUpsert _),
    "etl_upsert_partitioned" -> (qUpsertPartitioned _))

  val oracles: Map[String, String] = Map(
    "etl_scd2_history"       -> qScd2Sql,
    "etl_expectations"       -> qExpectationsSql,
    "etl_normalize"          -> qNormalizeSql,
    "etl_keygen"             -> qKeygenSql,
    "etl_dedup_first"        -> qDedupSql,
    "etl_entity_split"       -> qSplitSql,
    "etl_split_rejects"      -> qSplitRejectsSql,
    "etl_upsert"             -> qUpsertSql,
    "etl_upsert_partitioned" -> qUpsertPartitionedSql)
}
