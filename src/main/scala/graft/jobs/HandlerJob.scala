package graft.jobs

import java.sql.Timestamp
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit}

import graft.config.EntitySchema
import graft.meta.{HandlerExecution, MonitorStore}
import graft.operators.{EntitySplit, KeyGen, Normalize}
import graft.sinks.ParquetUpsertSink
import graft.sources.JsonLinesSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try
import scala.util.control.NonFatal

/** Handler (reference entry point 3, `src/handler/handler.py`):
  * locate the staged batch for a workflow, split it by entity,
  * normalize and key each entity, and upsert into its warehouse
  * table, with per-entity error isolation and an audit row per
  * run×entity.
  *
  * [[run]] finds the batch as the reference does: the workflow's
  * ingestor row names the staged path (A-2), read with the
  * landing-record shape the ingestor wrote it with
  * ([[JsonLinesSource.recordStruct]], no inference job). `Executor`'s
  * `--step all` hands a small hour's landing read
  * ([[JsonLinesSource.read]], the frame the staging is written from)
  * straight to the same body, [[upsert]], with the ingestor's stage
  * step as the barrier before the first commit. Each entity is one
  * lazy plan (filter → normalize → keygen) handed to the upsert, whose
  * keyed pick is the only per-key dedup (reference op R-2). Nothing is
  * cached, so each entity's scans read only its own columns. An
  * entity's audit count is the batch rows the upsert's pick kept,
  * which costs no job.
  *
  * The order, strictly: the precheck and the batch on the calling
  * thread; then each entity's plan, quality gate and
  * [[ParquetUpsertSink.prepare]] (the keyed pick and its staged write)
  * on a pool thread of its own, so one entity's Spark jobs and driver
  * gaps overlap the other's, and the barrier's; only once the barrier
  * has returned does the calling thread take the entities in schema
  * order: it waits for the entity's prepare, commits it (the promote)
  * and appends its audit row. Unlike the reference's loop the entities
  * run side by side, but every monitor-store call stays on the calling
  * thread, in the sequential loop's order, so audit rows land in
  * schema order. Each entity writes its own table (checked up front):
  * two prepares into one table would share its staging.
  *
  * Per-entity failure, in the prepare or the commit, is caught so one
  * entity's bad batch never blocks the others — the reference's
  * contract (`handler.py:91-100`). A failed barrier or fatal JVM
  * error (out of memory, interrupts) is not a per-entity failure: the
  * handler stops, waits for the prepares still in flight and rethrows
  * it, and the remaining entities are not committed. What they staged
  * stays invisible: a staging with no backup is dropped by the next
  * upsert's [[ParquetUpsertSink.recover]].
  */
object HandlerJob {

  private val log = Log(getClass)

  case class Result(recordsInserted: Map[String, Long], failures: Map[String, String])

  /** The core semantic pipeline for one entity, exposed for tests:
    * normalize → keygen. The per-key dedup is the upsert's. */
  def entityPipeline(raw: DataFrame, schema: EntitySchema): DataFrame =
    KeyGen(Normalize(raw, schema), schema)

  /** Optional data-quality gate evaluated on each entity's keyed
    * frame (every row of its batch, before the upsert's dedup, so a
    * superset of the rows promoted): checks that fail BLOCK that
    * entity's promotion — the write never happens and the violation
    * report lands in the monitor store's error column, exactly like
    * any other per-entity failure (other entities proceed). Built
    * from [[graft.ext.profile.Expectations]]. */
  case class QualityGate(checks: Seq[graft.ext.profile.Expectations.Check])

  final class QualityGateViolation(report: String)
    extends RuntimeException(s"quality gate failed: $report")

  private def enforceGate(keyed: DataFrame, gate: QualityGate): Unit = {
    val failed = graft.ext.profile.Expectations.validate(keyed, gate.checks)
      .filter(!org.apache.spark.sql.functions.col("pass"))
      .collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}/${r.getLong(2)}")
    if (failed.nonEmpty) throw new QualityGateViolation(failed.mkString(", "))
  }

  def run(
      spark: SparkSession,
      store: MonitorStore,
      warehouseDir: String,
      schemas: Seq[EntitySchema],
      workflowId: String,
      now: Instant = Instant.now(),
      qualityGate: Option[QualityGate] = None): Result =
    upsert(spark, store, warehouseDir, schemas, workflowId, now, qualityGate,
      batch = store.stagedFilePath(workflowId).map { path =>
        spark.read
          .schema(JsonLinesSource.recordStruct(Pipelines.unionSourceStruct(schemas)))
          .parquet(path) -> path
      },
      beforeCommit = () => ())

  /** The handler's one body. `batch` is the hour's frame and the path
    * its audit rows name, or None for a no-op; it is taken after the
    * precheck. The prepares start at once; `beforeCommit` runs on the
    * calling thread while they run, and the first commit waits for it
    * to return. A non-fatal failure of the precheck or of `batch`
    * surfaces only after `beforeCommit` returned (a fatal one at once,
    * without it). A failure of `beforeCommit` propagates once the
    * prepares in flight have finished, and none of them is promoted. */
  private[jobs] def upsert(
      spark: SparkSession,
      store: MonitorStore,
      warehouseDir: String,
      schemas: Seq[EntitySchema],
      workflowId: String,
      now: Instant,
      qualityGate: Option[QualityGate],
      batch: => Option[(DataFrame, String)],
      beforeCommit: () => Unit): Result = {
    val executionId = UUID.randomUUID().toString
    // created here, so its threads inherit this thread's Spark local
    // properties and active session
    val pool = Executors.newFixedThreadPool(math.max(1, schemas.size))
    try {
      val started = Try {
        precheck(store, schemas, workflowId)
        batch.map { case (frame, path) =>
          val byEntity = EntitySplit(frame, "on", schemas.map(_.entity))
          // the plan is built INSIDE the prepare: analysis-time failures
          // (e.g. AnalysisException on malformed staged data) must become
          // that entity's failure, not abort the remaining entities
          path -> schemas.map { schema =>
            val prepare: Callable[ParquetUpsertSink.Prepared] = () => {
              val keyed = entityPipeline(byEntity(schema.entity), schema)
              qualityGate.foreach(enforceGate(keyed, _))
              ParquetUpsertSink.prepare(
                spark, keyed, s"$warehouseDir/${schema.targetTable}", KeyGen.columnName)
            }
            pool.submit(prepare)
          }
        }
      }
      beforeCommit()
      started.get match {
        case None => Result(Map.empty, Map.empty)
        case Some((path, prepares)) =>
          val outcomes = schemas.zip(prepares).map { case (schema, prepared) =>
            commit(store, workflowId, executionId, now, Some(path), schema, prepared)
          }
          Result(
            outcomes.collect { case (e, Right(n)) => e -> n }.toMap,
            outcomes.collect { case (e, Left(err)) => e -> err }.toMap)
      }
    } finally {
      // after a fatal error or a failed barrier, the prepares still in
      // flight finish before it propagates; what they staged is never
      // promoted
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  private def precheck(store: MonitorStore, schemas: Seq[EntitySchema], workflowId: String): Unit = {
    require(
      try { UUID.fromString(workflowId); true } catch { case _: Exception => false },
      s"workflow id is not a UUID: $workflowId")
    // two concurrent prepares into one table would share its staging
    val shared = schemas.groupBy(_.targetTable).collect { case (t, ss) if ss.size > 1 => t }
    require(shared.isEmpty, s"target tables shared by several entities: ${shared.mkString(", ")}")
    val missing = schemas.map(_.targetTable).filterNot(store.targetTableExists)
    require(missing.isEmpty, s"missing target tables: ${missing.mkString(", ")}")
  }

  /** Wait for one entity's prepare, commit it and append its audit row;
    * a non-fatal failure becomes that entity's failure row. */
  private def commit(store: MonitorStore, workflowId: String, executionId: String,
      now: Instant, stagedPath: Option[String], schema: EntitySchema,
      prepared: Future[ParquetUpsertSink.Prepared]): (String, Either[String, Long]) = {
    val entity = schema.entity
    try {
      val n =
        try prepared.get().commit()
        catch { case e: ExecutionException => throw e.getCause }
      store.recordHandler(HandlerExecution(
        workflowId, executionId, Timestamp.from(now), stagedPath,
        schema.targetTable, n, None))
      log.info("entity upserted", "workflow" -> workflowId,
        "entity" -> entity, "table" -> schema.targetTable, "rows" -> n)
      entity -> Right(n)
    } catch {
      case NonFatal(e) =>
        // full stack trace, matching the reference's traceback
        // capture (src/helper/postgres.py:45-63)
        log.error("entity failed", e, "workflow" -> workflowId,
          "entity" -> entity, "table" -> schema.targetTable)
        store.recordHandler(HandlerExecution(
          workflowId, executionId, Timestamp.from(now), stagedPath,
          schema.targetTable, 0L, Some(Stacks.render(e))))
        entity -> Left(e.toString)
    }
  }
}
