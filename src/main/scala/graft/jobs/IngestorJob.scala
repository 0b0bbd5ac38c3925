package graft.jobs

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

import graft.meta.{IngestorExecution, MonitorStore}
import graft.operators.Spread
import graft.sources.JsonLinesSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Ingestor (reference entry point 2, `src/ingestor/ingestor.py`):
  * advance the hourly cursor, pull that hour's JSON-lines files from
  * the landing area, stage them, and record the run.
  *
  * Two steps, which [[run]] takes in turn: [[plan]] reads the cursor,
  * lists the hour's files and builds their lazy read and the staging
  * path; [[Planned.stage]] writes the staging and appends the audit
  * row. `Executor`'s `--step all` takes them apart for a small hour:
  * its handler prepares the entities from [[Planned.read]] while
  * [[Planned.stage]] runs. A failure in either step appends the
  * failure row and rethrows.
  *
  * Differences from the reference, all deliberate (SURVEY.md §3.2):
  *  - staging is PARQUET, not a re-serialized merged JSON blob — the
  *    reference's own README recommends exactly this for the cloud
  *    variant, and at 100 TB a single merged JSON object is a
  *    non-starter. A small hour (its files at most
  *    [[Spread.NarrowBytes]], [[Spread.narrow]]; 1,000 events are
  *    about 0.24 MB) is read and staged by one task into one file; a
  *    larger one keeps a task and a file per input split;
  *  - hour selection uses the full date+hour;
  *  - the listing is unpaginated-complete;
  *  - metadata values are fully initialized on both success and
  *    failure paths.
  */
object IngestorJob {

  private val log = Log(getClass)

  /** Cold-start cursor (reference `README.md:27`). */
  val coldStart: Instant = Instant.parse("2022-11-24T10:00:00Z")

  private val stamp = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    .withZone(ZoneOffset.UTC)

  case class Result(hour: Instant, filesFetched: Int, stagedPath: Option[String])

  /** One run's identity and its audit rows. */
  private final case class Execution(store: MonitorStore, workflowId: String,
      executionId: String, now: Instant, hour: Instant) {

    def record(files: Int, staged: Option[String], traceback: Option[String]): Unit =
      store.recordIngestor(IngestorExecution(workflowId, executionId,
        Timestamp.from(now), Timestamp.from(hour), files, staged, traceback))

    /** `body`, or on failure the failure row, then the failure. */
    def audited[T](body: => T): T =
      try body
      catch {
        case NonFatal(e) =>
          log.error("ingestor failed", e, "workflow" -> workflowId,
            "execution" -> executionId, "hour" -> hour)
          record(0, None, Some(Stacks.render(e)))
          throw e
      }
  }

  /** An hour planned and not yet staged: the lazy
    * [[JsonLinesSource.read]] of its landing files and the path
    * [[stage]] writes it to (both None when the hour has no file). */
  final class Planned private[IngestorJob] (execution: Execution,
      files: Seq[String], val read: Option[DataFrame], val stagedPath: Option[String]) {

    /** Whether [[stage]] writes the hour in one task
      * ([[Spread.fitsOneTask]]); false for an hour with no file. */
    def oneTask: Boolean = read.exists(Spread.fitsOneTask)

    /** Write the staging and append the success row. */
    def stage(): Result = execution.audited {
      read.foreach(Spread.narrow(_).write.mode("overwrite").parquet(stagedPath.get))
      execution.record(files.size, stagedPath, None)
      log.info("ingestor done", "workflow" -> execution.workflowId,
        "hour" -> execution.hour, "files" -> files.size,
        "staged" -> stagedPath.getOrElse("-"))
      Result(execution.hour, files.size, stagedPath)
    }
  }

  /** The cursor's next hour, its files and their lazy read; no Spark
    * job, no write. */
  def plan(
      spark: SparkSession,
      store: MonitorStore,
      landingDir: String,
      stagingDir: String,
      sourceSchema: StructType,
      workflowId: String = UUID.randomUUID().toString,
      now: Instant = Instant.now()): Planned = {

    val executionId = UUID.randomUUID().toString
    val hour = store.lastSuccessfulFetchHour()
      .map(_.plusSeconds(3600))
      .getOrElse(coldStart)
    val execution = Execution(store, workflowId, executionId, now, hour)

    log.info("ingestor start", "workflow" -> workflowId,
      "execution" -> executionId, "hour" -> hour)
    execution.audited {
      val files = JsonLinesSource.listHourFiles(spark, landingDir, hour)
      if (files.isEmpty) new Planned(execution, files, None, None)
      else new Planned(execution, files, Some(JsonLinesSource.read(spark, files, sourceSchema)),
        Some(s"$stagingDir/${executionId}_${stamp.format(now)}"))
    }
  }

  def run(
      spark: SparkSession,
      store: MonitorStore,
      landingDir: String,
      stagingDir: String,
      sourceSchema: StructType,
      workflowId: String = UUID.randomUUID().toString,
      now: Instant = Instant.now()): Result =
    plan(spark, store, landingDir, stagingDir, sourceSchema, workflowId, now).stage()
}
