package graft.jobs

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

import graft.meta.{IngestorExecution, MonitorStore}
import graft.operators.Spread
import graft.sources.JsonLinesSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Ingestor (reference entry point 2, `src/ingestor/ingestor.py`):
  * advance the hourly cursor, pull that hour's JSON-lines files from
  * the landing area, stage them, and record the run.
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

  def run(
      spark: SparkSession,
      store: MonitorStore,
      landingDir: String,
      stagingDir: String,
      sourceSchema: StructType,
      workflowId: String = UUID.randomUUID().toString,
      now: Instant = Instant.now()): Result = {

    val executionId = UUID.randomUUID().toString
    val hour = store.lastSuccessfulFetchHour()
      .map(_.plusSeconds(3600))
      .getOrElse(coldStart)

    log.info("ingestor start", "workflow" -> workflowId,
      "execution" -> executionId, "hour" -> hour)
    try {
      val files = JsonLinesSource.listHourFiles(spark, landingDir, hour)
      val staged: Option[String] =
        if (files.isEmpty) None
        else {
          val raw = JsonLinesSource.read(spark, files, sourceSchema)
          val dest = s"$stagingDir/${executionId}_${stamp.format(now)}"
          Spread.narrow(raw).write.mode("overwrite").parquet(dest)
          Some(dest)
        }
      store.recordIngestor(IngestorExecution(
        workflowId, executionId, Timestamp.from(now), Timestamp.from(hour),
        files.size, staged, None))
      log.info("ingestor done", "workflow" -> workflowId,
        "hour" -> hour, "files" -> files.size,
        "staged" -> staged.getOrElse("-"))
      Result(hour, files.size, staged)
    } catch {
      case NonFatal(e) =>
        log.error("ingestor failed", e, "workflow" -> workflowId,
          "execution" -> executionId, "hour" -> hour)
        store.recordIngestor(IngestorExecution(
          workflowId, executionId, Timestamp.from(now), Timestamp.from(hour),
          0, None, Some(Stacks.render(e))))
        throw e
    }
  }
}
