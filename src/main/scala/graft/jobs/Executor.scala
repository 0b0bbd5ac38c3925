package graft.jobs

import java.time.Instant
import java.util.UUID

import graft.config.EntitySchema
import graft.meta.{FileMonitorStore, JdbcMonitorStore, MonitorStore, StoreAdmin}
import org.apache.spark.sql.SparkSession

/** CLI entry point (reference entry point 1, `src/executor.py`):
  * `--step {all|ingestor|handler}` and `--workflow <uuid>`, with the
  * reference's consistency rule: a workflow id may only be supplied
  * for a handler-only run, and a handler-only run requires one
  * (`src/helper/helper.py:176-194`).
  *
  * `--step all` runs both steps of one hour under one workflow id. An
  * hour the ingestor stages in one task ([[IngestorJob.Planned.oneTask]],
  * the `Spread.fitsOneTask` line) overlaps them: the handler's
  * prepares start from the ingestor's landing read while this thread
  * writes the staging and appends the ingestor's row, and no entity
  * commits before both returned. A larger hour runs the steps in
  * turn, so its JSON is parsed once, by the staging. Either way the
  * warehouse, the audit rows and the cursor are the same
  * (SURVEY.md §3.1).
  *
  * Paths default to a local warehouse layout under `--root`; on a
  * cluster the same flags point at object-store URIs.
  */
object Executor {

  case class Args(
      step: String = "all",
      workflow: Option[String] = None,
      root: String = "/tmp/graft-warehouse",
      landing: Option[String] = None,
      // execution-metadata backend: None = parquet FileMonitorStore
      // under --root; Some(url) = JdbcMonitorStore on that JDBC URL
      // (the reference's Postgres posture - Derby in this sandbox,
      // e.g. jdbc:derby:memory:monitor;create=true)
      monitorUrl: Option[String] = None)

  def parse(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case ("-s" | "--step") :: v :: t     => loop(t, acc.copy(step = v))
      case ("-w" | "--workflow") :: v :: t => loop(t, acc.copy(workflow = Some(v)))
      case "--root" :: v :: t              => loop(t, acc.copy(root = v))
      case "--landing" :: v :: t           => loop(t, acc.copy(landing = Some(v)))
      case "--monitor-url" :: v :: t       => loop(t, acc.copy(monitorUrl = Some(v)))
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    val a = loop(argv.toList, Args())
    require(Set("all", "ingestor", "handler")(a.step), s"bad step: ${a.step}")
    // reference consistency rule (helper.py:176-194)
    require(a.workflow.isEmpty || a.step == "handler",
      "a workflow id may only be supplied with --step handler")
    require(a.step != "handler" || a.workflow.nonEmpty,
      "--step handler requires --workflow")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toIndexedSeq)
    val spark = graft.Launch.session("graft-etl")
    try run(spark, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Args): Unit = {
    val store: MonitorStore with StoreAdmin = args.monitorUrl match {
      case Some(url) => new JdbcMonitorStore(spark, url)
      case None => new FileMonitorStore(spark, s"${args.root}/monitor",
        warehouseDir = Some(s"${args.root}/tables"))
    }
    val schemas = EntitySchema.reference
    // bootstrap = applying the reference's migrations/init.sql; the
    // handler's precheck then verifies the tables genuinely exist
    store.migrate(schemas.map(_.targetTable))
    val source = graft.jobs.Pipelines.unionSourceStruct(schemas)
    val wfId = args.workflow.getOrElse(UUID.randomUUID().toString)
    val tables = s"${args.root}/tables"
    args.step match {
      case "handler" => HandlerJob.run(spark, store, tables, schemas, wfId)
      case step =>
        val hour = IngestorJob.plan(spark, store,
          args.landing.getOrElse(s"${args.root}/landing"),
          s"${args.root}/staging", source, wfId)
        if (step == "ingestor") hour.stage()
        else if (hour.oneTask)
          // the prepares parse the landing files while the hour stages;
          // nothing commits before the stage and its audit row returned
          HandlerJob.upsert(spark, store, tables, schemas, wfId, Instant.now(), None,
            batch = hour.read.zip(hour.stagedPath), beforeCommit = () => hour.stage())
        else {
          hour.stage()
          HandlerJob.run(spark, store, tables, schemas, wfId)
        }
    }
  }
}

/** Shared schema plumbing for the jobs. */
object Pipelines {
  import org.apache.spark.sql.types._

  /** Source struct covering every entity's declared paths plus the
    * `on` discriminator, so one read serves the entity split. */
  def unionSourceStruct(schemas: Seq[EntitySchema]): StructType =
    EntitySchema.structFromPaths(
      "on" +: schemas.flatMap(_.columns.map(_.srcPath)))
}
