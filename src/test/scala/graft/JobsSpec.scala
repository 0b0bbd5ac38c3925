package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.UUID

import graft.config.EntitySchema
import graft.jobs.{Executor, HandlerJob, IngestorJob, Pipelines}
import graft.meta.{FileMonitorStore, HandlerExecution, IngestorExecution, JdbcMonitorStore, MonitorStore, StoreAdmin}
import graft.obs.Probe
import org.scalatest.BeforeAndAfterAll

/** A fatal JVM error a store call can raise (out of memory and the
  * like are its siblings). */
final class StubFatalError extends VirtualMachineError("stub fatal error")

/** End-to-end: landing JSON-lines → ingestor (cursor + hour pruning +
  * staging) → handler (split/normalize/key/dedup/upsert) → monitor
  * audit rows, across two hourly runs. */
class JobsSpec extends SparkSpec with BeforeAndAfterAll {

  private val hour0 = IngestorJob.coldStart // 2022-11-24T10:00:00Z

  private lazy val probe = Probe.attach(spark)

  override def afterAll(): Unit = try probe.detach() finally super.afterAll()

  /** Spark jobs started while `body` ran. */
  private def jobsOf(body: => Any): Int = {
    val before = probe.snapshot()
    body
    probe.snapshot().since(before).jobs.size
  }

  /** Both store backends under one e2e (round-7 verdict task 5): the
    * parquet store and the Derby-backed JDBC store are drop-in twins
    * behind MonitorStore + StoreAdmin. Each JDBC store gets its own
    * in-memory Derby database. */
  private def mkStore(impl: String, root: String): MonitorStore with StoreAdmin =
    impl match {
      case "file" => new FileMonitorStore(spark, s"$root/monitor",
        warehouseDir = Some(s"$root/tables"))
      case "jdbc" => new JdbcMonitorStore(spark,
        s"jdbc:derby:memory:mon_${UUID.randomUUID().toString.take(8)};create=true")
    }

  private def writeLanding(dir: String, name: String, mtime: Instant, lines: String*): Unit = {
    val p = Paths.get(s"$dir/$name")
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p, FileTime.from(mtime))
  }

  for (impl <- Seq("file", "jdbc"))
  test(s"two-run incremental pipeline with cursor advance and upsert [$impl]") {
    val root = tmpDir(s"e2e_$impl")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val store = mkStore(impl, root)
    val schemas = EntitySchema.reference
    store.migrate(schemas.map(_.targetTable))
    val source = Pipelines.unionSourceStruct(schemas)

    // hour 10: one vehicle + one operating period + a file in hour 11 (must be ignored)
    writeLanding(landing, "a.json", hour0.plusSeconds(60),
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}""",
      """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}""")
    writeLanding(landing, "later.json", hour0.plusSeconds(3660),
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T11:01:00Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 9.9, "lng": 9.9, "at": "2022-11-24T11:00:59Z"}}}""")

    // run 1: cold start → hour 10, only a.json picked up
    val wf1 = UUID.randomUUID().toString
    val r1 = IngestorJob.run(spark, store, landing, s"$root/staging", source, wf1)
    assert(r1.hour == hour0 && r1.filesFetched == 1 && r1.stagedPath.nonEmpty)

    val h1 = HandlerJob.run(spark, store, s"$root/tables", schemas, wf1)
    assert(h1.failures.isEmpty)
    assert(h1.recordsInserted == Map("vehicle" -> 1, "operating_period" -> 1))
    val vl = spark.read.parquet(s"$root/tables/vehicle_location")
    assert(vl.count() == 1)
    assert(vl.collect().head.getAs[Double]("vehicle_latitude") == 1.5)

    // run 2: cursor advanced to hour 11 → later.json picked up, upsert updates v-1
    val wf2 = UUID.randomUUID().toString
    val r2 = IngestorJob.run(spark, store, landing, s"$root/staging", source, wf2)
    assert(r2.hour == hour0.plusSeconds(3600) && r2.filesFetched == 1)
    val h2 = HandlerJob.run(spark, store, s"$root/tables", schemas, wf2)
    assert(h2.failures.isEmpty)
    val vl2 = spark.read.parquet(s"$root/tables/vehicle_location")
    // same vehicle, two distinct event timestamps → two rows (key = id+at)
    assert(vl2.count() == 2)

    // audit trail: 2 ingestor rows + 4 handler rows, all clean
    assert(store.ingestorRows().size == 2)
    assert(store.handlerRows().size == 4)
  }

  for (impl <- Seq("file", "jdbc"))
  test(s"a failed ingestor hour is retried: cursor ignores the traceback row [$impl]") {
    // the reference's retry contract (src/ingestor/ingestor.py:65-83 +
    // src/helper/postgres.py:99-103): a failed run records its
    // traceback, and the cursor MAX(fetch_hour) filters `traceback IS
    // NULL`, so the next run fetches the SAME hour again
    val root = tmpDir(s"retry_$impl")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val store = mkStore(impl, root)
    val schemas = EntitySchema.reference
    store.migrate(schemas.map(_.targetTable))
    val source = Pipelines.unionSourceStruct(schemas)
    writeLanding(landing, "a.json", hour0.plusSeconds(60),
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}""")

    // run 1: staging path is a regular FILE → the parquet write throws
    // after the hour was chosen; the failure row must still land
    val blocked = s"$root/staging_blocked"
    Files.write(Paths.get(blocked), "not a directory".getBytes(StandardCharsets.UTF_8))
    val wf1 = UUID.randomUUID().toString
    intercept[Throwable] {
      IngestorJob.run(spark, store, landing, blocked, source, wf1)
    }
    val failedRows = store.ingestorRows()
    assert(failedRows.size == 1)
    assert(failedRows.head.getAs[String]("traceback") != null,
      "failure must record its traceback")
    assert(failedRows.head.getAs[java.sql.Timestamp]("fetchedHour").toInstant == hour0)

    // run 2: healthy staging dir → the SAME hour is fetched again
    val wf2 = UUID.randomUUID().toString
    val r2 = IngestorJob.run(spark, store, landing, s"$root/staging", source, wf2)
    assert(r2.hour == hour0, s"failed hour must be retried, got ${r2.hour}")
    assert(r2.filesFetched == 1 && r2.stagedPath.nonEmpty)
    val rows = store.ingestorRows()
    assert(rows.size == 2)
    assert(rows.count(_.getAs[String]("traceback") != null) == 1)
    assert(rows.count(_.getAs[String]("traceback") == null) == 1)
    assert(rows.forall(
      _.getAs[java.sql.Timestamp]("fetchedHour").toInstant == hour0))

    // and only after the success does the cursor advance
    val r3 = IngestorJob.run(spark, store, landing, s"$root/staging", source,
      UUID.randomUUID().toString)
    assert(r3.hour == hour0.plusSeconds(3600))
  }

  test("quality gate blocks one entity's promotion, records it, others proceed") {
    import graft.ext.profile.Expectations._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("gate")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val store = new FileMonitorStore(spark, s"$root/monitor",
      warehouseDir = Some(s"$root/tables"))
    val schemas = EntitySchema.reference
    store.migrate(schemas.map(_.targetTable))
    writeLanding(landing, "a.json", hour0.plusSeconds(60),
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 99.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}""",
      """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}""")
    val wf = UUID.randomUUID().toString
    IngestorJob.run(spark, store, landing, s"$root/staging",
      Pipelines.unionSourceStruct(schemas), wf)
    // vehicle_latitude 99.5 violates the [-90, 90] expectation;
    // operating_period has no such column, so its checks pass — the
    // gate evaluates per entity on the keyed (normalized) frame
    def gateFor = HandlerJob.QualityGate(Seq(
      inRange("lat_in_range",
        org.apache.spark.sql.functions
          .coalesce(col("vehicle_latitude"), org.apache.spark.sql.functions.lit(0.0)),
        org.apache.spark.sql.functions.lit(-90.0),
        org.apache.spark.sql.functions.lit(90.0))))
    // per-entity gates: only the vehicle schema carries the lat check
    val res = HandlerJob.run(spark, store, s"$root/tables",
      schemas.filter(_.entity == "vehicle"), wf, qualityGate = Some(gateFor))
    assert(res.recordsInserted.isEmpty)
    assert(res.failures.keySet == Set("vehicle"))
    assert(res.failures("vehicle").contains("quality gate failed"),
      res.failures("vehicle"))
    // the blocked entity was NOT promoted (migrate() pre-creates the
    // empty table dir, so an unreadable/empty parquet dir counts)
    val promoted =
      try spark.read.parquet(s"$root/tables/vehicle_location").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(promoted == 0L)
    // and the violation is in the audit trail
    val recorded = store.handlerRows()
      .filter(r => r.getAs[String]("workflowId") == wf)
    assert(recorded.exists(r =>
      Option(r.getAs[String]("traceback")).exists(_.contains("quality gate failed"))),
      recorded.mkString("; "))
  }

  test("a fatal JVM error propagates out of the handler; the next entity is not committed") {
    val root = tmpDir("fatal")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val files = new FileMonitorStore(spark, s"$root/monitor",
      warehouseDir = Some(s"$root/tables"))
    val schemas = EntitySchema.reference
    files.migrate(schemas.map(_.targetTable))
    writeLanding(landing, "a.json", hour0.plusSeconds(60),
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}""",
      """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}""")
    val wf = UUID.randomUUID().toString
    IngestorJob.run(spark, files, landing, s"$root/staging",
      Pipelines.unionSourceStruct(schemas), wf)
    // the first audit write dies with a fatal error; later ones succeed
    val recorded = scala.collection.mutable.ArrayBuffer.empty[HandlerExecution]
    val store = new MonitorStore {
      def lastSuccessfulFetchHour() = files.lastSuccessfulFetchHour()
      def stagedFilePath(workflowId: String) = files.stagedFilePath(workflowId)
      def recordIngestor(row: IngestorExecution): Unit = files.recordIngestor(row)
      def recordHandler(row: HandlerExecution): Unit = {
        recorded += row
        if (recorded.size == 1) throw new StubFatalError
        files.recordHandler(row)
      }
      def targetTableExists(table: String) = files.targetTableExists(table)
    }
    intercept[StubFatalError] {
      HandlerJob.run(spark, store, s"$root/tables", schemas, wf)
    }
    assert(recorded.map(_.destinationTable) == Seq(schemas.head.targetTable),
      "the error must not become a failure row")
    val second =
      try spark.read.parquet(s"$root/tables/${schemas(1).targetTable}").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(second == 0L, "the second entity must not be attempted")
  }

  /** A staged hour of one vehicle and one operating period, for the
    * handler on a `graftfs://` warehouse whose fault hooks the test
    * sets. Returns the warehouse, the audit rows the handler appends
    * (recorded in order, then written through) and its store. */
  private def graftfsHour(name: String, wf: String)
      : (String, scala.collection.mutable.ArrayBuffer[HandlerExecution], MonitorStore) = {
    import org.apache.hadoop.fs.FileSystem
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    FileSystem.closeAll()
    val root = tmpDir(name)
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val tables = s"graftfs://$root/tables"
    val files = new FileMonitorStore(spark, s"$root/monitor", warehouseDir = Some(tables))
    val schemas = EntitySchema.reference
    files.migrate(schemas.map(_.targetTable))
    writeLanding(landing, "a.json", hour0.plusSeconds(60), vehicleLine, periodLine)
    IngestorJob.run(spark, files, landing, s"$root/staging",
      Pipelines.unionSourceStruct(schemas), wf)
    val recorded = scala.collection.mutable.ArrayBuffer.empty[HandlerExecution]
    val store = new MonitorStore {
      def lastSuccessfulFetchHour() = files.lastSuccessfulFetchHour()
      def stagedFilePath(workflowId: String) = files.stagedFilePath(workflowId)
      def recordIngestor(row: IngestorExecution): Unit = files.recordIngestor(row)
      def recordHandler(row: HandlerExecution): Unit = { recorded += row; files.recordHandler(row) }
      def targetTableExists(table: String) = files.targetTableExists(table)
    }
    (tables, recorded, store)
  }

  /** Rows of a warehouse table; a table with no data file has none. */
  private def tableRows(path: String): Long =
    try spark.read.parquet(path).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  test("a fatal error in the second entity's prepare propagates itself; the first is committed and audited") {
    val wf = UUID.randomUUID().toString
    val (tables, recorded, store) = graftfsHour("fatal_prepare", wf)
    val Seq(first, second) = EntitySchema.reference.map(_.targetTable)
    // a stale staging the second prepare's recover deletes first
    val stale = new org.apache.hadoop.fs.Path(s"$tables/${second}__staging")
    stale.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(stale)
    GraftTestFileSystem.failDelete = p => p.getName == stale.getName && (throw new StubFatalError)
    try intercept[StubFatalError] {
      HandlerJob.run(spark, store, tables, EntitySchema.reference, wf)
    }
    finally GraftTestFileSystem.failDelete = _ => false
    assert(recorded.map(r => r.destinationTable -> r.traceback) == Seq(first -> None),
      "the first entity is audited; the error is no failure row")
    assert(tableRows(s"$tables/$first") == 1L)
    assert(tableRows(s"$tables/$second") == 0L, "the second entity has no visible rows")
  }

  test("a failed prepare of the first entity lets the second commit; audit rows stay in schema order") {
    val wf = UUID.randomUUID().toString
    val (tables, recorded, store) = graftfsHour("failed_prepare", wf)
    val Seq(first, second) = EntitySchema.reference.map(_.targetTable)
    val conf = spark.sparkContext.hadoopConfiguration
    val stale = new org.apache.hadoop.fs.Path(s"$tables/${first}__staging")
    val fs = stale.getFileSystem(conf)
    fs.mkdirs(stale)
    // the first prepare fails only once the second has staged its batch,
    // so the second is ready before the first's failure is known
    val secondStaged = new org.apache.hadoop.fs.Path(s"$tables/${second}__staging/_SUCCESS")
    val waited = new java.util.concurrent.atomic.AtomicBoolean
    GraftTestFileSystem.failDelete = p => p.getName == stale.getName && {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!fs.exists(secondStaged) && System.nanoTime() < deadline) Thread.sleep(20)
      waited.set(fs.exists(secondStaged))
      true
    }
    val res =
      try HandlerJob.run(spark, store, tables, EntitySchema.reference, wf)
      finally GraftTestFileSystem.failDelete = _ => false
    assert(waited.get, "the second entity never staged its batch")
    assert(res.failures.keySet == Set("vehicle") && res.failures("vehicle").contains("injected delete fault"))
    assert(res.recordsInserted == Map("operating_period" -> 1L))
    assert(recorded.map(r => r.destinationTable -> r.traceback.isDefined) ==
      Seq(first -> true, second -> false))
    assert(tableRows(s"$tables/$first") == 0L)
    assert(tableRows(s"$tables/$second") == 1L)
  }

  test("precheck refuses entities that share a target table") {
    val root = tmpDir("shared_table")
    val store = new FileMonitorStore(spark, s"$root/monitor")
    val Seq(vehicle, period) = EntitySchema.reference
    val ex = intercept[IllegalArgumentException] {
      HandlerJob.run(spark, store, s"$root/tables",
        Seq(vehicle, period.copy(targetTable = vehicle.targetTable)), UUID.randomUUID().toString)
    }
    assert(ex.getMessage.contains(s"target tables shared by several entities: ${vehicle.targetTable}"))
  }

  test("handler with no staged file is a clean no-op") {
    val root = tmpDir("noop")
    val store = new FileMonitorStore(spark, s"$root/monitor")
    val res = HandlerJob.run(spark, store, s"$root/tables",
      EntitySchema.reference, UUID.randomUUID().toString)
    assert(res.recordsInserted.isEmpty && res.failures.isEmpty)
  }

  for (impl <- Seq("file", "jdbc"))
  test(s"precheck fails on a genuinely missing warehouse table, passes after migrate [$impl]") {
    val root = tmpDir(s"precheck_$impl")
    val store = mkStore(impl, root)
    // nothing migrated: the dynamic information_schema-twin must refuse
    val ex = intercept[IllegalArgumentException] {
      HandlerJob.run(spark, store, s"$root/tables",
        EntitySchema.reference, UUID.randomUUID().toString)
    }
    assert(ex.getMessage.contains("missing target tables"))
    store.migrate(EntitySchema.reference.map(_.targetTable))
    // after migration the same run is a clean no-op (no staged file)
    val res = HandlerJob.run(spark, store, s"$root/tables",
      EntitySchema.reference, UUID.randomUUID().toString)
    assert(res.recordsInserted.isEmpty && res.failures.isEmpty)
  }

  test("handler rejects non-UUID workflow ids (reference validation)") {
    val root = tmpDir("badwf")
    val store = new FileMonitorStore(spark, s"$root/monitor")
    assertThrows[IllegalArgumentException] {
      HandlerJob.run(spark, store, s"$root/tables", EntitySchema.reference, "not-a-uuid")
    }
  }

  private val vehicleLine =
    """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}"""
  private val periodLine =
    """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}"""

  test("a same-key pair with different payloads lands as one row, audited as 1") {
    // same data.id and event time (so the same key), different lat:
    // the upsert's per-key dedup is the handler's only one
    val root = tmpDir("same_key")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val store = new FileMonitorStore(spark, s"$root/monitor",
      warehouseDir = Some(s"$root/tables"))
    val schemas = EntitySchema.reference.filter(_.entity == "vehicle")
    store.migrate(schemas.map(_.targetTable))
    writeLanding(landing, "a.json", hour0.plusSeconds(60),
      vehicleLine, vehicleLine.replace("\"lat\": 1.5", "\"lat\": 3.5"))
    val wf = UUID.randomUUID().toString
    IngestorJob.run(spark, store, landing, s"$root/staging",
      Pipelines.unionSourceStruct(schemas), wf)
    val res = HandlerJob.run(spark, store, s"$root/tables", schemas, wf)
    assert(res.failures.isEmpty && res.recordsInserted == Map("vehicle" -> 1L))
    val rows = spark.read.parquet(s"$root/tables/vehicle_location").collect()
    assert(rows.length == 1, rows.mkString("; "))
    assert(Set(1.5, 3.5).contains(rows.head.getAs[Double]("vehicle_latitude")))
    val audited = store.handlerRows().filter(_.getAs[String]("workflowId") == wf)
      .map(r => r.getAs[String]("destinationTable") -> r.getAs[Long]("recordsInserted"))
    assert(audited.toSeq == Seq("vehicle_location" -> 1L))
  }

  test("job budget: an incremental Executor hour runs at most 14 Spark jobs and audits distinct keys") {
    // an hour ran 27 jobs when the monitor store scanned its audit
    // files with Spark and the handler counted each entity with its own
    // action; 16 while the handler cached the staged batch and each
    // entity's frame and deduped before the upsert; 13 while the upsert
    // inferred the live table's schema in a job; 11 while it deduped the
    // batch, anti-joined the live rows against the batch's keys and
    // repartitioned the result; 5 while it picked one row per key in one
    // exchange; 5 → 3 since a small ingest and a small upsert each run
    // as one task with no exchange. One job of slack: a plan can start
    // an extra one-task job from run to run. The name keeps the ceiling
    // of 14 it was written with; the assertion holds the hour to the
    // tighter 4.
    val root = tmpDir("job_budget")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    writeLanding(landing, "a.json", hour0.plusSeconds(60), vehicleLine, periodLine)
    val movedLine = vehicleLine.replace("T10:02", "T11:02").replace("1.5", "7.5")
    // hour 11 sends v-1 at a new event time (a new key), twice verbatim
    writeLanding(landing, "b.json", hour0.plusSeconds(3660),
      movedLine, movedLine, periodLine.replace("op-1", "op-2"))
    val args = Executor.parse(Seq("--root", root, "--landing", landing))
    Executor.run(spark, args) // the cold hour, into an empty warehouse
    val jobs = jobsOf(Executor.run(spark, args))
    assert(jobs <= 4, s"an incremental hour ran $jobs Spark jobs")

    val store = new FileMonitorStore(spark, s"$root/monitor")
    val wf = store.ingestorRows()
      .find(_.getAs[java.sql.Timestamp]("fetchedHour").toInstant == hour0.plusSeconds(3600))
      .map(_.getAs[String]("workflowId")).get
    val audited = store.handlerRows().filter(_.getAs[String]("workflowId") == wf)
      .map(r => r.getAs[String]("destinationTable") -> r.getAs[Long]("recordsInserted")).toMap
    assert(audited == Map("vehicle_location" -> 1L, "operating_periods" -> 1L))
    assert(spark.read.parquet(s"$root/tables/vehicle_location").count() == 2)
    assert(spark.read.parquet(s"$root/tables/operating_periods").count() == 2)
  }

  test("job budget: every FileMonitorStore call runs no Spark job") {
    val root = tmpDir("store_jobs")
    val store = new FileMonitorStore(spark, s"$root/monitor",
      warehouseDir = Some(s"$root/tables"))
    val schemas = EntitySchema.reference
    val wf = UUID.randomUUID().toString
    val now = java.sql.Timestamp.from(hour0.plusSeconds(7200))
    val calls: Seq[(String, () => Any)] = Seq(
      "migrate" -> (() => store.migrate(schemas.map(_.targetTable))),
      "lastSuccessfulFetchHour on no history" -> (() => store.lastSuccessfulFetchHour()),
      "recordIngestor" -> (() => store.recordIngestor(IngestorExecution(wf, "e1", now,
        java.sql.Timestamp.from(hour0), 1, Some(s"$root/staging/x"), None))),
      "recordHandler" -> (() => store.recordHandler(HandlerExecution(wf, "e2", now,
        Some(s"$root/staging/x"), "vehicle_location", 3L, None))),
      "lastSuccessfulFetchHour" -> (() => store.lastSuccessfulFetchHour()),
      "stagedFilePath" -> (() => store.stagedFilePath(wf)),
      "targetTableExists" -> (() => store.targetTableExists("vehicle_location")),
      "ingestorRows" -> (() => store.ingestorRows()),
      "handlerRows" -> (() => store.handlerRows()))
    val ran = calls.map { case (name, call) => name -> jobsOf(call()) }
    assert(ran.forall(_._2 == 0), ran.mkString(", "))
    assert(store.lastSuccessfulFetchHour().contains(hour0))
    assert(store.stagedFilePath(wf).contains(s"$root/staging/x"))
  }

  test("executor arg consistency rules match the reference") {
    assert(Executor.parse(Seq("-s", "ingestor")).step == "ingestor")
    // workflow only valid with handler step
    assertThrows[IllegalArgumentException](
      Executor.parse(Seq("-s", "all", "-w", UUID.randomUUID().toString)))
    // handler step requires workflow
    assertThrows[IllegalArgumentException](Executor.parse(Seq("-s", "handler")))
    assert(Executor.parse(
      Seq("-s", "handler", "-w", UUID.randomUUID().toString)).workflow.nonEmpty)
  }
}
