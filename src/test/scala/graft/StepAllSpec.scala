package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.jobs.{Executor, IngestorJob}
import graft.meta.FileMonitorStore
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** `Executor.run --step all` prepares a small hour's entities from the
  * ingestor's landing read while the hour stages. These tests hold it
  * to the rows of the staged sequence (`--step ingestor`, then
  * `--step handler`) and to its commit barrier: nothing is promoted
  * or audited by the handler unless the staging and the ingestor's
  * success row both landed. */
class StepAllSpec extends SparkSpec {

  private val hour0 = IngestorJob.coldStart // 2022-11-24T10:00:00Z

  private val vehicleLine =
    """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.5, "lng": 2.5, "at": "2022-11-24T10:02:10Z"}}}"""
  private val periodLine =
    """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}"""

  private def writeLanding(dir: String, name: String, mtime: Instant, lines: String*): Unit = {
    val p = Paths.get(s"$dir/$name")
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p, FileTime.from(mtime))
  }

  /** Two hours of landing files: hour 10 holds a vehicle, an operating
    * period, a corrupt line, an unknown entity and a vehicle whose
    * `data.location` is a JSON scalar; hour 11 re-sends the vehicle's
    * key with a new payload and a new operating period. */
  private def landing(name: String): String = {
    val dir = tmpDir(name)
    writeLanding(dir, "a.json", hour0.plusSeconds(60),
      vehicleLine, periodLine,
      """{"event": "update", "on": "vehicle", "at": """,
      """{"event": "create", "on": "driver", "at": "2022-11-24T10:01:00Z", "organization_id": "o", "data": {"id": "d-1"}}""",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:03:00Z", "organization_id": "o", "data": {"id": "v-2", "location": 5}}""")
    writeLanding(dir, "b.json", hour0.plusSeconds(3660),
      vehicleLine.replace("\"lat\": 1.5", "\"lat\": 4.5"), periodLine.replace("op-1", "op-2"))
    dir
  }

  private def args(root: String, landing: String, more: String*): Executor.Args =
    Executor.parse(Seq("--root", root, "--landing", landing) ++ more)

  private val tables = Seq("vehicle_location", "operating_periods")

  /** A warehouse table's column types and rows (order-free); a table
    * with no data file has neither. */
  private def table(root: String, t: String): (Seq[(String, String)], Seq[String]) =
    try {
      val df = spark.read.parquet(s"$root/tables/$t")
      (df.dtypes.toSeq, df.collect().map(_.toString).sorted.toSeq)
    } catch { case _: org.apache.spark.sql.AnalysisException => (Nil, Nil) }

  private def warehouse(root: String) = tables.map(t => t -> table(root, t)).toMap

  /** The audit rows less their ids and timestamps: ingestor rows by
    * fetched hour, handler rows by their workflow's fetched hour, and
    * whether each handler row names its workflow's staged path. */
  private def audit(root: String) = {
    val store = new FileMonitorStore(spark, s"$root/monitor")
    val ing = store.ingestorRows()
    val hourOf = ing.map(r => r.getAs[String]("workflowId") -> r.getAs[Timestamp]("fetchedHour")).toMap
    val stagedOf = ing.map(r => r.getAs[String]("workflowId") -> r.getAs[String]("fileDestinationPath")).toMap
    val ingestor = ing.map(r => (r.getAs[Timestamp]("fetchedHour").toString,
      r.getAs[Int]("numberOfFilesFetched"), r.getAs[String]("fileDestinationPath") != null,
      r.getAs[String]("traceback") == null)).sorted
    val handler = store.handlerRows().map { r =>
      val wf = r.getAs[String]("workflowId")
      (hourOf.get(wf).map(_.toString).getOrElse("-"), r.getAs[String]("destinationTable"),
        r.getAs[Long]("recordsInserted"), r.getAs[String]("traceback") == null,
        stagedOf.get(wf).exists(p => p != null && p == r.getAs[String]("fileFetchPath")))
    }.sorted
    (ingestor, handler, store.lastSuccessfulFetchHour())
  }

  /** Runs `body` and returns, per upsert prepare (a write into a
    * `__staging` path), the files it scanned outside the warehouse:
    * the batch's. */
  private def prepareScans(s: SparkSession)(body: => Unit): Seq[Seq[String]] = {
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val out = qe.analyzed.collect { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString }
        if (out.exists(_.endsWith("__staging")))
          scans.add(qe.analyzed.collect { case l: LogicalRelation => l.relation }
            .collect { case r: HadoopFsRelation => r.location.inputFiles.toSeq }.flatten
            .map(new java.net.URI(_).getPath).filterNot(_.contains("/tables/")))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    s.listenerManager.register(listener)
    try body
    finally {
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      s.listenerManager.unregister(listener)
    }
    scans.asScala.toSeq
  }

  test("a small --step all hour prepares from the landing read and leaves the staged sequence's rows") {
    val land = landing("parity_landing")
    // (b) the staged sequence: --step ingestor, then --step handler on its workflow
    val staged = tmpDir("parity_staged")
    for (_ <- 0 until 2) {
      Executor.run(spark, args(staged, land, "--step", "ingestor"))
      val store = new FileMonitorStore(spark, s"$staged/monitor")
      val wf = store.ingestorRows().maxBy(_.getAs[Timestamp]("fetchedHour").getTime)
        .getAs[String]("workflowId")
      Executor.run(spark, args(staged, land, "--step", "handler", "--workflow", wf))
    }
    // (a) --step all per hour; an isolated session's listener sees only its queries
    val all = tmpDir("parity_all")
    val s = spark.newSession()
    val allScans = prepareScans(s)((0 until 2).foreach(_ => Executor.run(s, args(all, land))))
    // (c) --step all with the one-task rule off takes the staged sequence
    val off = tmpDir("parity_off")
    val offSession = spark.newSession()
    offSession.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val offScans = prepareScans(offSession)((0 until 2).foreach(_ => Executor.run(offSession, args(off, land))))

    val expected = warehouse(staged)
    // v-1 re-sent under its key, v-2 with no location; op-1 and op-2
    assert(expected("vehicle_location")._2.size == 2 && expected("operating_periods")._2.size == 2,
      expected.toString)
    assert(warehouse(all) == expected)
    assert(warehouse(off) == expected)
    val (ingestor, handler, cursor) = audit(staged)
    assert(ingestor.size == 2 && handler.size == 4 && handler.forall(_._5), handler.toString)
    assert(audit(all) == audit(staged))
    assert(audit(off) == audit(staged))
    assert(cursor.contains(hour0.plusSeconds(3600)))

    // two hours × two entities; each prepare's batch is the hour's landing
    // file in (a) and its staging in (c)
    assert(allScans.size == 4 && allScans.forall(f => f.nonEmpty && f.forall(_.startsWith(s"$land/"))),
      allScans.toString)
    assert(offScans.size == 4 && offScans.forall(f => f.nonEmpty && f.forall(_.startsWith(s"$off/staging/"))),
      offScans.toString)
  }

  /** One hour lands, then the next runs under `fault`, which returns
    * how to remove it. After the fault the warehouse, the cursor and
    * the handler's audit rows are those of the first hour; once the
    * fault is gone the next run leaves the fault-free warehouse and no
    * upsert staging. `root` may name another filesystem's scheme. */
  private def barrierCase(name: String, root: String => String)(fault: String => () => Unit): Unit = {
    val land = landing(s"${name}_landing")
    val clean = tmpDir(s"${name}_clean")
    Executor.run(spark, args(clean, land))
    val oneHour = warehouse(clean)
    Executor.run(spark, args(clean, land))

    val dir = tmpDir(name)
    val r = root(dir)
    Executor.run(spark, args(r, land))
    val store = new FileMonitorStore(spark, s"$r/monitor")
    val remove = fault(dir)
    try intercept[Exception](Executor.run(spark, args(r, land)))
    finally remove()
    assert(warehouse(r) == oneHour, "the failed hour promoted rows")
    assert(store.handlerRows().size == 2, "the failed hour wrote a handler row")
    assert(store.lastSuccessfulFetchHour().contains(hour0))
    val failed = store.ingestorRows().filter(_.getAs[String]("traceback") != null)
    assert(failed.map(_.getAs[Timestamp]("fetchedHour").toInstant) == Seq(hour0.plusSeconds(3600)),
      "the failed hour's ingestor failure row")
    // the prepares ran beside the failed stage and were never promoted
    tables.foreach(t => assert(Files.isDirectory(Paths.get(s"$dir/tables/${t}__staging")), t))

    Executor.run(spark, args(r, land))
    assert(warehouse(r) == warehouse(clean))
    assert(store.lastSuccessfulFetchHour().contains(hour0.plusSeconds(3600)))
    assert(store.handlerRows().count(_.getAs[String]("traceback") == null) == 4)
    assert(Files.list(Paths.get(s"$dir/tables")).iterator().asScala
      .forall(p => !p.getFileName.toString.endsWith("__staging")), "an upsert staging was left")
  }

  test("commit barrier: a failed staging write promotes and audits no entity") {
    // <root>/staging as a regular file fails the hour's staging write
    barrierCase("barrier_stage", identity) { dir =>
      val staging = Paths.get(s"$dir/staging")
      Files.walk(staging).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      Files.write(staging, "not a directory".getBytes(StandardCharsets.UTF_8))
      () => Files.delete(staging)
    }
  }

  test("commit barrier: a failed ingestor success row promotes and audits no entity") {
    import org.apache.hadoop.fs.FileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    FileSystem.closeAll()
    // the rename that publishes the ingestor's success row fails
    barrierCase("barrier_store", dir => s"graftfs://$dir") { _ =>
      GraftTestFileSystem.failRename = (_, dst) =>
        dst.getParent.getName == "ingestor_executions" && dst.getName.contains(".ok.")
      () => GraftTestFileSystem.failRename = (_, _) => false
    }
  }
}
