package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp
import java.time.Instant

import graft.jobs.IngestorJob
import graft.meta.{FileMonitorStore, HandlerExecution, IngestorExecution}

/** The parquet monitor store's audit files: plain parquet that Spark
  * reads back unchanged, named by an index that the cursor and the
  * staged-path lookup answer from without opening other files. */
class MonitorStoreSpec extends SparkSpec {
  import spark.implicits._

  private val hour0 = IngestorJob.coldStart
  private def ts(i: Instant) = Timestamp.from(i)

  private def ingestor(wf: String, hour: Int, files: Int, dest: Option[String],
      traceback: Option[String] = None, execAt: Int = 0): IngestorExecution =
    IngestorExecution(wf, s"exec-$wf-$hour-$execAt", ts(hour0.plusSeconds(7200L * hour + execAt)),
      ts(hour0.plusSeconds(3600L * hour)), files, dest, traceback)

  private def files(dir: String): Seq[JPath] =
    Files.list(Paths.get(dir)).toArray.toSeq.map(_.asInstanceOf[JPath])

  private def visible(dir: String): Seq[JPath] =
    files(dir).filterNot(p => p.getFileName.toString.matches("[._].*"))

  test("audit rows read back equal spark.read.parquet over the same directories") {
    val dir = tmpDir("mon_equal")
    val store = new FileMonitorStore(spark, dir)
    // ids outside [a-z0-9-] and ones whose escapes could collide
    val wfs = Seq("0f8fad5b-d9cb-469f-a165-70867728950e", "WF.1", "wf_2e1", "wf.1", "wf 1/ü")
    wfs.zipWithIndex.foreach { case (wf, i) =>
      store.recordIngestor(ingestor(wf, i, i, if (i % 2 == 0) Some(s"/staging/$i") else None))
      store.recordHandler(HandlerExecution(wf, s"h-$i", ts(hour0.plusSeconds(i)),
        Some(s"/staging/$i"), "vehicle_location", i * 10L, if (i == 3) Some("boom") else None))
    }
    store.recordIngestor(ingestor("wf.1", 9, 0, None, Some("trace\nback")))
    for ((rows, table) <- Seq(store.ingestorRows() -> "ingestor_executions",
        store.handlerRows() -> "handler_executions")) {
      val bySpark = spark.read.parquet(s"$dir/$table")
      assert(rows.nonEmpty && rows.forall(_.schema == bySpark.schema), bySpark.schema.treeString)
      def sorted(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toSeq).sortBy(_.mkString("|"))
      assert(sorted(rows) == sorted(bySpark.collect().toSeq))
    }
    assert(store.ingestorRows().size == wfs.size + 1 && store.handlerRows().size == wfs.size)
    // escaped ids stay apart: each finds only its own staged batch
    assert(store.stagedFilePath("wf_2e1").contains("/staging/2"))
    assert(store.stagedFilePath("WF.1").isEmpty) // no destination
    assert(store.stagedFilePath("wf.1").isEmpty) // no destination, then a failed row
    assert(store.stagedFilePath("wf 1/ü").contains("/staging/4"))
    assert(store.lastSuccessfulFetchHour().contains(hour0.plusSeconds(3600L * 4)))
  }

  test("the cursor and the staged path open no other workflow's audit file") {
    val dir = tmpDir("mon_index")
    val store = new FileMonitorStore(spark, dir)
    val (a, b) = ("7c9e6679-7425-40de-944b-e07fc1f90ae7", "9b2f0e7a-2c55-4d8e-8b9a-1f4c3e6d2a10")
    store.recordIngestor(ingestor(a, 0, 2, Some("/staging/a0")))
    store.recordIngestor(ingestor(a, 1, 1, Some("/staging/a1"), execAt = 5))
    store.recordIngestor(ingestor(a, 2, 0, None, Some("failed")))
    store.recordIngestor(ingestor(b, 3, 4, Some("/staging/b3")))
    store.recordIngestor(ingestor(b, 4, 0, None, Some("failed")))
    val table = s"$dir/ingestor_executions"
    // every file but a's successful rows now holds garbage (a
    // lower-case uuid is its own encoding)
    visible(table).filterNot(_.getFileName.toString.contains(s".ok.$a."))
      .foreach(p => Files.write(p, "not parquet".getBytes(StandardCharsets.UTF_8)))
    assert(visible(table).size == 5)
    assert(store.lastSuccessfulFetchHour().contains(hour0.plusSeconds(3600L * 3)))
    // the newest successful run of `a` wins
    assert(store.stagedFilePath(a).contains("/staging/a1"))
    // b's successful row is garbage now: reading it must fail, not skip
    intercept[Exception](store.stagedFilePath(b))
  }

  test("a leftover hidden temp file is ignored") {
    val dir = tmpDir("mon_tmp")
    val store = new FileMonitorStore(spark, dir)
    val wf = "1b4e28ba-2fa1-41d2-883f-0016d3cca427"
    store.recordIngestor(ingestor(wf, 0, 1, Some("/staging/x")))
    val table = s"$dir/ingestor_executions"
    val name = visible(table).head.getFileName.toString
    // what a crash between the temp write and the rename leaves
    Files.write(Paths.get(table, s".${name.replace(wf, wf.reverse)}.tmp"),
      "half a parquet file".getBytes(StandardCharsets.UTF_8))
    assert(store.lastSuccessfulFetchHour().contains(hour0))
    assert(store.stagedFilePath(wf).contains("/staging/x"))
    assert(store.ingestorRows().size == 1)
    assert(spark.read.parquet(table).count() == 1)
  }

  test("an audit file without an index fails every read that lists its table") {
    val dir = tmpDir("mon_unindexed")
    val store = new FileMonitorStore(spark, dir)
    val wf = "6fa459ea-ee8a-3ca4-894e-db77e160355e"
    store.recordIngestor(ingestor(wf, 0, 1, Some("/staging/x")))
    store.recordHandler(HandlerExecution(wf, "h", ts(hour0), Some("/staging/x"), "t", 1L, None))
    // a row appended by a Spark write: a part-file name with no index
    Seq(ingestor(wf, 5, 1, Some("/staging/y"))).toDS()
      .write.mode("append").parquet(s"$dir/ingestor_executions")
    for (read <- Seq[() => Any](() => store.lastSuccessfulFetchHour(),
        () => store.stagedFilePath(wf), () => store.ingestorRows())) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(s"$dir/ingestor_executions"), e.getMessage)
    }
    // the other table still reads
    assert(store.handlerRows().size == 1)
  }
}
