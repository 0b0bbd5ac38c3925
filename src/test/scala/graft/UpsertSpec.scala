package graft

import graft.sinks.ParquetUpsertSink

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: insert then update is last-write-wins and idempotent") {
    val path = tmpDir("upsert") + "/t"
    val v1 = Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("id", "payload", "ver")
    ParquetUpsertSink.upsert(spark, v1, path, "id")
    // update k2, insert k3
    val v2 = Seq(("k2", "B", 2), ("k3", "c", 2)).toDF("id", "payload", "ver")
    ParquetUpsertSink.upsert(spark, v2, path, "id")
    val got = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got == Map("k1" -> ("a", 1), "k2" -> ("B", 2), "k3" -> ("c", 2)))
    // replay the same batch → identical state (idempotence)
    ParquetUpsertSink.upsert(spark, v2, path, "id")
    assert(spark.read.parquet(path).count() == 3)
  }

  test("upsert dedups within a batch by order column") {
    val path = tmpDir("upsert2") + "/t"
    val batch = Seq(("k1", "old", 1), ("k1", "new", 2)).toDF("id", "payload", "ver")
    ParquetUpsertSink.upsert(spark, batch, path, "id", orderCol = Some("ver"))
    val got = spark.read.parquet(path).collect()
    assert(got.length == 1 && got.head.getString(1) == "new")
  }

  test("upsert keeps exactly one row per key when rows tie on the max orderCol") {
    // two DISTINCT rows tying on (key, max ver): the key-unique table
    // invariant (the reference's ON CONFLICT guarantee) must hold
    // anyway — the deterministic tie-break keeps the row with the
    // highest full-row hash, and the choice is stable across runs
    val batch = Seq(("k1", "a", 2), ("k1", "b", 2), ("k1", "old", 1),
      ("k2", "x", 7)).toDF("id", "payload", "ver")
    val survivors = (1 to 2).map { i =>
      val path = tmpDir(s"upsert_tie$i") + "/t"
      ParquetUpsertSink.upsert(spark, batch, path, "id", orderCol = Some("ver"))
      val rows = spark.read.parquet(path).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(rows.size == 2, s"key-unique invariant violated: ${rows.mkString(",")}")
      assert(rows("k1")._2 == 2 && Set("a", "b").contains(rows("k1")._1))
      assert(rows("k2") == (("x", 7)))
      rows("k1")
    }
    assert(survivors(0) == survivors(1), "tie-break is not deterministic")
    // exact byte-duplicate ties collapse to one row too
    val dupPath = tmpDir("upsert_tie_dup") + "/t"
    val dups = Seq(("k1", "same", 2), ("k1", "same", 2)).toDF("id", "payload", "ver")
    ParquetUpsertSink.upsert(spark, dups, dupPath, "id", orderCol = Some("ver"))
    assert(spark.read.parquet(dupPath).count() == 1)
  }

  test("upsert never drops a key whose orderCol is null") {
    val path = tmpDir("upsert_nullord") + "/t"
    // k1: null loses to the non-null ver; k2: ALL vers null — the key
    // must still land (max() ignoring nulls made the old equality
    // semi-join silently drop it)
    val batch = Seq(("k1", "late", Some(2)), ("k1", "nullver", None),
      ("k2", "only", None)).toDF("id", "payload", "ver")
    ParquetUpsertSink.upsert(spark, batch, path, "id", orderCol = Some("ver"))
    val got = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "late", "k2" -> "only"))
  }

  test("upsert rejects null keys loudly (both forms)") {
    val path = tmpDir("upsert_nullkey") + "/t"
    val bad = Seq((null: String, "x", "2022-11-24")).toDF("id", "payload", "dt")
    val e1 = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(spark, bad, path, "id")
    }
    assert(e1.getMessage.contains("null values in upsert key column"))
    val e2 = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(spark, bad, path, "id", partitionCol = Some("dt"))
    }
    assert(e2.getMessage.contains("null values in upsert key column"))
    assert(!new java.io.File(path).exists()) // nothing written
  }

  test("partitioned upsert only rewrites touched partitions") {
    val root = tmpDir("upsert3") + "/t"
    val day1 = Seq(("k1", "2022-11-24", "a"), ("k2", "2022-11-25", "b"))
      .toDF("id", "dt", "payload")
    ParquetUpsertSink.upsert(spark, day1, root, "id", partitionCol = Some("dt"))
    // touch only dt=2022-11-25
    val day2 = Seq(("k2", "2022-11-25", "B"), ("k3", "2022-11-25", "c"))
      .toDF("id", "dt", "payload")
    val p24 = new java.io.File(s"$root/dt=2022-11-24")
    val before = p24.listFiles().map(_.getName).toSet
    ParquetUpsertSink.upsert(spark, day2, root, "id", partitionCol = Some("dt"))
    // untouched partition files unchanged
    assert(p24.listFiles().map(_.getName).toSet == before)
    val got = spark.read.parquet(root).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("payload")).toMap
    assert(got == Map("k1" -> "a", "k2" -> "B", "k3" -> "c"))
  }

  test("partitioned upsert rejects null partition values loudly") {
    val root = tmpDir("upsert_null") + "/t"
    val seed = Seq(("k1", "2022-11-24", "a")).toDF("id", "dt", "payload")
    ParquetUpsertSink.upsert(spark, seed, root, "id", partitionCol = Some("dt"))
    // a null dt would land in __HIVE_DEFAULT_PARTITION__, which the
    // string-matched touched-partition logic cannot address — must fail
    val bad = Seq(("k2", null: String, "b")).toDF("id", "dt", "payload")
    val e = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(spark, bad, root, "id", partitionCol = Some("dt"))
    }
    assert(e.getMessage.contains("null values in partition column"))
    // table untouched by the failed batch
    assert(spark.read.parquet(root).count() == 1)
  }

  test("upsert promote is crash-safe: a complete table survives a kill at any step") {
    import org.apache.hadoop.fs.Path
    val path = tmpDir("upsert_crash") + "/t"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq(("k1", "a"), ("k2", "b")).toDF("id", "payload")
    ParquetUpsertSink.upsert(spark, v1, path, "id")

    // Simulate a crash AFTER staging was fully written but BEFORE the
    // table was moved aside: staging exists + live table exists.
    val v2 = Seq(("k2", "B")).toDF("id", "payload")
    v2.write.mode("overwrite").parquet(path + "__staging")
    ParquetUpsertSink.recover(spark, path)
    // the live table wins; stale staging is discarded
    assert(!fs.exists(new Path(path + "__staging")))
    assert(spark.read.parquet(path).count() == 2)

    // Simulate a crash mid-promote: table renamed to backup, staging
    // complete, table path absent — the newest complete copy (staging)
    // must be promoted.
    v2.write.mode("overwrite").parquet(path + "__staging")
    fs.rename(new Path(path), new Path(path + "__backup"))
    ParquetUpsertSink.recover(spark, path)
    assert(fs.exists(new Path(path)) && !fs.exists(new Path(path + "__backup")))
    val got = spark.read.parquet(path).collect().map(_.getString(0)).toSet
    assert(got == Set("k2"))

    // Simulate a crash with only a backup left (and a half-written,
    // marker-less staging): backup must be restored.
    fs.rename(new Path(path), new Path(path + "__backup"))
    v2.write.mode("overwrite").parquet(path + "__staging")
    fs.delete(new Path(path + "__staging/_SUCCESS"), false)
    ParquetUpsertSink.recover(spark, path)
    assert(fs.exists(new Path(path)))
    assert(!fs.exists(new Path(path + "__backup")))
    assert(!fs.exists(new Path(path + "__staging")))
    // an upsert after recovery works normally
    ParquetUpsertSink.upsert(spark, v1, path, "id")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("upsert returns the deduped batch's row count, an empty batch included") {
    val path = tmpDir("upsert_count") + "/t"
    val v1 = Seq(("k1", "a"), ("k1", "a"), ("k2", "b")).toDF("id", "payload")
    assert(ParquetUpsertSink.upsert(spark, v1, path, "id") == 2L)
    // a merge into existing data counts the batch's keys only
    val v2 = Seq(("k2", "B"), ("k3", "c"), ("k3", "c")).toDF("id", "payload")
    assert(ParquetUpsertSink.upsert(spark, v2, path, "id") == 2L)
    assert(ParquetUpsertSink.upsert(spark, v2.filter($"id" === "none"), path, "id") == 0L)
    assert(spark.read.parquet(path).count() == 3)
    val ordered = Seq(("k4", "old", 1), ("k4", "new", 2)).toDF("id", "payload", "ver")
    assert(ParquetUpsertSink.upsert(spark, ordered, path + "_ordered", "id", Some("ver")) == 1L)
  }

  test("schema drift: an extra or missing batch column fails; a retyped one merges as before") {
    // the live rows are read with the schema of a data file's footer,
    // and the batch and the live rows meet in one union by name
    val base = Seq(("k1", "a", 1), ("k2", "b", 2)).toDF("id", "payload", "n")
    def live(name: String): String = {
      val path = tmpDir(name) + "/t"
      ParquetUpsertSink.upsert(spark, base, path, "id")
      path
    }
    def rows(path: String): (String, Seq[String]) = {
      val t = spark.read.parquet(path)
      (t.schema.simpleString, t.collect().map(_.toString).toSeq.sorted)
    }
    val before = ("struct<id:string,payload:string,n:int>", Seq("[k1,a,1]", "[k2,b,2]"))

    // a column the live table lacks
    val extra = live("drift_extra")
    intercept[org.apache.spark.sql.AnalysisException] {
      ParquetUpsertSink.upsert(spark,
        Seq(("k2", "B", 2, "x")).toDF("id", "payload", "n", "extra"), extra, "id")
    }
    assert(rows(extra) == before)

    // a batch without a live column: the column's values have no
    // incoming side, so nothing is staged and the table keeps them
    val missing = live("drift_missing")
    intercept[org.apache.spark.sql.AnalysisException] {
      ParquetUpsertSink.upsert(spark, Seq(("k2", 3)).toDF("id", "n"), missing, "id")
    }
    assert(rows(missing) == before)

    // a live column's type changed: a widening merges into the wider
    // type, a string column the batch brings as bigint fails the cast
    // of the live values and leaves the table as it was
    val widened = live("drift_widened")
    assert(ParquetUpsertSink.upsert(spark,
      Seq(("k2", "B", 3L)).toDF("id", "payload", "n"), widened, "id") == 1L)
    assert(rows(widened) == (("struct<id:string,payload:string,n:bigint>", Seq("[k1,a,1]", "[k2,B,3]"))))
    val retyped = live("drift_retyped")
    intercept[NumberFormatException] {
      ParquetUpsertSink.upsert(spark, Seq(("k2", 7L, 2)).toDF("id", "payload", "n"), retyped, "id")
    }
    assert(rows(retyped) == before)
  }

  test("partitioned upsert refuses a column whose type differs from the live table's") {
    // only the touched partition would be rewritten, so a retyped
    // column would leave two types in one table, which no read
    // reconciles; the check runs before anything is staged
    val path = tmpDir("drift_partitioned") + "/t"
    ParquetUpsertSink.upsert(spark, Seq(("k1", "a", 1), ("k2", "b", 2)).toDF("id", "payload", "n"),
      path, "id", partitionCol = Some("n"))
    val e = intercept[IllegalArgumentException] {
      ParquetUpsertSink.upsert(spark, Seq(("k2", 7L, 2)).toDF("id", "payload", "n"),
        path, "id", partitionCol = Some("n"))
    }
    assert(e.getMessage.contains("column 'payload'"), e.getMessage)
    val t = spark.read.parquet(path)
    assert(t.schema.simpleString == "struct<id:string,payload:string,n:int>")
    assert(t.collect().map(_.toString).toSeq.sorted == Seq("[k1,a,1]", "[k2,b,2]"))
  }

  test("an upsert into a non-empty table writes through one shuffle exchange (plain, orderCol, partitioned)") {
    import org.apache.spark.graftbridge.ListenerBridge
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val v1 = Seq(("k1", "2022-11-24", "a", 1), ("k2", "2022-11-25", "b", 1))
      .toDF("id", "dt", "payload", "ver")
    val v2 = Seq(("k2", "2022-11-25", "B", 2), ("k2", "2022-11-25", "old", 1), ("k3", "2022-11-25", "c", 2))
      .toDF("id", "dt", "payload", "ver")
    val forms = Seq(("plain", None, None), ("orderCol", Some("ver"), None), ("partitioned", None, Some("dt")))
    forms.foreach { case (form, orderCol, partitionCol) =>
      val path = tmpDir(s"upsert_one_exchange_$form") + "/t"
      ParquetUpsertSink.upsert(spark, v1, path, "id", orderCol, partitionCol)
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      plans.clear()
      spark.listenerManager.register(listener)
      try assert(ParquetUpsertSink.upsert(spark, v2, path, "id", orderCol, partitionCol) == 2L)
      finally {
        ListenerBridge.waitUntilEmpty(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      val writes = plans.toArray(Array.empty[SparkPlan]).toSeq
        .filter(Plans.find(_)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
      assert(writes.size == 1, s"$form: ${writes.size} writes")
      val exchanges = Plans.collectWithSubqueries(writes.head) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"$form: ${exchanges.size} exchanges in\n${writes.head}")
      val got = spark.read.parquet(path).collect()
        .map(r => r.getAs[String]("id") -> r.getAs[String]("payload")).toMap
      assert(got("k1") == "a" && got("k3") == "c" && Set("B", "old").contains(got("k2")), s"$form: $got")
      if (orderCol.nonEmpty) assert(got("k2") == "B")
    }
  }

  test("a first partitioned batch that fails mid-write leaves the live table empty; recover cleans up") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    FileSystem.closeAll()
    val table = s"graftfs://${tmpDir("upsert_part_crash")}/t"
    val fs = new Path(table).getFileSystem(conf)
    val batch = Seq(("k1", "2022-11-24", "a"), ("k2", "2022-11-25", "b"))
      .toDF("id", "dt", "payload")
    // the job commit moves one partition dir into place, then fails on
    // the second: the write dies half-committed
    val partitionMoves = new java.util.concurrent.atomic.AtomicInteger
    GraftTestFileSystem.failRename = (_, dst) =>
      dst.getName.startsWith("dt=") && partitionMoves.incrementAndGet() == 2
    try intercept[Exception](ParquetUpsertSink.upsert(spark, batch, table, "id", partitionCol = Some("dt")))
    finally GraftTestFileSystem.failRename = (_, _) => false
    assert(partitionMoves.get() >= 2, "the fault never fired")
    assert(ParquetUpsertSink.visibleDataFiles(fs, new Path(table)).isEmpty)
    ParquetUpsertSink.recover(spark, table)
    assert(!fs.exists(new Path(table + "__staging")) && !fs.exists(new Path(table + "__backup")))
    assert(ParquetUpsertSink.visibleDataFiles(fs, new Path(table)).isEmpty)
    ParquetUpsertSink.upsert(spark, batch, table, "id", partitionCol = Some("dt"))
    val got = spark.read.parquet(table).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("payload")).toMap
    assert(got == Map("k1" -> "a", "k2" -> "b"))
  }

  test("an empty partitioned write leaves the live table as it was and does not create it") {
    import org.apache.hadoop.fs.Path
    val table = tmpDir("empty_partitioned") + "/t"
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      ParquetUpsertSink.stageAndPromote(spark, df, path, Some("__batch_id"))
    Seq(0L, 1L).foreach(b => write(Seq((s"k$b", b)).toDF("id", "__batch_id"), table))
    def rows = spark.read.parquet(table).collect().map(r => r.getString(0) -> r.getInt(1)).toSet
    assert(rows == Set("k0" -> 0, "k1" -> 1))
    val empty = Seq.empty[(String, Long)].toDF("id", "__batch_id")
    write(empty, table)
    assert(rows == Set("k0" -> 0, "k1" -> 1))
    assert(ParquetUpsertSink.upsert(spark, empty, table, "id", partitionCol = Some("__batch_id")) == 0L)
    assert(rows == Set("k0" -> 0, "k1" -> 1))
    assert(!fs.exists(new Path(table + "__staging")) && !fs.exists(new Path(table + "__backup")))
    val fresh = tmpDir("empty_partitioned") + "/t"
    write(empty, fresh)
    assert(!fs.exists(new Path(fresh)) && !fs.exists(new Path(fresh + "__staging")))
  }

  /** The sink fault matrix on `graftfs://`: a later batch (two
    * updates and one insert, one key left alone) into a non-empty
    * table, run once for every rename and once for every delete the
    * upsert reaches (Spark's task and job commit into the staging
    * included), with that call failing. After each fault `recover`
    * must leave exactly the pre-batch or the post-batch rows and no
    * promote state, and rerunning the upsert must land the post-batch
    * rows. */
  private def faultMatrix(partitionCol: Option[String]): Unit = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    FileSystem.closeAll()
    val root = tmpDir("upsert_faults")
    val local = FileSystem.getLocal(conf).getRawFileSystem
    val pre = Seq(("k0", "2022-11-23", "z"), ("k1", "2022-11-24", "a"), ("k2", "2022-11-25", "b"))
      .toDF("id", "dt", "payload")
    val batch = Seq(("k1", "2022-11-24", "A"), ("k2", "2022-11-25", "B"), ("k3", "2022-11-26", "c"))
      .toDF("id", "dt", "payload")
    val preRows = Map("k0" -> "z", "k1" -> "a", "k2" -> "b")
    val postRows = Map("k0" -> "z", "k1" -> "A", "k2" -> "B", "k3" -> "c")
    ParquetUpsertSink.upsert(spark, pre, s"$root/template", "id", partitionCol = partitionCol)
    def rows(table: String): Map[String, String] = spark.read.parquet(table).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("payload")).toMap

    val trials = new AtomicInteger
    val renames, deletes = new AtomicInteger
    /** Upserts `batch` into a fresh copy of the pre-batch table with
      * the `failRenameAt`-th rename or the `failDeleteAt`-th delete
      * under it failing (0: none); returns the table. The upsert may
      * throw or not: the rows are checked either way. */
    def run(failRenameAt: Int, failDeleteAt: Int): String = {
      val dir = s"$root/t${trials.incrementAndGet()}"
      assert(FileUtil.copy(local, new Path(s"$root/template"), local, new Path(dir), false, conf))
      def mine(p: Path): Boolean = p.toUri.getPath.startsWith(dir)
      renames.set(0)
      deletes.set(0)
      GraftTestFileSystem.failRename = (src, _) =>
        mine(src) && renames.incrementAndGet() == failRenameAt
      GraftTestFileSystem.failDelete = p => mine(p) && deletes.incrementAndGet() == failDeleteAt
      val table = s"graftfs://$dir"
      try scala.util.Try(
        ParquetUpsertSink.upsert(spark, batch, table, "id", partitionCol = partitionCol))
      finally {
        GraftTestFileSystem.failRename = (_, _) => false
        GraftTestFileSystem.failDelete = _ => false
      }
      table
    }

    assert(rows(run(0, 0)) == postRows)
    val (nRenames, nDeletes) = (renames.get, deletes.get)
    assert(nRenames >= 3 && nDeletes >= 1, s"$nRenames renames, $nDeletes deletes")
    info(s"faulting each of $nRenames renames and $nDeletes deletes")
    val faults = (1 to nRenames).map(n => (s"rename $n", n, 0)) ++
      (1 to nDeletes).map(n => (s"delete $n", 0, n))
    faults.foreach { case (fault, r, d) =>
      val table = run(r, d)
      assert(renames.get >= r && deletes.get >= d, s"$fault of $nRenames/$nDeletes never fired")
      ParquetUpsertSink.recover(spark, table)
      val fs = new Path(table).getFileSystem(conf)
      assert(!fs.exists(new Path(table + "__staging")) && !fs.exists(new Path(table + "__backup")),
        s"$fault: promote state left after recover")
      val got = rows(table)
      assert(got == preRows || got == postRows, s"$fault: recovered to a mix: $got")
      ParquetUpsertSink.upsert(spark, batch, table, "id", partitionCol = partitionCol)
      assert(rows(table) == postRows, s"$fault: rerun after recover")
    }
  }

  test("sink fault matrix: a failed rename or delete anywhere in an upsert recovers to pre or post rows") {
    faultMatrix(partitionCol = None)
  }

  test("sink fault matrix: a failed rename or delete anywhere in a partitioned upsert recovers to pre or post rows") {
    faultMatrix(partitionCol = Some("dt"))
  }
}
