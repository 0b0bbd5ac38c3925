package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.config.EntitySchema
import graft.jobs.{Executor, IngestorJob}
import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val vehicleSchema = EntitySchema.reference.head

  private def writeLanding(dir: String, name: String, lines: String*): Unit =
    Files.write(Paths.get(s"$dir/$name"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Simulate the crash window of the last micro-batch: its output
    * landed but its streaming commit marker did not, so a restart
    * replays it under the same batch id. */
  private def dropLastCommit(checkpointDir: String): Unit = {
    val commitDir = new java.io.File(s"$checkpointDir/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val last = commits.last.getName
    assert(commits.last.delete())
    // the checksum sibling too, or the local FS refuses the rewrite
    val crc = new java.io.File(commitDir, s".$last.crc")
    if (crc.exists()) crc.delete()
  }

  test("AvailableNow drain is incremental and exactly-once across runs") {
    val root = tmpDir("stream")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    writeLanding(landing, "a.json",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:02:10Z"}}}""",
      // duplicate key within the batch → deduped by the stream
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:02:10Z"}}}""",
      """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:00:05Z", "organization_id": "o", "data": {"id": "op-1", "start": "2022-11-24T08:00:00Z", "finish": "2022-11-24T20:00:00Z"}}""")

    StreamingEtl.drainEntity(spark, landing, vehicleSchema,
      s"$root/out", s"$root/ckpt")
    val first = spark.read.parquet(s"$root/out")
    assert(first.count() == 1) // only the vehicle row, deduped

    // re-drain with no new files → no new rows (checkpointed offsets)
    StreamingEtl.drainEntity(spark, landing, vehicleSchema,
      s"$root/out", s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").count() == 1)

    // land a new file → only it is processed
    writeLanding(landing, "b.json",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T11:00:00Z", "organization_id": "o", "data": {"id": "v-2", "location": {"lat": 3.0, "lng": 4.0, "at": "2022-11-24T10:59:59Z"}}}""")
    StreamingEtl.drainEntity(spark, landing, vehicleSchema,
      s"$root/out", s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").count() == 2)
  }

  test("maxFilesPerTrigger rate-limits the drain into bounded micro-batches") {
    val root = tmpDir("ratelimit")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      writeLanding(landing, s"f$i.json",
        s"""{"event": "update", "on": "vehicle", "at": "2022-11-24T10:0$i:00Z", "organization_id": "o", "data": {"id": "v-$i", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:0$i:00Z"}}}""")
    }
    // limit 1 file per trigger → the AvailableNow drain must take (at
    // least) 3 micro-batches; each batch leaves one offsets entry
    StreamingEtl.drainEntity(spark, landing, vehicleSchema,
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = 1)
    val batches = new java.io.File(s"$root/ckpt/offsets").list()
      .count(!_.startsWith("."))
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    assert(spark.read.parquet(s"$root/out").count() == 3)

    // unbounded-enough limit → the same load is a single batch
    val root2 = tmpDir("ratelimit2")
    val landing2 = s"$root2/landing"; Files.createDirectories(Paths.get(landing2))
    (0 until 3).foreach { i =>
      writeLanding(landing2, s"f$i.json",
        s"""{"event": "update", "on": "vehicle", "at": "2022-11-24T10:0$i:00Z", "organization_id": "o", "data": {"id": "v-$i", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:0$i:00Z"}}}""")
    }
    StreamingEtl.drainEntity(spark, landing2, vehicleSchema,
      s"$root2/out", s"$root2/ckpt", maxFilesPerTrigger = 64)
    val batches2 = new java.io.File(s"$root2/ckpt/offsets").list()
      .count(!_.startsWith("."))
    assert(batches2 <= 2, s"expected a single data batch, got $batches2")
    assert(spark.read.parquet(s"$root2/out").count() == 3)
  }

  test("drainEntity leaves the warehouse rows Executor hours leave over the same landing files") {
    val root = tmpDir("parity")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    writeLanding(landing, "a.json",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:02:10Z"}}}""",
      """{"event": "update", "on": "vehicle", THIS IS NOT JSON""",
      """{"event": "create", "on": "trailer", "at": "2022-11-24T10:03:00Z", "organization_id": "o", "data": {"id": "t-1"}}""")
    // the same key (id, at) re-sent later with a new payload
    writeLanding(landing, "b.json",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1", "location": {"lat": 9.0, "lng": 2.0, "at": "2022-11-24T10:02:10Z"}}}""")
    // one file per hour, as the Executor's cursor takes them
    Seq("a.json" -> 60L, "b.json" -> 3660L).foreach { case (f, s) =>
      Files.setLastModifiedTime(Paths.get(s"$landing/$f"),
        FileTime.from(IngestorJob.coldStart.plusSeconds(s)))
    }
    val hours = Executor.Args(root = s"$root/batch", landing = Some(landing))
    Executor.run(spark, hours)
    Executor.run(spark, hours)
    // one file per micro-batch (oldest first), as one file per hour
    StreamingEtl.drainEntity(spark, landing, vehicleSchema,
      s"$root/stream", s"$root/ckpt", maxFilesPerTrigger = 1)

    val batch = spark.read.parquet(s"$root/batch/tables/vehicle_location")
    val stream = spark.read.parquet(s"$root/stream")
    assert(stream.dtypes.toSeq == batch.dtypes.toSeq)
    val rows = batch.collect()
    assert(stream.collect().toSet == rows.toSet)
    // one row: the latest payload, with its file's lineage
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("vehicle_latitude") == 9.0)
    assert(rows.head.getAs[String]("original_s3_file_path").endsWith("landing/b.json"))
  }

  test("watermarked hourly window counts per entity") {
    val root = tmpDir("streamwin")
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    writeLanding(landing, "a.json",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "o", "data": {"id": "v-1"}}""",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:59:00Z", "organization_id": "o", "data": {"id": "v-2"}}""",
      """{"event": "update", "on": "vehicle", "at": "2022-11-24T11:01:00Z", "organization_id": "o", "data": {"id": "v-3"}}""",
      """{"event": "create", "on": "operating_period", "at": "2022-11-24T10:30:00Z", "organization_id": "o", "data": {"id": "op-1"}}""")
    val q = StreamingEtl.hourlyCounts(
        StreamingEtl.eventStream(spark, landing))
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hourly").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2022-11-24 10:00:00.0", "vehicle") -> 2L,
      ("2022-11-24 11:00:00.0", "vehicle") -> 1L,
      ("2022-11-24 10:00:00.0", "operating_period") -> 1L))
  }

  test("streaming document dedup keeps first-seen content across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.dedupDocStream(
        input.toDS().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("docdedup")
      .outputMode(OutputMode.Update).start()
    input.addData((1L, "alpha beta"), (2L, "ALPHA   beta"), (3L, "gamma"))
    q.processAllAvailable()
    // normalization collapses 1 and 2
    assert(spark.table("docdedup").count() == 2)
    input.addData((4L, "alpha beta"), (5L, "delta"))
    q.processAllAvailable()
    // cross-batch state: 4 is suppressed, 5 admitted
    val ids = spark.table("docdedup").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L))
    q.stop()
  }

  test("bounded dedup drops in-window dups and evicts state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingEtl.dedupDocStreamBounded(
        input.toDS().toDF("doc_id", "text", "ts"), "text", "ts",
        watermark = "25 seconds")
      .writeStream.format("memory").queryName("docdedupb")
      .outputMode(OutputMode.Update).start()
    def stateRows: Long = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    input.addData((1L, "alpha beta", ts(0)), (2L, "gamma", ts(0)))
    q.processAllAvailable()
    assert(stateRows == 2)
    // batch 2 (+60s): dup of batch 1 is still in state (watermark has
    // only advanced to -25s of batch 1) and is dropped
    input.addData((3L, "alpha beta", ts(60)), (4L, "delta", ts(60)))
    q.processAllAvailable()
    var ids = spark.table("docdedupb").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L))
    // batch 3 (+120s): watermark reaches 95s, evicting batch-1 state
    // (expired at 25s) — a re-sent batch-1 dup is admitted again,
    // and total state stays bounded instead of accumulating
    input.addData((5L, "alpha beta", ts(120)))
    q.processAllAvailable()
    ids = spark.table("docdedupb").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L, 5L),
      s"expired fingerprint should readmit its content: $ids")
    assert(stateRows <= 3, s"state should have evicted batch-1 rows: $stateRows")
    q.stop()
  }

  test("stream-static decontamination flags overlapping docs with no stream state") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.decontaminateStream(
        input.toDS().toDF("doc_id", "text"), evalDocs, "doc_id", "text", n = 3)
      .writeStream.format("memory").queryName("streamdecon")
      .outputMode(OutputMode.Update).start()
    input.addData((1L, "zz alpha beta gamma yy"), (2L, "clean words only here"))
    q.processAllAvailable()
    input.addData((3L, "beta gamma delta trailing"))
    q.processAllAvailable()
    val got = spark.table("streamdecon")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L), got.toString)
    q.stop()
  }

  test("streaming DSIR scoring: frozen model, stream ≡ batch row-identical") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.text.Dsir
    import org.apache.spark.sql.functions.col
    // target speaks {alpha..gamma}; raw mixes target-like, off-domain,
    // and a blank doc, split across two micro-batches
    val target = Seq((900L, "alpha beta gamma alpha beta"))
      .toDF("doc_id", "text")
    val b1 = Seq((1L, "alpha beta gamma"), (2L, "zork quux blarg"))
    val b2 = Seq((3L, "beta gamma alpha alpha"), (4L, "   "))
    val rawAll = (b1 ++ b2).toDF("doc_id", "text")
    // the frozen-at-rest posture: model trained once on the snapshot
    val model = Dsir.train(target, rawAll, "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.dsirScoreStream(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("streamdsir")
      .outputMode(OutputMode.Update).start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))
    val streamed = spark.table("streamdsir").collect().map(key).toSet
    val batch = Dsir.scoreAgainst(rawAll, "doc_id", "text", model)
      .collect().map(key).toSet
    assert(streamed === batch, s"stream $streamed vs batch $batch")
    assert(streamed.size === 4)
    // blank doc kept as a zero row; the planted split separates
    val byId = spark.table("streamdsir").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(4L).getLong(1) === 0L && !byId(4L).getBoolean(4))
    assert(byId(1L).getBoolean(4) && byId(3L).getBoolean(4))
    assert(!byId(2L).getBoolean(4))
  }

  test("streaming curation pipeline: dedup + quality gate + decontamination + scrub") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("streamcuration")
    val evalDocs = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.curationStream(
      input.toDS().toDF("doc_id", "text"), evalDocs, "doc_id", "text",
      s"$root/corpus", s"$root/ckpt", minQuality = 0.35)
    input.addData(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "The  QUICK brown fox jumps over the lazy dog and runs far away home"),
      (3L, "!!!???!!!"),
      (4L, "we suspect alpha beta gamma is part of the holdout benchmark split"),
      (5L, "please write to bob@example.com for all of the remaining details here"))
    q.processAllAvailable()
    input.addData(
      (6L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (7L, "a completely different document with plenty of ordinary words in it"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$root/corpus")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 2 deduped in-batch, 6 deduped ACROSS batches, 3 quality-gated,
    // 4 decontaminated against the eval split; 1, 5, 7 survive
    assert(out.keySet == Set(1L, 5L, 7L), out.keySet.toString)
    assert(out(5L).contains("<EMAIL>") && !out(5L).contains("@"), out(5L))
  }

  test("curation pipeline recovers dedup state from the checkpoint across restarts") {
    val root = tmpDir("curationrestart")
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    val evalDocs = Seq((100L, "benchmark holdout grams nothing shares")).toDF("doc_id", "text")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING").json(landing)
      val q = StreamingEtl.curationStream(stream, evalDocs, "doc_id", "text",
        s"$root/corpus", s"$root/ckpt", minQuality = 0.0)
      q.processAllAvailable()
      q.stop()
    }
    writeLanding(landing, "b1.json",
      """{"doc_id":1,"text":"the quick brown fox jumps over the lazy dog tonight"}""")
    runOnce()
    // a SEPARATE run (new query instance, same checkpoint): the
    // duplicate of doc 1 must still be suppressed — dedup state came
    // back from the checkpoint, not from the in-memory query
    writeLanding(landing, "b2.json",
      """{"doc_id":2,"text":"THE  quick  BROWN fox jumps over the lazy dog tonight"}""",
      """{"doc_id":3,"text":"an entirely different document about ordinary daily things"}""")
    runOnce()
    val ids = spark.read.parquet(s"$root/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), ids.toString)
  }

  test("a replayed micro-batch does not duplicate curated output (idempotent write)") {
    val root = tmpDir("curationreplay")
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    val evalDocs = Seq((100L, "benchmark holdout grams nothing shares")).toDF("doc_id", "text")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING").json(landing)
      val q = StreamingEtl.curationStream(stream, evalDocs, "doc_id", "text",
        s"$root/corpus", s"$root/ckpt", minQuality = 0.0)
      q.processAllAvailable()
      q.stop()
    }
    writeLanding(landing, "b1.json",
      """{"doc_id":1,"text":"the quick brown fox jumps over the lazy dog tonight"}""")
    runOnce()
    // on restart the engine replays the batch, and the sink's staged
    // promote of the batch's partition must rewrite, not append
    dropLastCommit(s"$root/ckpt")
    runOnce()
    val out = spark.read.parquet(s"$root/corpus")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L), s"replay duplicated rows: $out")
  }

  test("a replayed n-gram dedup micro-batch leaves output and seen-state equal to the fault-free run") {
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    // two batches (the second re-uses the first one's passage, so its
    // verdicts depend on the at-rest state), then optionally the
    // replay of the second
    def run(root: String, replaySecond: Boolean) = {
      val landing = s"$root/landing"
      new java.io.File(landing).mkdirs()
      def runOnce(): Unit = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING").json(landing)
        val q = StreamingEtl.ngramDedupStream(stream, "doc_id", "text",
          s"$root/out", s"$root/seen", s"$root/ckpt", gramTokens = 5)
        q.processAllAvailable()
        q.stop()
      }
      writeLanding(landing, "b1.json",
        doc(1, s"$passage india juliet"), doc(2, s"kilo lima $passage"))
      runOnce()
      writeLanding(landing, "b2.json",
        doc(3, s"mike november $passage oscar"),
        doc(4, "papa quebec romeo sierra tango uniform victor whiskey"))
      runOnce()
      if (replaySecond) {
        dropLastCommit(s"$root/ckpt")
        runOnce()
        assert(new java.io.File(s"$root/ckpt/commits/1").exists(),
          "the replayed batch did not commit")
      }
      val out = spark.read.parquet(s"$root/out")
        .select($"doc_id", $"n_tokens", $"n_kept", $"text_kept", $"__batch_id")
        .orderBy($"doc_id").collect().toSeq
      val seen = spark.read.parquet(s"$root/seen")
        .select($"gram", $"__batch_id").orderBy($"gram").collect().toSeq
      (out, seen)
    }
    val (out, seen) = run(tmpDir("ngramreplay"), replaySecond = true)
    val (cleanOut, cleanSeen) = run(tmpDir("ngramclean"), replaySecond = false)
    assert(out.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L), s"replay duplicated rows: $out")
    assert(seen.distinct.length == seen.length, s"replay duplicated state: $seen")
    assert(out == cleanOut, s"replay=$out clean=$cleanOut")
    assert(seen == cleanSeen, s"replay=$seen clean=$cleanSeen")
    // the replayed batch saw the first batch's state, not its own delta
    val d3 = out.find(_.getLong(0) == 3L).get
    assert(d3.getLong(2) < d3.getLong(1) && !d3.getString(3).contains("charlie"), d3.toString)
    assert(out.find(_.getLong(0) == 4L).get.getLong(2) == 8L)
  }

  test("a failed rename or delete anywhere in an n-gram dedup batch's commit leaves, after a restart, the fault-free output and seen-state") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    FileSystem.closeAll()
    val local = FileSystem.getLocal(conf).getRawFileSystem
    def copy(from: String, to: String): Unit =
      assert(FileUtil.copy(local, new Path(from), local, new Path(to), false, conf))
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val root = tmpDir("ngramfaults")
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    // one drain of the landing files: out and seen dirs on graftfs, the
    // checkpoint on the local FS
    def runOnce(dir: String): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING").json(landing)
      val q = StreamingEtl.ngramDedupStream(stream, "doc_id", "text",
        s"graftfs://$dir/out", s"graftfs://$dir/seen", s"$dir/ckpt", gramTokens = 5)
      try q.processAllAvailable() finally q.stop()
    }
    // two templates every run copies: "first" has run batch 0, so a run
    // commits batch 1 for the first time; "replay" has run batch 1 too
    // but lost its commit marker, so a run replays batch 1 over its own
    // live partitions. Batch 1 re-uses batch 0's passage, so its
    // verdicts depend on the at-rest state.
    writeLanding(landing, "b1.json",
      doc(1, s"$passage india juliet"), doc(2, s"kilo lima $passage"))
    runOnce(s"$root/first")
    writeLanding(landing, "b2.json",
      doc(3, s"mike november $passage oscar"),
      doc(4, "papa quebec romeo sierra tango uniform victor whiskey"))
    copy(s"$root/first", s"$root/replay")
    runOnce(s"$root/replay")
    dropLastCommit(s"$root/replay/ckpt")

    val trials = new AtomicInteger
    val renames, deletes = new AtomicInteger
    /** Batch 1 on a copy of `template` with the `failRenameAt`-th
      * rename or the `failDeleteAt`-th delete under the copy's tables
      * failing (0: none), then a restart from the checkpoint; returns
      * the copy's dir. The faulted run may throw or not. */
    def run(template: String, failRenameAt: Int, failDeleteAt: Int): String = {
      val dir = s"$root/t${trials.incrementAndGet()}"
      copy(template, dir)
      def mine(p: Path): Boolean = p.toUri.getPath.startsWith(dir)
      renames.set(0)
      deletes.set(0)
      GraftTestFileSystem.failRename = (src, _) =>
        mine(src) && renames.incrementAndGet() == failRenameAt
      GraftTestFileSystem.failDelete = p => mine(p) && deletes.incrementAndGet() == failDeleteAt
      try scala.util.Try(runOnce(dir))
      finally {
        GraftTestFileSystem.failRename = (_, _) => false
        GraftTestFileSystem.failDelete = _ => false
      }
      runOnce(dir)
      assert(new java.io.File(s"$dir/ckpt/commits/1").exists(), s"$dir: batch 1 did not commit")
      dir
    }
    /** Promote state left under `dir`, then its output and seen rows. */
    def state(dir: String) = {
      val fs = new Path(s"graftfs://$dir").getFileSystem(conf)
      val left = Seq("out", "seen").flatMap(t => Seq(s"${t}__staging", s"${t}__backup"))
        .filter(d => fs.exists(new Path(s"graftfs://$dir/$d")))
      val out = spark.read.parquet(s"graftfs://$dir/out")
        .select($"doc_id", $"n_tokens", $"n_kept", $"text_kept", $"__batch_id")
        .orderBy($"doc_id").collect().toSeq
      val seen = spark.read.parquet(s"graftfs://$dir/seen")
        .select($"gram", $"__batch_id").orderBy($"gram").collect().toSeq
      (left, out, seen)
    }

    val clean = state(run(s"$root/first", 0, 0))
    assert(clean._1.isEmpty && clean._2.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L), clean.toString)
    for (template <- Seq("first", "replay")) {
      assert(state(run(s"$root/$template", 0, 0)) == clean, template)
      val (nRenames, nDeletes) = (renames.get, deletes.get)
      assert(nRenames >= 4 && nDeletes >= 2, s"$template: $nRenames renames, $nDeletes deletes")
      info(s"$template: faulting each of $nRenames renames and $nDeletes deletes")
      val faults = (1 to nRenames).map(n => (s"$template, rename $n", n, 0)) ++
        (1 to nDeletes).map(n => (s"$template, delete $n", 0, n))
      faults.foreach { case (fault, r, d) =>
        val got = state(run(s"$root/$template", r, d))
        assert(renames.get >= r && deletes.get >= d, s"$fault of $nRenames/$nDeletes never fired")
        assert(got == clean, s"$fault: $got, fault-free $clean")
      }
    }
  }

  test("foreachBatch upsert sink is last-write-wins across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("streamupsert")
    val input = MemoryStream[(String, Int)]
    val q = StreamingEtl.upsertStream(
      input.toDS().toDF("id", "v"), s"$root/t", "id", s"$root/ckpt")
    input.addData(("k1", 1), ("k2", 1))
    q.processAllAvailable()
    input.addData(("k2", 2), ("k3", 2)) // k2 updated across batches
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("k1" -> 1, "k2" -> 2, "k3" -> 2))
  }

  test("watermarked stream-stream join attributes purchases to prior clicks") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingEtl.purchaseAttribution(
      purchases.toDS().toDF("user_id", "ts", "purchase_id"),
      clicks.toDS().toDF("user_id", "ts", "click_id"))
    val q = joined.select($"purchase_id", $"click_id")
      .writeStream.format("memory").queryName("attribution")
      .outputMode(OutputMode.Append).start()
    clicks.addData((1L, ts(0), "c-in-window"), (1L, ts(-120), "c-too-old"),
      (2L, ts(5), "c-other-user"))
    purchases.addData((1L, ts(30), "p1"))
    q.processAllAvailable()
    val got = spark.table("attribution").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("p1", "c-in-window")))
    q.stop()
  }

  test("stateful sessionization emits closed sessions, keeps open state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingEtl.SessionInput]
    val q = StreamingEtl.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()

    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: two events close together, then a 60-min gap, then one more
    input.addData(
      StreamingEtl.SessionInput(1, ts(0), 1.0),
      StreamingEtl.SessionInput(1, ts(5), 2.0))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0) // session still open

    input.addData(StreamingEtl.SessionInput(1, ts(65), 5.0))
    q.processAllAvailable()
    val closed = spark.table("sessions").as[StreamingEtl.SessionOutput].collect()
    assert(closed.length == 1)
    assert(closed.head.nEvents == 2 && closed.head.sumValue == 3.0)

    // event-time timeout: another user's far-future events advance the
    // watermark past user 1's last+gap (+10min watermark slack), so the
    // idle user's OPEN session flushes and their state is dropped
    input.addData(StreamingEtl.SessionInput(2, ts(300), 1.0))
    q.processAllAvailable() // watermark recomputed from this batch...
    input.addData(StreamingEtl.SessionInput(2, ts(301), 1.0))
    q.processAllAvailable() // ...and applied (timeouts fire) in the next
    val all = spark.table("sessions").as[StreamingEtl.SessionOutput].collect()
    val flushed = all.filter(s => s.userId == 1 && s.nEvents == 1)
    assert(flushed.length == 1 && flushed.head.sumValue == 5.0)
    q.stop()
  }

  test("streaming SCD2 maintains type-2 history across batches and restart") {
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("scd2stream") + "/hist"
    val ckpt = tmpDir("scd2ckpt")
    val ord = Seq($"seq".desc)
    val input = MemoryStream[(Long, String, Long)]
    def start() = StreamingEtl.scd2Stream(
      input.toDS().toDF("k", "v", "seq"), table, Seq("k"), ord, ckpt)
    val q = start()
    input.addData((1L, "a", 1L), (1L, "b", 2L), (2L, "x", 1L))
    q.processAllAvailable()
    val h1 = spark.read.parquet(table)
    assert(h1.count() === 2)                       // latest-per-key of batch 1
    assert(h1.filter($"k" === 1 && $"v" === "b").count() === 1)
    input.addData((1L, "c", 3L))
    q.processAllAvailable()
    val h2 = spark.read.parquet(table)
    assert(h2.count() === 3)                       // k=1 closed + reopened, k=2 untouched
    assert(h2.filter($"k" === 1 && $"is_current" && $"v" === "c").count() === 1)
    assert(h2.filter($"k" === 1 && !$"is_current" && $"valid_to".isNotNull).count() === 1)
    assert(h2.filter($"k" === 2 && $"is_current").count() === 1)
    q.stop()
    // restart from the same checkpoint: new batches keep versioning
    val q2 = start()
    input.addData((2L, "y", 9L))
    q2.processAllAvailable()
    val h3 = spark.read.parquet(table)
    assert(h3.count() === 4)
    assert(h3.filter($"k" === 2 && $"is_current" && $"v" === "y").count() === 1)
    // as-of still reconstructs the first version
    val v1 = graft.operators.Scd2.asOf(h3, 1)
    assert(v1.count() === 2)
    q2.stop()
  }

  test("streaming quality scoring: at-rest model reused across batches, row-identical to batch scoring") {
    implicit val sqlCtx = spark.sqlContext
    // the at-rest model: trained ONCE on the fixed snapshot of the
    // real corpus (the docs_quality_clf_ref posture), then reused by
    // every micro-batch as plan literals
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
    val w = graft.ext.text.QualityClassifier.cachedRefTrain(
      corpus, "doc_id", "text", maxRefId = 5000L, iters = 2,
      source = "streamscorespec")
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.scoreStream(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", w)
      .writeStream.format("memory").queryName("qscorestream")
      .outputMode(OutputMode.Append).start()
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzz qqq www xxx yyy"),
      (3L, ""))
    val b2 = Seq(
      (4L, "the and of to in is it a an"),
      (5L, "kjhg asdf qwer zxcv poiu"))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)     // SAME w — the model is not retrained
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qscorestream")
      .orderBy($"doc_id").collect()
    // parity against the BATCH aggregate-form scorer over the union
    val batch = graft.ext.text.QualityClassifier.score(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", w)
      .orderBy($"doc_id").collect()
    assert(streamed.sameElements(batch),
      s"stream=${streamed.mkString(";")} batch=${batch.mkString(";")}")
  }

  test("cross-batch hashed-gram dedup: stream output equals the batch operator over the concatenated corpus") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("ngramstream")
    val W = 5
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val b1 = Seq(
      (1L, s"$passage india juliet"),
      // shares the 8-token passage with doc 1 at a shifted position:
      // IN-BATCH dedup must remove exactly the covered tokens
      (2L, s"kilo lima $passage"))
    val b2 = Seq(
      // duplicates doc 1's passage ACROSS batches: only the at-rest
      // gram state can catch it
      (3L, s"mike november $passage oscar"),
      (4L, "papa quebec romeo sierra tango uniform victor whiskey"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.ngramDedupStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/out", s"$root/seen", s"$root/ckpt", gramTokens = W)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"n_tokens", $"n_kept", $"text_kept")
      .orderBy($"doc_id").collect()
    // batches arrived in doc-id order, so the per-batch incremental
    // results must union to EXACTLY the batch operator's output over
    // the whole corpus (first occurrence = lowest (batch, doc, pos)
    // = lowest (doc, pos))
    val batch = graft.ext.dedup.BlockDedup.dedupNgramsHashed(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", gramTokens = W)
      .orderBy($"doc_id").collect()
    assert(streamed.sameElements(batch),
      s"stream=${streamed.mkString(";")} batch=${batch.mkString(";")}")
    // the cross-batch duplicate was actually caught: doc 3 lost the
    // whole passage, keeping only its fresh framing tokens
    val d3 = streamed.find(_.getLong(0) == 3L).get
    assert(d3.getLong(2) < d3.getLong(1), d3.toString)
    assert(!d3.getString(3).contains("charlie"), d3.getString(3))
    // and the state table holds only first-occurrence deltas: batch 2
    // added doc 4's fresh grams, none of doc 3's duplicated passage
    val seenB2 = spark.read.parquet(s"$root/seen")
      .filter($"__batch_id" === 1L).count()
    val seenB1 = spark.read.parquet(s"$root/seen")
      .filter($"__batch_id" === 0L).count()
    assert(seenB1 > 0 && seenB2 > 0 && seenB2 < seenB1,
      s"b1=$seenB1 b2=$seenB2")
  }

  test("cross-batch domain cap: stream kept set equals the batch operator over the concatenated corpus") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("domcapstream")
    val N = 2
    // id-monotone across batches; domain "a" fills in batch 1 (cap 2
    // of 3), "b" fills ACROSS batches (1+1), "c" stays under cap
    val b1 = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
    val b2 = Seq((5L, "b"), (6L, "b"), (7L, "c"), (8L, "a"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingEtl.domainCapStream(
      input.toDS().toDF("doc_id", "source"), "doc_id", "source",
      maxPerDomain = N, s"$root/out", s"$root/state", s"$root/ckpt")
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
    // kept SET parity with the batch operator over the union
    val batch = graft.ext.text.DomainCap.cap(
      (b1 ++ b2).toDF("doc_id", "source"), "doc_id", "source", N)
    assert(
      streamed.select($"doc_id", $"source").orderBy($"doc_id").collect().toSeq ===
        batch.select($"doc_id", $"source").orderBy($"doc_id").collect().toSeq)
    // cross-batch budget enforced: batch 2 admitted exactly one "b"
    // (5) and zero "a" (already full), and n_domain_so_far is the
    // running pre-cap total at emit time
    val byId = streamed.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byId.keySet === Set(1L, 2L, 4L, 5L, 7L))
    assert(byId(4L) === ("b", 1L)) // emitted in batch 1: 1 "b" seen so far
    assert(byId(5L) === ("b", 3L)) // emitted in batch 2: 1 + 2 seen
    // state is domain-sized per batch, not corpus-sized
    val st = spark.read.parquet(s"$root/state")
    assert(st.filter($"__batch_id" === 0L).count() === 2) // a, b
    assert(st.filter($"__batch_id" === 1L).count() === 3) // a, b, c
    // full-domain late id fails loudly instead of silently diverging
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingEtl.domainCapStream(
      input2.toDS().toDF("doc_id", "source"), "doc_id", "source",
      maxPerDomain = 1, s"$root/out2", s"$root/state2", s"$root/ckpt2")
    input2.addData((10L, "z"), (11L, "z"))
    q2.processAllAvailable()
    input2.addData((9L, "z")) // below max_kept_id=10 of the full domain
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getMessage.contains("non-monotone") ||
      Option(e.getCause).exists(_.getMessage.contains("non-monotone")),
      e.getMessage)
  }

  test("domain cap stream: null domains keep ONE cross-batch budget; an overflowing late id throws even under-budget; an in-budget late id is legal") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("domcapstream2")
    // null domain = one capped group (the batch operator's groupBy
    // semantics). Without the null-safe state join, the null group's
    // budget resets every batch and id 4 is silently re-admitted.
    val input = MemoryStream[(Long, Option[String])]
    val q = StreamingEtl.domainCapStream(
      input.toDS().toDF("doc_id", "source"), "doc_id", "source",
      maxPerDomain = 2, s"$root/out", s"$root/state", s"$root/ckpt")
    input.addData((1L, None), (2L, None), (3L, Some("a")))
    q.processAllAvailable()
    input.addData((4L, None), (5L, Some("a")))
    q.processAllAvailable()
    q.stop()
    val streamedIds = spark.read.parquet(s"$root/out")
      .select($"doc_id").orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    val batchIds = graft.ext.text.DomainCap.cap(
      Seq((1L, Option.empty[String]), (2L, None), (3L, Some("a")),
        (4L, None), (5L, Some("a"))).toDF("doc_id", "source"),
      "doc_id", "source", 2)
      .select($"doc_id").orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(streamedIds === batchIds && !streamedIds.contains(4L),
      s"stream=$streamedIds batch=$batchIds")
    // a late id in a NOT-yet-full domain that overflows in the same
    // batch diverges from the batch operator (it would keep {5,6},
    // the stream can't displace the emitted 10) — must throw, not
    // silently keep {5,10}
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingEtl.domainCapStream(
      input2.toDS().toDF("doc_id", "source"), "doc_id", "source",
      maxPerDomain = 2, s"$root/out2", s"$root/state2", s"$root/ckpt2")
    input2.addData((10L, "z"))
    q2.processAllAvailable()
    input2.addData((5L, "z"), (6L, "z"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getMessage.contains("non-monotone") ||
      Option(e.getCause).exists(_.getMessage.contains("non-monotone")),
      e.getMessage)
    // an under-budget late id whose domain total stays within the
    // budget is legal: both keep {5, 10}
    val input3 = MemoryStream[(Long, String)]
    val q3 = StreamingEtl.domainCapStream(
      input3.toDS().toDF("doc_id", "source"), "doc_id", "source",
      maxPerDomain = 2, s"$root/out3", s"$root/state3", s"$root/ckpt3")
    input3.addData((10L, "z"))
    q3.processAllAvailable()
    input3.addData((5L, "z"))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(s"$root/out3")
      .select($"doc_id").collect().map(_.getLong(0)).toSet === Set(5L, 10L))
  }

  test("streaming semantic dedup: verdicts equal the batch operator over the concatenated corpus") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.dedup.SemanticDedup
    import graft.ext.similarity.IvfKNN
    val root = tmpDir("semstream")
    // planted corpus: 4 orthogonal cluster centers (ids 0-3 — also the
    // k=4 codebook seeds), members = center + a small deterministic
    // off-axis perturbation, so within-cluster cosine ≈ 0.999 and
    // cross-cluster cosine ≈ 0. Batch 1 holds ids 0-19, batch 2 ids
    // 20-39 (id-monotone arrival, the parity precondition): every
    // batch-2 member has a LOWER-id batch-1 cluster-mate within the
    // threshold, so the cross-batch state must drop all of batch 2.
    val dim = 8
    def member(id: Long): (Long, Seq[Float]) = {
      val c = (id % 4).toInt
      val v = Array.fill(dim)(0f)
      v(c) = 1f
      v(4 + c) = 0.01f * ((id * 7 % 5) + 1)
      (id, v.toSeq)
    }
    val all = (0L until 40L).map(member)
    val (b1, b2) = all.partition(_._1 < 20)
    // file-backed corpus: the batch operator's codebook memo keys on
    // the source snapshot
    all.toDF("vec_id", "embedding").write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val k = 4
    // the stream's FROZEN at-rest codebook — the identical
    // deterministic derivation the batch operator performs internally
    val coarse = IvfKNN.cachedSampledCentroids(
      corpus, "vec_id", "embedding",
      math.ceil(math.sqrt(k.toDouble)).toInt, source = s"$root/corpus")
    val fine = IvfKNN.fineCodebookTable(corpus, "vec_id", "embedding", k, coarse)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingEtl.semanticDedupStream(
      input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, fine, s"$root/out", s"$root/state", s"$root/ckpt",
      threshold = 0.3, probes = 2)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select($"vec_id", $"list_id", $"kept")
      .orderBy($"vec_id").collect()
    val batch = SemanticDedup.verdicts(
        corpus, "vec_id", "embedding", k, threshold = 0.3, probes = 2,
        source = s"$root/corpus")
      .select($"vec_id", $"list_id", $"kept")
      .orderBy($"vec_id").collect()
    assert(streamed.sameElements(batch),
      s"stream=${streamed.mkString(";")}\nbatch=${batch.mkString(";")}")
    // the cross-batch state actually did the work: every batch-2 row
    // is dropped by a batch-1 neighbor, while the same batch run
    // WITHOUT prior state keeps one member per touched cluster
    assert(streamed.filter(_.getLong(0) >= 20).forall(!_.getBoolean(2)))
    val (aloneOut, _) = SemanticDedup.verdictsIncremental(
      b2.toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, fine, threshold = 0.3, probes = 2, priorVectors = None)
    assert(aloneOut.filter($"kept").count() > 0,
      "batch 2 alone should keep its per-cluster survivors")
    // state holds EVERY assigned vector (kept or not — transitive
    // chains need non-survivors too), partitioned by batch
    val state = spark.read.parquet(s"$root/state")
    assert(state.count() == 40)
    assert(state.filter($"__batch_id" === 0L).count() == 20)
  }

  test("stream-static semantic decontamination equals the batch operator, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.dedup.SemanticDedup
    import graft.ext.similarity.IvfKNN
    val root = tmpDir("semdeconstream")
    // planted corpus: eval = ids % 7 == 0, every other train vector a
    // slightly-perturbed copy of SOME eval vector (contaminated) and
    // the rest orthogonal to all eval vectors (clean)
    val dim = 8
    def vec(axis: Int, eps: Float): Seq[Float] = {
      val v = Array.fill(dim)(0f); v(axis) = 1f; if (eps != 0f) v(4 + (axis % 4)) = eps
      v.toSeq
    }
    val all = (0L until 42L).map { id =>
      if (id % 7 == 0) (id, vec((id % 4).toInt, 0f)) // eval anchors
      else if (id % 2 == 0) (id, vec((id % 4).toInt, 0.01f)) // near an anchor
      else (id, vec(3 - (id % 4).toInt, 0f)) // may or may not hit
    }
    all.toDF("vec_id", "embedding").write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val evalSide = corpus.filter($"vec_id" % 7 === 0)
    val trainSide = corpus.filter($"vec_id" % 7 =!= 0)
    val k = SemanticDedup.decontaminationClusterCount(
      trainSide.count(), evalSide.count())
    val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // the frozen at-rest pieces: eval-anchored codebook + the eval
    // corpus assigned once (exactly what decontaminate derives)
    val coarse = IvfKNN.cachedSampledCentroids(
      evalSide, "vec_id", "embedding", c, source = s"$root/corpus#eval")
    val fine = IvfKNN.fineCodebookTableRanked(
      evalSide, "vec_id", "embedding", k, coarse)
    val evalAssigned = SemanticDedup.assigned(
      evalSide, "vec_id", "embedding", coarse, fine, probes = 2)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingEtl.semanticDecontaminateStream(
      input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, fine, evalAssigned, s"$root/out", s"$root/ckpt",
      threshold = 0.3, probes = 2)
    val trainRows = all.filter(_._1 % 7 != 0)
    val (b1, b2) = trainRows.partition(_._1 < 21)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select($"vec_id", $"list_id", $"n_eval_hits", $"contaminated")
      .orderBy($"vec_id").collect()
    val batch = SemanticDedup.decontaminate(
        trainSide, evalSide, "vec_id", "embedding", k,
        threshold = 0.3, probes = 2, source = s"$root/corpus#eval")
      .select($"vec_id", $"list_id", $"n_eval_hits", $"contaminated")
      .orderBy($"vec_id").collect()
    assert(streamed.sameElements(batch),
      s"stream=${streamed.mkString(";")}\nbatch=${batch.mkString(";")}")
    // the planted structure is actually detected: every perturbed
    // even-id train vector is contaminated
    val flags = streamed.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    trainRows.map(_._1).filter(_ % 2 == 0).foreach(id =>
      assert(flags(id), s"planted near-anchor train $id not flagged"))
    // stateless: no state directory exists, and a REPLAYED batch is
    // idempotent (the staged promote of its own partition)
    assert(!new java.io.File(s"$root/state").exists())
    assert(spark.read.parquet(s"$root/out").count() == trainRows.length)
  }

  test("a crash during the FIRST state write cannot wedge the stateful streams") {
    // round-12 advice: the prior-state read used to gate on bare
    // directory existence + schema inference — a state dir left with
    // only _temporary/ by a crashed first write (no committed files)
    // then failed EVERY replay with 'Unable to infer schema'. The
    // gate now requires committed data; this pins the wedge scenario
    // for both at-rest-state streams.
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.similarity.IvfKNN
    val root = tmpDir("wedge")
    def plantCrashDebris(dir: String): Unit = {
      val d = new java.io.File(s"$dir/_temporary/0/_temporary/attempt_x")
      d.mkdirs()
      val f = new java.io.File(d, "part-00000.parquet")
      val w = new java.io.FileOutputStream(f)
      w.write(Array[Byte](1, 2, 3)); w.close()
    }
    // semantic dedup stream: state dir holds ONLY crash debris
    plantCrashDebris(s"$root/state")
    val dim = 8
    val vecs = (0L until 8L).map { id =>
      val v = Array.fill(dim)(0f); v((id % 4).toInt) = 1f; (id, v.toSeq)
    }
    vecs.toDF("vec_id", "embedding").write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val coarse = IvfKNN.cachedSampledCentroids(
      corpus, "vec_id", "embedding", 2, source = s"$root/corpus")
    val fine = IvfKNN.fineCodebookTable(corpus, "vec_id", "embedding", 4, coarse)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingEtl.semanticDedupStream(
      input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, fine, s"$root/out", s"$root/state", s"$root/ckpt",
      threshold = 0.3, probes = 2)
    input.addData(vecs: _*)
    q.processAllAvailable() // must not throw 'Unable to infer schema'
    q.stop()
    assert(spark.read.parquet(s"$root/out").count() == 8)
    // and the committed data is seen by the NEXT batch even with the
    // debris still present alongside it
    val q2 = StreamingEtl.semanticDedupStream(
      input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, fine, s"$root/out", s"$root/state", s"$root/ckpt",
      threshold = 0.3, probes = 2)
    input.addData((100L, vecs.head._2)) // exact twin of vec 0 — state must drop it
    q2.processAllAvailable()
    q2.stop()
    val twin = spark.read.parquet(s"$root/out").filter($"vec_id" === 100L).collect()
    assert(twin.length == 1 && !twin(0).getBoolean(twin(0).fieldIndex("kept")),
      "prior committed state must drop the cross-batch twin")

    // ngram dedup stream: same debris scenario on its seenDir
    plantCrashDebris(s"$root/seen")
    val docs = MemoryStream[(Long, String)]
    val qn = StreamingEtl.ngramDedupStream(
      docs.toDS().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/nout", s"$root/seen", s"$root/nckpt", gramTokens = 3)
    docs.addData((1L, "alpha bravo charlie delta"))
    qn.processAllAvailable() // must not throw
    qn.stop()
    assert(spark.read.parquet(s"$root/nout").count() == 1)
  }
}
