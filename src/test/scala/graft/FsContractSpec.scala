package graft

import java.time.Instant
import graft.sinks.ParquetUpsertSink
import graft.sources.JsonLinesSource
import graft.streaming.StreamingEtl
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Abstract-FileSystem contract: the source listing, the Spark JSON
  * read, the crash-safe upsert promote and a state-carrying stream's
  * committed-state read all run against a NON-file
  * scheme ([[GraftTestFileSystem]], `graftfs://`) — proving the
  * engine's storage access goes through the Hadoop FileSystem API
  * everywhere (the path an `s3a://` deployment takes), not through
  * local-file shortcuts. */
class FsContractSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def withScheme[T](body: String => T): T = {
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    // each logical FS config is cached per scheme; clear so repeated
    // suites in one JVM always resolve the fresh registration
    org.apache.hadoop.fs.FileSystem.closeAll()
    val dir = tmpDir("graft_fs_contract")
    body(s"graftfs://$dir")
  }

  test("hour-window listing and tolerant read work through a non-file scheme") {
    withScheme { base =>
      val fs = new Path(base).getFileSystem(conf)
      assert(fs.isInstanceOf[GraftTestFileSystem], fs.getClass.getName)
      val landing = new Path(s"$base/landing")
      fs.mkdirs(landing)
      def put(name: String, content: String, mtime: Instant): Path = {
        val p = new Path(landing, name)
        val out = fs.create(p)
        out.write(content.getBytes("UTF-8")); out.close()
        fs.setTimes(p, mtime.toEpochMilli, -1)
        p
      }
      val hour = Instant.parse("2026-08-12T10:00:00Z")
      put("in_window.json", """{"id":1,"name":"a"}""" + "\n" + """not json""", hour.plusSeconds(60))
      put("late.json", """{"id":2,"name":"b"}""", hour.plusSeconds(3700))
      put("decoy.txt", "nope", hour.plusSeconds(61))

      val files = JsonLinesSource.listHourFiles(spark, s"$base/landing", hour)
      // authority-less URIs render with a single slash (graftfs:/...)
      assert(files.length == 1 && files.head.startsWith("graftfs:/"), files)
      assert(files.head.endsWith("in_window.json"))

      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      val df = JsonLinesSource.read(spark, files, schema)
      val (good, bad) = JsonLinesSource.goodAndBad(df)
      assert(good.count() == 1 && bad.count() == 1)
      // lineage is scheme-stripped "bucket/key" form
      val lineage = good.select(col(JsonLinesSource.lineageCol)).as[String].head()
      assert(!lineage.contains("graftfs:") && lineage.endsWith("in_window.json"), lineage)
    }
  }

  test("merge-on-write upsert promotes through a non-file scheme") {
    withScheme { base =>
      val table = s"$base/warehouse/items"
      ParquetUpsertSink.upsert(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table, "k")
      ParquetUpsertSink.upsert(spark,
        Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), table, "k")
      val got = spark.read.parquet(table)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
      // staged promote left no residue behind the abstract FS
      val fs = new Path(table).getFileSystem(conf)
      assert(!fs.exists(new Path(table + "__staging")))
      assert(!fs.exists(new Path(table + "__backup")))
    }
  }

  test("cross-batch n-gram dedup reads its at-rest state through a non-file scheme") {
    implicit val sqlCtx = spark.sqlContext
    withScheme { base =>
      val passage = "alpha bravo charlie delta echo foxtrot"
      val input = MemoryStream[(Long, String)]
      val q = StreamingEtl.ngramDedupStream(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/out", s"$base/seen", tmpDir("graft_fs_ngram_ckpt"), gramTokens = 3)
      input.addData((1L, s"$passage golf"))
      q.processAllAvailable()
      input.addData((2L, s"hotel $passage"))
      q.processAllAvailable()
      q.stop()
      val fs = new Path(base).getFileSystem(conf)
      assert(fs.isInstanceOf[GraftTestFileSystem], fs.getClass.getName)
      assert(fs.exists(new Path(s"$base/seen/__batch_id=0")))
      // batch 2 saw every passage gram in batch 1's committed state:
      // only its fresh leading token survives
      val d2 = spark.read.parquet(s"$base/out").filter($"doc_id" === 2L)
        .select($"n_tokens", $"n_kept", $"text_kept").as[(Long, Long, String)].collect()
      assert(d2.toSeq == Seq((7L, 1L, "hotel")), d2.mkString(";"))
    }
  }
}
