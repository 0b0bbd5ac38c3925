package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.config.EntitySchema
import graft.jobs.{HandlerJob, Pipelines}
import graft.operators.KeyGen
import graft.sinks.ParquetUpsertSink
import graft.sources.JsonLinesSource
import org.apache.spark.sql.types.StructType

/** Core semantic pipeline tests over FIXTURES.md §A fixture rows:
  * normalize coercion/trim, golden keygen hashes, upsert dedup. */
class PipelineSpec extends SparkSpec {

  private val vehicleSchema = EntitySchema.reference.head

  /** Reference keygen algorithm re-implemented independently for
    * golden comparison (`src/helper/helper.py:153-173` semantics). */
  private def expectedKey(parts: String*): String = {
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("").getBytes(StandardCharsets.UTF_8))
    val hex = digest.map("%02x".format(_)).mkString.take(32)
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  private val fixtureLines = Seq(
    // clean update event
    """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "org-id", "data": {"id": "v-1", "location": {"lat": 52.51, "lng": 13.39, "at": "2022-11-24T10:02:10Z"}}}""",
    // register event: no location → nulls
    """{"event": "register", "on": "vehicle", "at": "2022-11-24T10:00:00Z", "organization_id": "  padded-org  ", "data": {"id": "v-2"}}""",
    // unparseable timestamp → null (coerce)
    """{"event": "update", "on": "vehicle", "at": "not-a-date", "organization_id": "org-id", "data": {"id": "v-3", "location": {"lat": 1.0, "lng": 2.0, "at": "2022-11-24T10:05:00Z"}}}""",
    // tz-offset timestamp → naive UTC
    """{"event": "update", "on": "vehicle", "at": "2022-11-24T11:02:11+01:00", "organization_id": "org-id", "data": {"id": "v-4", "location": {"lat": 3.0, "lng": 4.0, "at": "2022-11-24T10:02:10Z"}}}""",
    // exact duplicate of the first line → deduped
    """{"event": "update", "on": "vehicle", "at": "2022-11-24T10:02:11Z", "organization_id": "org-id", "data": {"id": "v-1", "location": {"lat": 52.51, "lng": 13.39, "at": "2022-11-24T10:02:10Z"}}}""",
    // malformed JSON → dropped, counted
    """{"event": "update", "on": "vehicle", THIS IS NOT JSON"""
  )

  private lazy val fixtureFile = {
    val dir = tmpDir("fixture")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-0.json"),
      fixtureLines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    s"$dir/part-0.json"
  }

  private lazy val rawFixture = JsonLinesSource.read(spark, Seq(fixtureFile),
    Pipelines.unionSourceStruct(Seq(vehicleSchema)))

  test("a read yields the landing-record shape the source exposes") {
    def shape(s: StructType) = s.map(f => f.name -> f.dataType)
    // the union struct declares the lineage column; a bare one does not
    for (s <- Seq(Pipelines.unionSourceStruct(Seq(vehicleSchema)), StructType.fromDDL("on STRING")))
      assert(shape(JsonLinesSource.read(spark, Seq(fixtureFile), s).schema)
        == shape(JsonLinesSource.recordStruct(s)))
  }

  test("malformed lines are isolated, not fatal") {
    val (good, bad) = JsonLinesSource.goodAndBad(rawFixture)
    assert(bad.count() == 1)
    assert(good.count() == fixtureLines.size - 1)
  }

  test("normalize: coercion, trim, missing-field nulls, tz handling") {
    val (good, _) = JsonLinesSource.goodAndBad(rawFixture)
    val out = HandlerJob.entityPipeline(good, vehicleSchema)
    val rows = out.collect().map(r => r.getAs[String]("vehicle_id") -> r).toMap

    // duplicate line collapsed by the upsert's per-key dedup (the
    // handler's only one): 5 good lines → 4 rows
    val table = tmpDir("normalize_upsert") + "/t"
    ParquetUpsertSink.upsert(spark, out, table, KeyGen.columnName)
    assert(spark.read.parquet(table).count() == 4)
    // clean row round-trips
    assert(rows("v-1").getAs[java.sql.Timestamp]("event_timestamp").toString
      == "2022-11-24 10:02:11.0")
    assert(rows("v-1").getAs[Double]("vehicle_latitude") == 52.51)
    // padded string trimmed
    assert(rows("v-2").getAs[String]("organization_id") == "padded-org")
    // missing nested location → nulls
    assert(rows("v-2").isNullAt(rows("v-2").fieldIndex("vehicle_latitude")))
    // unparseable ts → null
    assert(rows("v-3").isNullAt(rows("v-3").fieldIndex("event_timestamp")))
    // +01:00 converted to UTC then stored naive
    assert(rows("v-4").getAs[java.sql.Timestamp]("event_timestamp").toString
      == "2022-11-24 10:02:11.0")
    // lineage injected and schema-complete
    assert(rows("v-1").getAs[String]("original_s3_file_path").endsWith("part-0.json"))
  }

  test("keygen matches the reference algorithm byte-for-byte") {
    val (good, _) = JsonLinesSource.goodAndBad(rawFixture)
    val out = HandlerJob.entityPipeline(good, vehicleSchema)
    val got = out.filter(out("vehicle_id") === "v-1")
      .select(KeyGen.columnName).collect().head.getString(0)
    assert(got == expectedKey("v-1", "2022-11-24 10:02:11"))
  }

  test("keygen renders null key timestamps as None (post-NaT-replace str())") {
    // the reference replaces pd.NaT with None BEFORE str()
    // (helper.py replace({pd.NaT: None})), so the hashed rendering of a
    // null key timestamp is "None", never "NaT"
    val (good, _) = JsonLinesSource.goodAndBad(rawFixture)
    val out = HandlerJob.entityPipeline(good, vehicleSchema)
    val got = out.filter(out("vehicle_id") === "v-3")
      .select(KeyGen.columnName).collect().head.getString(0)
    assert(got == expectedKey("v-3", "None"))
  }

  test("keygen keeps sub-second timestamps in microsecond form") {
    import spark.implicits._
    val df = Seq(("a", java.sql.Timestamp.valueOf("2022-11-24 10:00:00.123")))
      .toDF("id", "at")
    val keyed = KeyGen.withKey(df, Seq(
      "id" -> org.apache.spark.sql.types.StringType,
      "at" -> org.apache.spark.sql.types.TimestampType))
    assert(keyed.select(KeyGen.columnName).collect().head.getString(0)
      == expectedKey("a", "2022-11-24 10:00:00.123000"))
  }
}
