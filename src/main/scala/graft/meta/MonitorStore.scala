package graft.meta

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.Instant
import java.util.UUID

import graft.sinks.ParquetUpsertSink
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** One ingestor run's audit row (reference table `ingestor_executions`,
  * `migrations/init.sql:6-14`). */
case class IngestorExecution(
    workflowId: String,
    codeExecutionId: String,
    codeExecutionDate: Timestamp,
    fetchedHour: Timestamp,
    numberOfFilesFetched: Int,
    fileDestinationPath: Option[String],
    traceback: Option[String])

/** One handler run×entity audit row (`migrations/init.sql:16-24`). */
case class HandlerExecution(
    workflowId: String,
    codeExecutionId: String,
    codeExecutionDate: Timestamp,
    fileFetchPath: Option[String],
    destinationTable: String,
    recordsInserted: Long,
    traceback: Option[String])

/** Execution-metadata store: the incremental cursor + audit trail
  * (reference ops A-1/A-2/K-3/K-4, `src/helper/postgres.py:35-155`).
  *
  * Contract preserved from the reference:
  *  - cursor = MAX(fetched_hour) over SUCCESSFUL ingestor runs
  *    (failed runs keep a traceback and are excluded, so their hour is
  *    retried);
  *  - the handler locates its input through the ingestor row with the
  *    same workflow_id, no traceback, and files fetched > 0;
  *  - rows are append-only.
  *
  * Divergence (deliberate, SURVEY.md §2.7): metadata is written with
  * fully-initialized values after the sink commit — the reference's
  * unbound-variable `finally` hazard is not reproduced.
  */
trait MonitorStore {
  def lastSuccessfulFetchHour(): Option[Instant]
  def stagedFilePath(workflowId: String): Option[String]
  def recordIngestor(row: IngestorExecution): Unit
  def recordHandler(row: HandlerExecution): Unit
  def targetTableExists(table: String): Boolean
}

/** Provisioning + audit-read surface shared by the store backends, so
  * the pipeline e2e (JobsSpec) runs identically against the parquet
  * store and the JDBC store: `migrate` is the init.sql twin, the row
  * readers return audit rows under the case classes' camelCase names
  * whatever the backend's physical column naming. */
trait StoreAdmin {
  def migrate(tables: Seq[String]): Unit
  def ingestorRows(): Seq[Row]
  def handlerRows(): Seq[Row]
}

/** Parquet-backed monitor store. Every call runs on the driver and
  * starts no Spark job: audit rows are read and written through
  * parquet-hadoop's own reader and writer, one row per file.
  *
  * Audit file names are the index. An append writes a hidden temp file
  * (`.<name>.tmp`, which Spark's reader skips) and renames it to
  * `<micros>.<ok|err>.<workflow>.<uuid>.parquet`:
  *  - `micros` is the row's fetched hour (ingestor) or execution date
  *    (handler) in microseconds since the epoch, empty when null;
  *  - `ok` means the row has no traceback;
  *  - `workflow` is the workflow id with every byte outside `[a-z0-9-]`
  *    written as `_` plus two hex digits, so equal names mean equal
  *    ids;
  *  - the uuid keeps two appends apart.
  *
  * So [[lastSuccessfulFetchHour]] is one directory listing and opens
  * no file, and [[stagedFilePath]] opens only that workflow's
  * successful rows (and still checks their contents): neither grows
  * with the history beyond the listing. A visible file without an
  * index (one written by Spark, say) fails every read that lists its
  * directory, naming it: a cursor that skipped such rows would restart
  * the ingest from the cold-start hour. The tables stay ordinary
  * parquet: `spark.read.parquet` over either directory returns the
  * same rows and types as [[ingestorRows]] / [[handlerRows]].
  *
  * Table precheck: with a `warehouseDir`, [[targetTableExists]] is the
  * file-warehouse twin of the reference's `information_schema.tables`
  * lookup (`src/helper/postgres.py:131-155`) — a table exists iff its
  * directory does. [[migrate]] is the twin of `migrations/init.sql`:
  * it creates the (empty) table directories, after which prechecks
  * pass and the first upsert writes the initial data. Without a
  * `warehouseDir` the store falls back to a static declared-table set
  * (schema-registry mode, used by tests that never touch a warehouse).
  */
class FileMonitorStore(spark: SparkSession, dir: String,
    warehouseDir: Option[String] = None,
    knownTables: Set[String] = Set("vehicle_location", "operating_periods"))
  extends MonitorStore with StoreAdmin {

  import FileMonitorStore._

  private def conf = spark.sparkContext.hadoopConfiguration
  private val ingestorDir = new Path(s"$dir/ingestor_executions")
  private val handlerDir = new Path(s"$dir/handler_executions")

  private def exists(path: Path): Boolean = path.getFileSystem(conf).exists(path)

  /** The indexed audit files of `table`, by name; fails on a visible
    * file without an index. */
  private def indexed(table: Path): Seq[AuditFile] = {
    val fs = table.getFileSystem(conf)
    if (!fs.exists(table)) return Seq.empty
    fs.listStatus(table).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      .map(p => AuditFile.parse(p).getOrElse(throw new IllegalStateException(
        s"audit table $table holds a file without an audit index: ${p.getName}")))
      .sortBy(_.path.getName)
  }

  /** Built from an `InputFile` on the session's configuration: the
    * `Path` builder makes a `new Configuration()` per file, which
    * parses Hadoop's default resources each time. */
  private def read(f: AuditFile, schema: StructType): Seq[Row] = {
    val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(f.path, conf)) {
      override def getReadSupport = new GroupReadSupport()
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map(toRow(_, schema)).toVector
    finally reader.close()
  }

  private def append(table: Path, micros: Option[Long], ok: Boolean,
      workflowId: String, schema: StructType, row: Product): Unit = {
    val name = AuditFile.name(micros, ok, workflowId)
    val tmp = new Path(table, s".$name.tmp")
    val message = parquetType(schema)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(message).build()
    try writer.write(toGroup(row, schema, message)) finally writer.close()
    ParquetUpsertSink.renameOrThrow(table.getFileSystem(conf), tmp, new Path(table, name))
  }

  override def lastSuccessfulFetchHour(): Option[Instant] =
    indexed(ingestorDir).filter(_.ok).flatMap(_.micros).maxOption
      .map(m => DateTimeUtils.toJavaTimestamp(m).toInstant)

  override def stagedFilePath(workflowId: String): Option[String] = {
    val wf = AuditFile.encode(workflowId)
    indexed(ingestorDir).filter(f => f.ok && f.workflow == wf)
      .flatMap(read(_, IngestorSchema))
      .filter(r => r.getAs[String]("workflowId") == workflowId &&
        r.isNullAt(r.fieldIndex("traceback")) && r.getAs[Int]("numberOfFilesFetched") > 0)
      .maxByOption(_.getAs[Timestamp]("codeExecutionDate"))
      .flatMap(r => Option(r.getAs[String]("fileDestinationPath")))
  }

  override def recordIngestor(row: IngestorExecution): Unit =
    append(ingestorDir, Option(row.fetchedHour).map(DateTimeUtils.fromJavaTimestamp),
      row.traceback.isEmpty, row.workflowId, IngestorSchema, row)

  override def recordHandler(row: HandlerExecution): Unit =
    append(handlerDir, Option(row.codeExecutionDate).map(DateTimeUtils.fromJavaTimestamp),
      row.traceback.isEmpty, row.workflowId, HandlerSchema, row)

  override def targetTableExists(table: String): Boolean =
    warehouseDir match {
      case Some(w) => exists(new Path(s"$w/$table"))
      case None    => knownTables.contains(table)
    }

  /** Create the (empty) target-table directories — the file-warehouse
    * twin of applying the reference's `migrations/init.sql`. Idempotent. */
  override def migrate(tables: Seq[String]): Unit =
    warehouseDir.foreach { w =>
      tables.foreach { t =>
        val p = new Path(s"$w/$t")
        p.getFileSystem(conf).mkdirs(p)
      }
    }

  override def ingestorRows(): Seq[Row] = indexed(ingestorDir).flatMap(read(_, IngestorSchema))
  override def handlerRows(): Seq[Row] = indexed(handlerDir).flatMap(read(_, HandlerSchema))
}

object FileMonitorStore {

  /** An audit file and the index its name carries (see the class doc). */
  private final case class AuditFile(path: Path, micros: Option[Long], ok: Boolean, workflow: String)

  private object AuditFile {
    private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    private val Name = s"(-?[0-9]*)\\.(ok|err)\\.((?:[a-z0-9-]|_[0-9a-f]{2})*)\\.$Uuid\\.parquet".r

    def encode(workflowId: String): String =
      workflowId.getBytes(StandardCharsets.UTF_8).map { b =>
        val c = (b & 0xff).toChar
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-') c.toString
        else f"_${b & 0xff}%02x"
      }.mkString

    def name(micros: Option[Long], ok: Boolean, workflowId: String): String =
      Seq(micros.fold("")(_.toString), if (ok) "ok" else "err", encode(workflowId),
        UUID.randomUUID().toString, "parquet").mkString(".")

    def parse(p: Path): Option[AuditFile] = p.getName match {
      case Name(m, flag, wf) if m.isEmpty || m.toLongOption.nonEmpty =>
        Some(AuditFile(p, m.toLongOption, flag == "ok", wf))
      case _ => None
    }
  }

  /** The audit rows' Spark schema: the case class's columns, nullable
    * as `spark.read.parquet` reports them. */
  private def nullable(s: StructType): StructType = StructType(s.fields.map(_.copy(nullable = true)))
  private val IngestorSchema = nullable(Encoders.product[IngestorExecution].schema)
  private val HandlerSchema = nullable(Encoders.product[HandlerExecution].schema)

  /** Parquet type of the audit columns, as Spark writes them except
    * that timestamps are INT64 microseconds, not INT96. */
  private def parquetType(schema: StructType): MessageType =
    new MessageType("spark_schema", schema.fields.toSeq.map { f =>
      (f.dataType match {
        case StringType => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case IntegerType => Types.optional(INT32)
        case LongType => Types.optional(INT64)
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case t => throw new IllegalArgumentException(s"unsupported audit column type $t")
      }).named(f.name): org.apache.parquet.schema.Type
    }: _*)

  private def toGroup(row: Product, schema: StructType, message: MessageType): Group = {
    val g = new SimpleGroup(message)
    schema.fields.zip(row.productIterator).foreach { case (f, v) =>
      (v match { case o: Option[Any] => o.orNull; case x => x }) match {
        case null => ()
        case s: String => g.add(f.name, s)
        case i: Int => g.add(f.name, i)
        case l: Long => g.add(f.name, l)
        case t: Timestamp => g.add(f.name, DateTimeUtils.fromJavaTimestamp(t))
        case x => throw new IllegalArgumentException(s"unsupported audit value $x")
      }
    }
    g
  }

  private def toRow(g: Group, schema: StructType): Row =
    new GenericRowWithSchema(schema.fields.map { f =>
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case StringType => g.getString(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
        case LongType => g.getLong(f.name, 0)
        case _ => DateTimeUtils.toJavaTimestamp(g.getLong(f.name, 0))
      }
    }, schema)
}
