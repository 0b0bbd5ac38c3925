package graft.config

import org.apache.spark.sql.types._

/** One declared column: source dot-path → warehouse column.
  *
  * Mirrors the reference's per-column YAML contract
  * (`src/helper/schema_entities.yaml:4-7`): source path, declared
  * logical type, target name, and whether the column participates in
  * the deterministic surrogate key.
  */
case class ColumnSpec(
    srcPath: String,
    dstName: String,
    declaredType: String,
    isKey: Boolean) {

  /** Closed type vocabulary → Spark type (SURVEY.md §1.2). Unknown
    * declared types throw, matching the reference's strictness
    * (`src/helper/helper.py:134-137`). */
  def sparkType: DataType = declaredType match {
    case "uuid" | "varchar" | "char" | "string" => StringType
    case "bigint"                               => LongType
    case "int"                                  => IntegerType
    case "smallint"                             => ShortType
    case "float" | "decimal"                    => DoubleType
    case "timestamp"                            => TimestampType
    case "date"                                 => DateType
    case "bit"                                  => BooleanType
    case other =>
      throw new IllegalArgumentException(s"undeclared logical type: $other")
  }

  def isString: Boolean = sparkType == StringType
}

/** Schema for one entity: the YAML key (= discriminator value of the
  * `on` field) plus its target table and column plan. */
case class EntitySchema(
    entity: String,
    targetTable: String,
    columns: Seq[ColumnSpec]) {

  def keyColumns: Seq[ColumnSpec] = columns.filter(_.isKey)
}

/** Loader for the reference's restricted YAML dialect: two-level maps
  * of `entity → source-path → {type, column_name, unique_identifier}`
  * plus a per-entity `table_name`. A full YAML library is deliberately
  * avoided (zero-egress build); the dialect is exactly the shape the
  * reference uses, which this hand parser covers.
  */
object EntitySchema {

  /** Build a nested `StructType` of string leaves from dot-paths
    * (e.g. `data.location.lat` → nested structs) — the union source
    * schema. Declared leaf types are read as string and cast later, so
    * unparseable values coerce to null exactly like the reference's
    * `errors="coerce"`. */
  def structFromPaths(paths: Seq[String]): StructType = {
    def insert(fields: Seq[StructField], path: List[String]): Seq[StructField] =
      path match {
        case name :: Nil =>
          if (fields.exists(_.name == name)) fields
          else fields :+ StructField(name, StringType, nullable = true)
        case name :: rest =>
          val existing = fields.find(_.name == name).map(_.dataType) match {
            case Some(s: StructType) => s.fields.toSeq
            case _                   => Seq.empty
          }
          fields.filterNot(_.name == name) :+
            StructField(name, StructType(insert(existing, rest)), nullable = true)
        case Nil => fields
      }
    StructType(paths.distinct.foldLeft(Seq.empty[StructField]) { (acc, p) =>
      insert(acc, p.split('.').toList)
    })
  }

  /** Parse the restricted YAML dialect. Layout (2-space indents):
    * {{{
    * vehicle:
    *   table_name: vehicle_location
    *   columns:
    *     data.id:
    *       type: uuid
    *       column_name: vehicle_id
    *       unique_identifier: True
    * }}}
    */
  def fromYaml(yaml: String): Seq[EntitySchema] = {
    // strip comments/blank lines, keep (indent, key, value)
    val lines = yaml.linesIterator
      .map(l => l.takeWhile(_ != '#'))
      .filter(_.trim.nonEmpty)
      .map { l =>
        val indent = l.takeWhile(_ == ' ').length
        val t = l.trim
        val i = t.indexOf(':')
        require(i > 0, s"unparseable yaml line: $l")
        (indent, t.substring(0, i).trim, t.substring(i + 1).trim)
      }
      .toVector

    val entities = scala.collection.mutable.ArrayBuffer.empty[EntitySchema]
    var k = 0
    while (k < lines.length) {
      val (i0, entity, _) = lines(k)
      require(i0 == 0, s"expected top-level entity at: ${lines(k)}")
      k += 1
      var tableName = entity
      val cols = scala.collection.mutable.ArrayBuffer.empty[ColumnSpec]
      while (k < lines.length && lines(k)._1 > i0) {
        val (_, key, value) = lines(k)
        if (key == "table_name") { tableName = value; k += 1 }
        else if (key == "columns") {
          k += 1
          val colIndent = if (k < lines.length) lines(k)._1 else 0
          while (k < lines.length && lines(k)._1 >= colIndent && lines(k)._1 > i0) {
            val (_, srcPath, _) = lines(k)
            k += 1
            var tpe = "string"; var dst = srcPath; var isKey = false
            while (k < lines.length && lines(k)._1 > colIndent) {
              lines(k) match {
                case (_, "type", v)              => tpe = v
                case (_, "column_name", v)       => dst = v
                case (_, "unique_identifier", v) => isKey = v.equalsIgnoreCase("true")
                case other => throw new IllegalArgumentException(s"unknown column attr: $other")
              }
              k += 1
            }
            cols += ColumnSpec(srcPath, dst, tpe, isKey)
          }
        } else k += 1
      }
      entities += EntitySchema(entity, tableName, cols.toSeq)
    }
    entities.toSeq
  }

  /** The reference's schema contract, re-declared (FIXTURES.md §A;
    * `/root/reference/src/helper/schema_entities.yaml:1-56`,
    * `migrations/init.sql:29-51`). */
  val referenceYaml: String =
    """vehicle:
      |  table_name: vehicle_location
      |  columns:
      |    data.id:
      |      type: uuid
      |      column_name: vehicle_id
      |      unique_identifier: True
      |    at:
      |      type: timestamp
      |      column_name: event_timestamp
      |      unique_identifier: True
      |    event:
      |      type: string
      |      column_name: event_operation
      |    organization_id:
      |      type: string
      |      column_name: organization_id
      |    data.location.lat:
      |      type: float
      |      column_name: vehicle_latitude
      |    data.location.lng:
      |      type: float
      |      column_name: vehicle_longitude
      |    data.location.at:
      |      type: timestamp
      |      column_name: vehicle_location_timestamp
      |    original_s3_file_path:
      |      type: string
      |      column_name: original_s3_file_path
      |operating_period:
      |  table_name: operating_periods
      |  columns:
      |    data.id:
      |      type: string
      |      column_name: operating_period_id
      |      unique_identifier: True
      |    at:
      |      type: timestamp
      |      column_name: event_timestamp
      |      unique_identifier: True
      |    event:
      |      type: string
      |      column_name: event_operation
      |    organization_id:
      |      type: string
      |      column_name: organization_id
      |    data.start:
      |      type: timestamp
      |      column_name: operation_start
      |    data.finish:
      |      type: timestamp
      |      column_name: operation_finish
      |    original_s3_file_path:
      |      type: string
      |      column_name: original_s3_file_path
      |""".stripMargin

  lazy val reference: Seq[EntitySchema] = fromYaml(referenceYaml)
}
