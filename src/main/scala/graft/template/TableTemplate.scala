package graft.template

import graft.types.IcebergTypes
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** The engine's table-template model: one YAML file per table, the single
  * source of truth for schema, partitioning, sort order, governance
  * metadata and (optionally) an ingest source.
  *
  * Semantics from the reference's template system:
  *  - required keys `name`, `columns`, `partition_spec`
  *    (`dagster/lakehouse/utils/table_loader.py:11`), plus `namespace` and
  *    `properties` per `table-templates/_schema.json:6`.
  *  - column attrs `type`, `required`, `pii`, `access_level`, `description`
  *    (`table-templates/_schema.json:36-53`).
  *  - partition transforms identity/year/month/day/hour/bucket[N]/truncate[N]
  *    (`_schema.json:68-70`).
  *  - sort order with direction + null placement (`_schema.json:74-95`).
  */
final case class ColumnDef(
    name: String,
    icebergType: String,
    required: Boolean = false,
    pii: Boolean = false,
    accessLevel: String = "public", // public | internal | restricted
    description: String = ""
) {
  def toStructField: StructField = {
    val md: Metadata = new MetadataBuilder()
      .putBoolean("pii", pii)
      .putString("access_level", accessLevel)
      .putString("iceberg_type", icebergType)
      .build()
    StructField(name, IcebergTypes.toSpark(icebergType), nullable = !required, md)
  }
}

final case class PartitionField(column: String, transform: String, n: Int = 0) {

  /** The derived directory-column name of this transform — must match
    * `TableSink.transformColumn`'s naming exactly.
    */
  def derivedName: String = transform match {
    case "identity" => column
    case "year"     => s"${column}_year"
    case "month"    => s"${column}_month"
    case "day"      => s"${column}_day"
    case "hour"     => s"${column}_hour"
    case "bucket"   => s"${column}_bucket"
    case "truncate" => s"${column}_trunc"
    case other      => throw new IllegalArgumentException(s"Unknown partition transform: $other")
  }
}

final case class SortField(
    column: String,
    direction: String = "asc", // asc | desc
    nullOrder: String = "nulls_last" // nulls_first | nulls_last
)

final case class SourceDef(
    path: String,
    format: String, // parquet | csv | json
    options: Map[String, String] = Map.empty
)

final case class TableTemplate(
    name: String,
    namespace: String,
    columns: Seq[ColumnDef],
    partitionSpec: Seq[PartitionField],
    sortOrder: Seq[SortField] = Nil,
    properties: Map[String, String] = Map.empty,
    tags: Map[String, String] = Map.empty,
    source: Option[SourceDef] = None
) {
  def fullName: String = s"$namespace.$name"

  /** Declared Spark schema, column order preserved (the reference builds the
    * PyArrow schema the same way, `assets/source_assets.py:23-27`).
    */
  def schema: StructType = StructType(columns.map(_.toStructField))

  /** Columns a `reader` principal must never see
    * (`utils/table_loader.py:71-73`).
    */
  def restrictedColumns: Seq[String] =
    columns.filter(_.accessLevel == "restricted").map(_.name)

  /** required=true column names (NOT NULL invariant). */
  def requiredColumns: Seq[String] = columns.filter(_.required).map(_.name)

  /** Snapshot retention in ms, if declared
    * (`history_expire_max_snapshot_age_ms`, `_schema.json:105-107`).
    */
  def retentionMs: Option[Long] =
    properties.get("history_expire_max_snapshot_age_ms").map(_.toLong)

  def writeFormat: String = properties.getOrElse("write_format", "parquet")

  /** Optimistic-commit retry budget (`commit_num_retries`,
    * `_schema.json:109-111`); Iceberg's default when undeclared.
    */
  def commitNumRetries: Int =
    properties.get("commit_num_retries").map(_.toInt)
      .getOrElse(graft.sink.SnapshotTable.DefaultCommitRetries)
}
