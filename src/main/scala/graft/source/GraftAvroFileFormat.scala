package graft.source

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => AvroSchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro container-file format built directly on avro-core — the
  * distribution ships `avro-1.12.1.jar` (+ avro-mapred for the Hadoop
  * `SeekableInput`) but NOT the external spark-avro module, and the
  * reference's template vocabulary declares `avro` as a legal write
  * format (`table-templates/_schema.json:100-103`). This closes that
  * gap with a first-class Spark `FileFormat`: the snapshot engine's
  * `df.write.format("avro")` / `spark.read.format("avro")` call sites
  * work unchanged (the short name registers via DataSourceRegister).
  *
  * Supported types: boolean/int/long/float/double/string/binary,
  * date (int + `date` logical), timestamp (long + `timestamp-micros`
  * logical), timestamp_ntz (`local-timestamp-micros`), decimal (bytes +
  * `decimal` logical), and arrays/structs of these (recursively).
  * Nullable columns map to `union(null, T)` with a null default — the
  * standard Avro idiom every other reader understands.
  *
  * Scale shape: one writer per task (container blocks with sync
  * markers, deflate-compressed); reads are per-file streams decoded
  * straight into catalyst rows behind an `UnsafeProjection`. Files are
  * treated as unsplittable — the engine's snapshot dirs are many
  * task-sized files, so per-file parallelism is already the unit of
  * work, exactly like the parquet path.
  */
final class GraftAvroFileFormat extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "avro"

  override def toString: String = "GraftAvro"

  override def isSplitable(
      sparkSession: SparkSession, options: Map[String, String], path: Path): Boolean = false

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case BooleanType | IntegerType | ShortType | ByteType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case ArrayType(et, _) => supportDataType(et)
    case st: StructType => st.fields.forall(f => supportDataType(f.dataType))
    case _ => false
  }

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.newHadoopConfWithOptions(options)
    files.find(_.getLen > 0).map { f =>
      val in = new FsInput(f.getPath, conf)
      try {
        val reader = new DataFileReader(in, new GenericDatumReader[GenericRecord]())
        try GraftAvroFileFormat.toCatalyst(reader.getSchema)
        finally reader.close()
      } finally in.close()
    }
  }

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    // validate on the driver so an unsupported column fails the WRITE
    // with a type name, not a serialization error inside a task
    dataSchema.fields.foreach { f =>
      require(supportDataType(f.dataType),
        s"avro write format does not support column '${f.name}' of type " +
          s"${f.dataType.catalogString} (supported: atomic types, decimal, " +
          "date/timestamp, binary, and arrays/structs of these)")
    }
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".avro"
      override def newInstance(
          path: String, dataSchema: StructType, context: TaskAttemptContext): OutputWriter =
        new GraftAvroOutputWriter(path, dataSchema, context)
    }
  }

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // Configuration is not serializable: ship the entries and rebuild
    // ONCE per deserialized closure (public-API equivalent of a
    // broadcast SerializableConfiguration — not once per file)
    val confHolder = new GraftAvroFileFormat.ConfHolder(
      hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
    (file: PartitionedFile) => {
      val conf = confHolder.conf
      val in = new FsInput(file.toPath, conf)
      // resolve against a READER schema PRUNED from the writer's own
      // schema: avro schema resolution then skip-decodes every pruned
      // column, so a two-column projection (or a count()) never
      // deserializes the full row width. Pruning (rather than
      // synthesizing from requiredSchema) keeps every record full name
      // — top-level AND nested — identical to the writer's, because
      // resolution matches records by full name: files with nested
      // structs written by other producers (e.g. spark-avro, which
      // names nested records differently) resolve too.
      val datumReader = new GenericDatumReader[GenericRecord]()
      val reader = new DataFileReader(in, datumReader)
      datumReader.setExpected(GraftAvroFileFormat.pruneAvro(
        reader.getSchema, requiredSchema))
      val proj = UnsafeProjection.create(requiredSchema)
      // close at exhaustion AND at task end (limit()/take() stop early);
      // DataFileReader.close is idempotent, the double close is safe
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ => reader.close(); in.close() })
      new Iterator[InternalRow] {
        private var done = false
        override def hasNext: Boolean = {
          val h = !done && reader.hasNext
          if (!h && !done) { done = true; reader.close(); in.close() }
          h
        }
        override def next(): InternalRow =
          proj(GraftAvroFileFormat.recordToRow(reader.next(), requiredSchema))
      }
    }
  }
}

object GraftAvroFileFormat {

  /** The records of the avro container file at `path`, summed from its
    * blocks' counts: each block is read whole and no record is decoded.
    */
  def recordCount(path: Path, conf: Configuration): Long = {
    val in = path.getFileSystem(conf).open(path)
    try {
      val blocks = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      var n = 0L
      while (blocks.hasNext) { n += blocks.getBlockCount; blocks.nextBlock(): Unit }
      n
    } finally in.close()
  }

  /** Serializable carrier rebuilding a Hadoop Configuration lazily on
    * the executor — once per deserialized task closure, not per file.
    */
  final class ConfHolder(entries: Array[(String, String)]) extends Serializable {
    @transient lazy val conf: Configuration = {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** StructType → Avro record schema (nullable = union(null, T)). */
  def toAvro(schema: StructType, recordName: String): AvroSchema = {
    val fields = schema.fields.map { f =>
      val t = toAvroType(f.dataType, s"${recordName}_${f.name}")
      if (f.nullable)
        new AvroSchema.Field(f.name,
          AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), t),
          null, AvroSchema.Field.NULL_DEFAULT_VALUE)
      else new AvroSchema.Field(f.name, t, null.asInstanceOf[String])
    }
    val rec = AvroSchema.createRecord(recordName, null, "graft.avro", false)
    rec.setFields(java.util.Arrays.asList(fields: _*))
    rec
  }

  /** READER schema for `required`, derived by pruning the WRITER's
    * schema: record names and namespaces (nested ones included) are the
    * writer's own, atomic/logical types come from the writer, and only
    * the requested fields survive. A required field the writer lacks
    * falls back to a synthesized nullable type with a null default
    * (schema-evolution reads: the column backfills null).
    */
  def pruneAvro(writer: AvroSchema, required: StructType): AvroSchema = {
    val w = nonNullBranch(writer)
    require(w.getType == AvroSchema.Type.RECORD,
      s"avro reader pruning expects a record, got ${w.getType}")
    val fields = required.fields.map { f =>
      Option(w.getField(f.name)) match {
        case Some(wf) =>
          new AvroSchema.Field(f.name,
            pruneAvroFieldType(wf.schema(), f.dataType), null.asInstanceOf[String])
        case None =>
          val t = toAvroType(f.dataType, s"${w.getName}_${f.name}")
          new AvroSchema.Field(f.name,
            AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), t),
            null, AvroSchema.Field.NULL_DEFAULT_VALUE)
      }
    }
    val rec = AvroSchema.createRecord(w.getName, null, w.getNamespace, false)
    rec.setFields(java.util.Arrays.asList(fields: _*))
    rec
  }

  private def nonNullBranch(s: AvroSchema): AvroSchema =
    if (s.getType == AvroSchema.Type.UNION)
      s.getTypes.asScala.filterNot(_.getType == AvroSchema.Type.NULL).head
    else s

  /** Prune one field's writer schema against the required Catalyst
    * type, preserving the writer's union (nullability) shape.
    */
  private def pruneAvroFieldType(writer: AvroSchema, dt: DataType): AvroSchema = {
    val inner = nonNullBranch(writer)
    val pruned = dt match {
      case st: StructType => pruneAvro(inner, st)
      case ArrayType(et, _) =>
        AvroSchema.createArray(pruneAvroFieldType(inner.getElementType, et))
      // atomic: keep the writer's schema when it already maps to the
      // required Catalyst type (logical annotations intact); when it
      // does NOT (a wider user schema, or mixed-width files in one
      // directory), use the REQUIRED type so Avro schema resolution
      // applies its promotions (int→long, int/long→float/double,
      // float→double) instead of handing the row converter a narrower
      // runtime class than the projection expects
      case _ if toCatalystType(inner)._1 == dt => inner
      case _ => toAvroType(dt, inner.getFullName)
    }
    if (writer.getType == AvroSchema.Type.UNION)
      AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), pruned)
    else pruned
  }

  private def toAvroType(dt: DataType, name: String): AvroSchema = dt match {
    case BooleanType => AvroSchema.create(AvroSchema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => AvroSchema.create(AvroSchema.Type.INT)
    case LongType => AvroSchema.create(AvroSchema.Type.LONG)
    case FloatType => AvroSchema.create(AvroSchema.Type.FLOAT)
    case DoubleType => AvroSchema.create(AvroSchema.Type.DOUBLE)
    case StringType => AvroSchema.create(AvroSchema.Type.STRING)
    case BinaryType => AvroSchema.create(AvroSchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(AvroSchema.create(AvroSchema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(AvroSchema.create(AvroSchema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, s"${name}_item")
      AvroSchema.createArray(
        if (containsNull)
          AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), e)
        else e)
    case st: StructType => toAvro(st, name)
    case other => throw new UnsupportedOperationException(
      s"avro format does not support ${other.catalogString}")
  }

  /** Avro schema → StructType (unions of [null, T] = nullable T). */
  def toCatalyst(schema: AvroSchema): StructType =
    StructType(schema.getFields.asScala.map { f =>
      val (t, nullable) = toCatalystType(f.schema())
      StructField(f.name(), t, nullable)
    }.toArray)

  private def toCatalystType(s: AvroSchema): (DataType, Boolean) = s.getType match {
    case AvroSchema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filterNot(_.getType == AvroSchema.Type.NULL)
      require(nonNull.size == 1,
        s"avro union ${s} is not a simple nullable union; unsupported")
      (toCatalystType(nonNull.head)._1, true)
    case AvroSchema.Type.BOOLEAN => (BooleanType, false)
    case AvroSchema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) (DateType, false)
      else (IntegerType, false)
    case AvroSchema.Type.LONG => s.getLogicalType match {
      case _: LogicalTypes.TimestampMicros => (TimestampType, false)
      case _: LogicalTypes.LocalTimestampMicros => (TimestampNTZType, false)
      case _ => (LongType, false)
    }
    case AvroSchema.Type.FLOAT => (FloatType, false)
    case AvroSchema.Type.DOUBLE => (DoubleType, false)
    case AvroSchema.Type.STRING => (StringType, false)
    case AvroSchema.Type.BYTES => s.getLogicalType match {
      case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case AvroSchema.Type.ARRAY =>
      val (et, n) = toCatalystType(s.getElementType)
      (ArrayType(et, n), false)
    case AvroSchema.Type.RECORD => (toCatalyst(s), false)
    case other => throw new UnsupportedOperationException(
      s"avro type $other is not supported by this reader")
  }

  /** Catalyst value at (row, ordinal, type) → Avro datum. `avro` is the
    * FIELD's schema (possibly a nullable union): nested records must be
    * built against the exact schema instance the writer's union
    * resolution will look up by full name.
    */
  def toAvroDatum(row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType, avro: AvroSchema): AnyRef = {
    if (row.isNullAt(i)) return null
    val s =
      if (avro.getType == AvroSchema.Type.UNION)
        avro.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).get
      else avro
    dt match {
      case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
      case IntegerType | DateType => java.lang.Integer.valueOf(row.getInt(i))
      case ShortType => java.lang.Integer.valueOf(row.getShort(i).toInt)
      case ByteType => java.lang.Integer.valueOf(row.getByte(i).toInt)
      case LongType | TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(row.getLong(i))
      case FloatType => java.lang.Float.valueOf(row.getFloat(i))
      case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
      case StringType => row.getUTF8String(i).toString
      case BinaryType => ByteBuffer.wrap(row.getBinary(i))
      case d: DecimalType =>
        ByteBuffer.wrap(
          row.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.unscaledValue().toByteArray)
      case ArrayType(et, _) =>
        val arr = row.getArray(i)
        val elemSchema = s.getElementType
        val out = new java.util.ArrayList[AnyRef](arr.numElements())
        var j = 0
        while (j < arr.numElements()) {
          out.add(toAvroDatum(arr, j, et, elemSchema)); j += 1
        }
        out
      case st: StructType =>
        rowToRecord(row.getStruct(i, st.size), st, s)
      case other => throw new UnsupportedOperationException(
        s"avro format does not support ${other.catalogString}")
    }
  }

  def rowToRecord(row: InternalRow, schema: StructType, avro: AvroSchema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < schema.size) {
      rec.put(i,
        toAvroDatum(row, i, schema.fields(i).dataType, avro.getFields.get(i).schema()))
      i += 1
    }
    rec
  }

  /** Avro record → catalyst row of `requiredSchema` (projection by
    * field NAME — column pruning and schema evolution both resolve
    * here; a field the file lacks reads back null).
    */
  def recordToRow(rec: GenericRecord, requiredSchema: StructType): InternalRow = {
    val out = new GenericInternalRow(requiredSchema.size)
    var i = 0
    while (i < requiredSchema.size) {
      val f = requiredSchema.fields(i)
      val v = if (rec.getSchema.getField(f.name) == null) null else rec.get(f.name)
      out.update(i, fromAvroDatum(v, f.dataType))
      i += 1
    }
    out
  }

  private def fromAvroDatum(v: AnyRef, dt: DataType): Any = {
    if (v == null) return null
    dt match {
      case StringType => UTF8String.fromString(v.toString)
      case BinaryType =>
        val bb = v.asInstanceOf[ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining()); bb.get(bytes); bytes
      case d: DecimalType =>
        val bb = v.asInstanceOf[ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(bytes), d.scale), d.precision, d.scale)
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
           DateType | TimestampType | TimestampNTZType => v
      case ShortType => v.asInstanceOf[java.lang.Integer].shortValue()
      case ByteType => v.asInstanceOf[java.lang.Integer].byteValue()
      case ArrayType(et, _) =>
        val items = v.asInstanceOf[java.util.Collection[AnyRef]].asScala
        new GenericArrayData(items.map(fromAvroDatum(_, et)).toArray)
      case st: StructType => recordToRow(v.asInstanceOf[GenericRecord], st)
      case other => throw new UnsupportedOperationException(
        s"avro type for ${other.catalogString} is not supported")
    }
  }
}

/** One Avro container file per task: deflate-compressed blocks with
  * sync markers (splittable by standard readers even though THIS
  * reader consumes per-file).
  */
final class GraftAvroOutputWriter(
    val path: String, dataSchema: StructType, context: TaskAttemptContext)
  extends OutputWriter {

  private val avroSchema = GraftAvroFileFormat.toAvro(dataSchema, "graft_row")
  private val writer = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(CodecFactory.deflateCodec(6))
    val p = new Path(path)
    w.create(avroSchema, p.getFileSystem(context.getConfiguration).create(p, false))
  }

  override def write(row: InternalRow): Unit =
    writer.append(GraftAvroFileFormat.rowToRecord(row, dataSchema, avroSchema)): Unit

  override def close(): Unit = writer.close()
}
