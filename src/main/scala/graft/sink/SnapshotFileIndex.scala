package graft.sink

import java.io.File

import graft.plans.RangeStats.DirStats
import graft.template.PartitionField
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory, PartitioningUtils}
import org.apache.spark.sql.types.StructType

/** The files of one snapshot scan, exactly as the table metadata records
  * them (the Iceberg manifest-planned scan): each file's path, size and
  * partition values come from its dir's files sidecar, and each
  * partition column's type from the dir's columns sidecar. Planning a
  * scan over it lists no directory and infers no partition type, so a
  * string partition of numeric-looking values ('007') reads back as
  * written, and any number of partitioned dirs share one relation.
  *
  * A case class: two reads of the same snapshot build equal indexes, so
  * the CacheManager matches them. `dirs` are the scanned data dirs
  * (`rootPaths`); a masked partition's files are simply absent from
  * `files`. The index also carries what the optimizer rules plan from,
  * so neither reads a file: `stats`, each dir's column ranges as its
  * files sidecar records them (the range-stats rule), and `specs`, the
  * table's declared partition transforms, current and superseded (the
  * hidden-partition rule; empty for an unpartitioned scan).
  */
final case class SnapshotFileIndex(
    dirs: Seq[String],
    files: Seq[SnapshotFileIndex.DataFile],
    partitionSchema: StructType,
    timeZone: String,
    stats: Map[String, DirStats],
    specs: Seq[PartitionField]) extends FileIndex {

  import SnapshotFileIndex.qualified

  override def rootPaths: Seq[Path] = dirs.map(qualified)

  /** `files` grouped by partition, each with its typed partition row. */
  private lazy val partitions: Seq[(InternalRow, Seq[SnapshotFileIndex.DataFile])] = {
    val zone = DateTimeUtils.getZoneId(timeZone)
    val byPartition = files.groupBy(_.partition)
    files.map(_.partition).distinct.map { vs =>
      InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(vs).map { case (f, v) =>
        if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else PartitioningUtils.castPartValueToDesiredType(f.dataType, v, zone)
      }) -> byPartition(vs)
    }
  }

  /** Applies `partitionFilters` exactly: the scan does not re-check them. */
  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = predicate(partitionFilters)
    partitions.collect { case (row, fs) if keep(row) =>
      PartitionDirectory(row, fs.map(f =>
        FileStatusWithMetadata(new FileStatus(f.bytes, false, 1, 0L, 0L, qualified(f.path)))))
    }
  }

  /** The files whose partition values satisfy every one of `filters`,
    * which reference partition columns only.
    */
  def matching(filters: Seq[Expression]): Seq[SnapshotFileIndex.DataFile] = {
    val keep = predicate(filters)
    partitions.collect { case (row, fs) if keep(row) => fs }.flatten
  }

  /** This scan over `kept` files only; its roots are the dirs still holding one. */
  def narrow(kept: Seq[SnapshotFileIndex.DataFile]): SnapshotFileIndex = {
    val keptDirs = kept.map(_.dir).toSet
    copy(dirs = dirs.filter(keptDirs), files = kept)
  }

  override def inputFiles: Array[String] = files.map(f => qualified(f.path).toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.bytes).sum

  private def predicate(filters: Seq[Expression]): InternalRow => Boolean =
    filters.reduceOption(And).fold((_: InternalRow) => true) { cond =>
      val p = Predicate.createInterpreted(cond.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      p.initialize(0)
      p.eval
    }
}

object SnapshotFileIndex {

  /** One data file of a scan: its absolute path, the data dir holding
    * it, its size, and its partition values as written in its path
    * (still escaped; `__HIVE_DEFAULT_PARTITION__` for null).
    */
  final case class DataFile(path: String, dir: String, bytes: Long, partition: Seq[String])

  private def qualified(p: String): Path = new Path("file", null, new File(p).getAbsolutePath)
}
