package graft.sink

import org.apache.spark.sql.{Column, DataFrame}

/** The shape of a row-level delete, update or merge (Iceberg's `write.*.mode`).
  * CopyOnWrite, the default, rewrites the files holding touched rows. MergeOnRead
  * (parquet only) rewrites none: one commit adds a positional delete file naming
  * the touched rows and appends their new versions plus any inserts — reads pay
  * an anti-join until `compact`. Either way each attempt re-probes its base,
  * later appends stay out of scope, and touching no row commits nothing.
  */
sealed abstract class WriteMode(val name: String)
object WriteMode {
  case object CopyOnWrite extends WriteMode("copy-on-write")
  case object MergeOnRead extends WriteMode("merge-on-read")
  def of(table: SnapshotTable, property: String): WriteMode =
    if (table.properties.get(property).contains(MergeOnRead.name)) MergeOnRead else CopyOnWrite
}

/** The rows a delete or update touches: where `cond` is TRUE, or what `f`
  * keeps using row-preserving ops only (filters, semi and anti joins). */
sealed trait Rows {
  def apply(v: DataFrame): DataFrame = this match {
    case Rows.Where(cond) => v.filter(cond)
    case Rows.Matching(f) => f(v)
  }
}
object Rows {
  final case class Where(cond: Column) extends Rows
  final case class Matching(f: DataFrame => DataFrame) extends Rows
}
