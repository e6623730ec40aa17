package graft.sink

import graft.template.SortField
import org.apache.spark.sql.Column

/** The `write.sort.order` table property (Iceberg's
  * `ALTER TABLE ... WRITE ORDERED BY` role): a declared sort order,
  * persisted with the table, that every CATALOG write applies
  * automatically — SQL INSERTs, CTAS/RTAS and branch-routed writes all
  * land files internally sorted without the statement saying so.
  * Template-driven writes already sort via the template's `sort_order`;
  * this is the same contract for tables whose lifecycle is pure SQL
  * DDL/DML. Sorted files make the recorded column ranges tight (narrow
  * min/max per file ⇒ more dirs provably skippable) and keep
  * sort-sensitive consumers (merge scans, top-k) cheap — at 100 TB
  * the sort costs one `sortWithinPartitions` per write, no shuffle.
  *
  * Grammar (case-insensitive, comma-separated):
  * {{{
  *   col [ASC|DESC] [NULLS FIRST|NULLS LAST]
  * }}}
  * Reference declares per-table sort via its template schema
  * (`table-templates/_schema.json` sort_order); the property form
  * mirrors Iceberg's metadata-set sort order.
  */
object WriteSortOrder {

  val Key = "write.sort.order"

  /** Parse the property value; throws with the offending clause on bad
    * syntax (validated at DDL SET time so a typo fails the ALTER, not
    * some later write).
    */
  def parse(value: String): Seq[SortField] =
    value.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { clause =>
      val toks = clause.split("\\s+").toSeq
      val column = toks.head
      val rest = toks.tail.map(_.toLowerCase)
      rest match {
        case Seq() => SortField(column)
        case Seq(d) if d == "asc" || d == "desc" => SortField(column, d)
        case Seq("nulls", o) if o == "first" || o == "last" =>
          SortField(column, "asc", s"nulls_$o")
        case Seq(d, "nulls", o) if (d == "asc" || d == "desc") &&
            (o == "first" || o == "last") =>
          SortField(column, d, s"nulls_$o")
        case _ => throw new IllegalArgumentException(
          s"bad $Key clause '$clause' (grammar: col [ASC|DESC] " +
            "[NULLS FIRST|NULLS LAST])")
      }
    }

  /** The table's declared write sort as Spark sort columns, validated
    * against the live schema — a dropped/renamed column fails loudly at
    * the write instead of a confusing resolution error mid-plan.
    */
  def sortCols(table: SnapshotTable): Seq[Column] = {
    val declared = table.properties.get(Key).map(parse).getOrElse(Nil)
    if (declared.isEmpty) Nil
    else {
      // Spark SQL resolves identifiers case-insensitively by default, so
      // the declared name matches the live schema the same way — and the
      // sort runs under the LIVE casing so downstream resolution agrees
      val live = table.schema.map(_.name)
      val byLower = live.map(n => n.toLowerCase -> n).toMap
      val unknown = declared.map(_.column).filterNot(c => byLower.contains(c.toLowerCase))
      require(unknown.isEmpty,
        s"$Key for ${table.fullName} references unknown column(s) " +
          s"${unknown.mkString(", ")} (live: ${live.sorted.mkString(", ")}); " +
          "fix the property via ALTER TABLE ... SET TBLPROPERTIES")
      declared.map(f => TableSink.sortColumn(f.copy(column = byLower(f.column.toLowerCase))))
    }
  }
}
