package graft.sink

import java.nio.file.{Files, Paths}

import graft.sink.MetadataJson.{JArr, JStr, num, obj}
import graft.template.PartitionField

/** The declared partition TRANSFORM spec of a table — `day(ts)`,
  * `bucket(16, id)`, ... — persisted beside the table metadata as
  * `.graft-partition-spec.json`. Iceberg keeps the same information in
  * its partition-spec metadata; here it serves the same two consumers:
  *
  *  - writers (template-driven [[TableSink]] writes and SQL
  *    `CREATE TABLE ... PARTITIONED BY` catalog writes) re-derive the
  *    directory columns from it in every session;
  *  - the read side's hidden-partitioning rule
  *    ([[graft.plans.GraftHiddenPartitionRule]]) translates predicates
  *    on the SOURCE column (`ts >= X`) into predicates on the derived
  *    directory column (`ts_day >= date(X)`) so partition pruning fires
  *    without the user ever naming the directory column — Iceberg's
  *    hidden-partitioning read contract. [[SnapshotTable]] reads the
  *    spec ([[readAll]]) when it builds a partitioned scan and puts it
  *    on the scan's [[SnapshotFileIndex]]; the rule reads it from there.
  */
object DeclaredPartitionSpec {

  val FileName = ".graft-partition-spec.json"

  /** Superseded specs, appended on [[evolve]] — Iceberg keeps every
    * historical partition spec by id for the same reason: data written
    * under an old layout keeps its dirs, and the read side must still
    * recognize (and prune on) the old transforms.
    */
  val HistoryFileName = ".graft-partition-spec-history.json"

  /** Declare the table's spec. Idempotent for the common case (template
    * writes re-declare the same spec every commit); a CHANGED
    * declaration is evolution — the superseded spec is archived so the
    * read side keeps pruning old-layout dirs (see [[evolve]]).
    */
  def write(tableRoot: String, spec: Seq[PartitionField]): Unit = {
    val path = Paths.get(tableRoot, FileName)
    if (!Files.exists(path)) {
      spec.foreach(_.derivedName: Unit) // validate transforms early
      Files.createDirectories(path.getParent)
      MetadataJson.write(path, specJson(spec))
    } else evolve(tableRoot, spec)
  }

  def read(tableRoot: String): Seq[PartitionField] = parseFile(tableRoot, FileName)

  /** Partition-spec EVOLUTION (Iceberg `updateSpec`): replace the
    * CURRENT spec — which only governs FUTURE writes — and append the
    * superseded one to the spec history. Metadata-only: no existing dir
    * is rewritten; dirs written under the old layout keep it, and reads
    * prune each dir with whichever transforms its layout carries
    * ([[graft.plans.GraftHiddenPartitionRule]] checks per-relation
    * applicability, so an old-spec predicate never touches a new-spec
    * dir). Rewriting old data into the new layout is [[SnapshotTable.compact]]'s
    * job, on the owner's schedule — exactly Iceberg's contract.
    */
  def evolve(tableRoot: String, newSpec: Seq[PartitionField]): Unit = {
    val current = read(tableRoot)
    if (current == newSpec) return
    newSpec.foreach(_.derivedName: Unit) // validate transforms early
    val history = (parseFile(tableRoot, HistoryFileName) ++ current).distinct
    Files.createDirectories(Paths.get(tableRoot))
    MetadataJson.write(Paths.get(tableRoot, HistoryFileName), specJson(history))
    MetadataJson.write(Paths.get(tableRoot, FileName), specJson(newSpec))
  }

  /** Current spec + every superseded spec's fields (deduplicated) — the
    * READ side's view: a predicate may prune old-layout dirs via an old
    * transform and new-layout dirs via the current one in the same scan.
    */
  def readAll(tableRoot: String): Seq[PartitionField] =
    (read(tableRoot) ++ parseFile(tableRoot, HistoryFileName)).distinct

  private def specJson(spec: Seq[PartitionField]): JArr = JArr(spec.map(p =>
    obj("column" -> JStr(p.column), "transform" -> JStr(p.transform), "n" -> num(p.n.toLong))))

  private def parseFile(tableRoot: String, name: String): Seq[PartitionField] =
    MetadataJson.read(Paths.get(tableRoot, name)).map(_.asArr.map { v =>
      val o = v.asObj
      PartitionField(o("column").asStr, o("transform").asStr, o("n").asLong.toInt)
    }).getOrElse(Nil)
}
