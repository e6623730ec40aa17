package graft.sink

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.governance.Audit
import graft.template.PartitionField

/** The `table_write` audit record of every metadata-only table
  * operation: its `operation` plus every detail key and value, and how
  * many records one call logs (none for a no-op).
  */
class MetadataAuditSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_audit_pin").toString, "audit_pin",
      "t" + java.util.UUID.randomUUID().toString.take(8))

  /** The details of the `table_write` records `t` logged while `op` ran,
    * in order. Records are told apart by identity, so other suites'
    * records (and the buffer's bounded tail) do not matter.
    */
  private def writes(t: SnapshotTable)(op: => Any): Seq[Map[String, String]] = {
    val before = Audit.recorded
    op
    Audit.recorded
      .filterNot(e => before.exists(_ eq e))
      .filter(e => e.event == "table_write" && e.table == t.fullName)
      .map(_.details)
  }

  test("create, schema, set/unset properties and partition-spec evolution") {
    val t = freshTable()
    assert(writes(t)(t.create(Seq("id" -> "BIGINT", "ts" -> "TIMESTAMP"))) ==
      Seq(Map("operation" -> "create", "snapshot_id" -> "1")))
    assert(writes(t)(t.addColumn(spark, "w", "INT")) ==
      Seq(Map("operation" -> "schema", "snapshot_id" -> "2")))
    assert(writes(t)(t.renameColumn(spark, "w", "w2")) ==
      Seq(Map("operation" -> "schema", "snapshot_id" -> "3")))
    assert(writes(t)(t.setProperties(Map("b" -> "2", "a" -> "1"))) ==
      Seq(Map("operation" -> "set_properties", "keys" -> "a,b")))
    // unknown keys are ignored but still named in the record
    assert(writes(t)(t.unsetProperties(Seq("zz", "b"))) ==
      Seq(Map("operation" -> "unset_properties", "keys" -> "b,zz")))
    assert(t.properties == Map("a" -> "1"))
    assert(writes(t)(t.updatePartitionSpec(Seq(PartitionField("ts", "month")))) ==
      Seq(Map("operation" -> "update_partition_spec",
        "old_spec" -> "", "new_spec" -> "month(ts)")))
    assert(writes(t)(t.updatePartitionSpec(
      Seq(PartitionField("ts", "day"), PartitionField("id", "bucket", 4)))) ==
      Seq(Map("operation" -> "update_partition_spec",
        "old_spec" -> "month(ts)", "new_spec" -> "day(ts),bucket(id)")))
  }

  test("publish, stage_discard, cherry_pick and rollback") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v")) // snap 1
    val staged = t.stageAppend(Seq(2).toDF("v")) // snap 2
    assert(writes(t)(t.publish(staged.id)) ==
      Seq(Map("operation" -> "publish", "snapshot_id" -> "2")))
    val doomed = t.stageAppend(Seq(3).toDF("v")) // snap 3
    assert(writes(t)(t.discardStaged(doomed.id)) ==
      Seq(Map("operation" -> "stage_discard", "snapshot_id" -> "3")))
    // the discarded id is free again: the next stage reuses it
    val picked = t.stageAppend(Seq(4).toDF("v")) // snap 3
    t.append(Seq(5).toDF("v")) // snap 4: the head moved past the stage
    assert(writes(t)(t.cherryPick(picked.id)) ==
      Seq(Map("operation" -> "cherry_pick", "snapshot_id" -> "5",
        "source_snapshot_id" -> "3", "delta_dirs" -> "1")))
    assert(writes(t)(t.rollback(1L)) ==
      Seq(Map("operation" -> "rollback", "snapshot_id" -> "6",
        "target_snapshot_id" -> "1")))
    assert(t.read(spark).as[Int].collect().toSeq == Seq(1))
  }

  test("create_branch, create_tag, fast_forward, drop_ref and expire_ref") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v")) // snap 1
    assert(writes(t)(t.createBranch("dev")) ==
      Seq(Map("operation" -> "create_branch", "ref" -> "dev", "snapshot_id" -> "1")))
    assert(writes(t)(t.createTag("old", maxRefAgeMs = Some(1L))) ==
      Seq(Map("operation" -> "create_tag", "ref" -> "old", "snapshot_id" -> "1")))
    // fast-forwarding a branch already at the head changes nothing
    assert(writes(t)(t.fastForward("dev")).isEmpty)
    t.appendToBranch("dev", Seq(2).toDF("v")) // snap 2, staged
    t.appendToBranch("dev", Seq(3).toDF("v")) // snap 3, staged
    assert(writes(t)(t.fastForward("dev")) ==
      Seq(Map("operation" -> "fast_forward", "ref" -> "dev",
        "snapshot_id" -> "3", "published_count" -> "2")))
    assert(writes(t)(t.dropRef("dev")) ==
      Seq(Map("operation" -> "drop_ref", "ref" -> "dev")))
    t.createTag("keep") // at snap 3
    t.createBranch("aged", maxRefAgeMs = Some(1L)) // at snap 3
    Thread.sleep(5)
    // one record per aged-out ref, in refs.json order; the expired
    // snapshots themselves log nothing
    val expiry = writes(t)(t.expireSnapshots(System.currentTimeMillis() + 60000))
    assert(expiry == Seq(
      Map("operation" -> "expire_ref", "ref" -> "old", "kind" -> "tag"),
      Map("operation" -> "expire_ref", "ref" -> "aged", "kind" -> "branch")))
    assert(t.refs.map(_.name) == Seq("keep"))
    assert(t.snapshots.map(_.id) == Seq(3L))
    assert(writes(t)(t.expireSnapshots(System.currentTimeMillis() + 60000)).isEmpty)
  }

  test("rewrite_manifests and remove_orphan_files") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    t.append(Seq(2).toDF("v"))
    var consolidated = (0, 0)
    val pinned = writes(t) { consolidated = t.rewriteManifests() }
    val files = t.fileStats(spark).count()
    assert(consolidated == ((2, files.toInt)))
    assert(pinned == Seq(Map("operation" -> "rewrite_manifests",
      "data_dirs" -> "2", "data_files" -> files.toString)))
    val orphan = new File(t.root, "snap-0rphan00")
    assert(orphan.mkdir() && new File(orphan, "part-0.parquet").createNewFile())
    assert(orphan.setLastModified(System.currentTimeMillis() - 3L * 24 * 3600 * 1000))
    assert(writes(t)(t.removeOrphanFiles()) ==
      Seq(Map("operation" -> "remove_orphan_files", "removed_dirs" -> "1")))
    assert(!orphan.exists())
    // nothing to remove: no record
    assert(writes(t)(t.removeOrphanFiles()).isEmpty)
  }

  test("a metadata-only schema change logs one schema record per column change") {
    val t = freshTable()
    t.overwrite(Seq((1, 2)).toDF("a", "b"))
    assert(writes(t) {
      t.updateColumnType(spark, "a", "BIGINT")
      t.dropColumn(spark, "b")
    } == Seq(
      Map("operation" -> "schema", "snapshot_id" -> "2"),
      Map("operation" -> "schema", "snapshot_id" -> "3")))
    assert(t.schema.map(c => c.name -> c.dataType) == Seq("a" -> "BIGINT"))
  }
}
