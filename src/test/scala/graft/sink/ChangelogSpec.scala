package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch changelog read (`readChangelog`): row-level insert/delete
  * visibility across snapshots — appends, equality deletes, dynamic
  * overwrite masks, copy-on-write rewrites; layout-only compaction is
  * silent.
  */
class ChangelogSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_cl").toString, "ns", "t")

  private def changes(t: SnapshotTable, from: Long, to: Long): Seq[(Long, String, Long)] =
    t.readChangelog(spark, from, to)
      .select(col("id"), col("_change_type"), col("_commit_snapshot_id"))
      .as[(Long, String, Long)].collect().sorted.toSeq

  test("appends surface as per-commit inserts; empty range carries schema") {
    val t = freshTable()
    t.overwrite(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    t.append(Seq(4L).toDF("id"))
    assert(changes(t, 1, 3) == Seq((3L, "insert", 2L), (4L, "insert", 3L)))
    assert(changes(t, 2, 3) == Seq((4L, "insert", 3L)))
    val empty = t.readChangelog(spark, 3, 3)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("id", "_change_type", "_commit_snapshot_id"))
  }

  test("equality deletes emit the erased ROWS as deletes") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.deleteWhere(Seq(2L).toDF("id"), Seq("id"))
    val got = t.readChangelog(spark, 1, 2)
      .select("id", "v", "_change_type").as[(Long, String, String)].collect().toSeq
    assert(got == Seq((2L, "b", "delete"))) // the full row, not just the key
    // rows appended AFTER the delete with the same key are plain inserts
    t.append(Seq((2L, "b2")).toDF("id", "v"))
    assert(changes(t, 2, 3) == Seq((2L, "insert", 3L)))
  }

  test("a dropped column re-added under its name reads null in the changelog, not its old values") {
    val t = freshTable()
    t.overwrite(Seq((1L, "old1"), (2L, "old2")).toDF("id", "b"))
    t.delete(spark, Rows.Where(col("id") === 1L))
    t.dropColumn(spark, "b")
    t.addColumn(spark, "b", "STRING")
    assert(t.read(spark).as[(Long, Option[String])].collect().toSeq == Seq((2L, None)))
    // the re-added `b` is a new field id: no earlier snapshot holds a
    // value of it, whatever its name
    val got = t.readChangelog(spark, 1, 4)
      .select("id", "b", "_change_type").as[(Long, Option[String], String)].collect().sorted.toSeq
    assert(got == Seq((1L, None, "delete"), (2L, None, "delete"), (2L, None, "insert")),
      s"old values of the dropped column came back: $got")
  }

  test("copy-on-write UPDATE surfaces as rewritten-dir delete + insert") {
    val t = freshTable()
    t.overwrite(Seq((1L, "x"), (2L, "x")).toDF("id", "v"))
    t.append(Seq((3L, "x")).toDF("id", "v"))
    t.update(spark, Rows.Where(col("id") === 1L), Map("v" -> lit("y")))
    val got = t.readChangelog(spark, 2, 3)
      .select("id", "v", "_change_type").as[(Long, String, String)].collect().sorted.toSeq
    // only the FIRST dir rewrote: its rows delete + re-insert (id=1
    // updated); the untouched dir (id=3) is silent
    assert(got == Seq((1L, "x", "delete"), (1L, "y", "insert"),
      (2L, "x", "delete"), (2L, "x", "insert")))
  }

  test("dynamic partition overwrite: newly masked partitions are deletes") {
    val t = freshTable()
    t.overwrite(Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"), partitionCols = Seq("day"))
    t.overwritePartitions(Seq((20L, "d2")).toDF("id", "day"), Seq("day"))
    val got = t.readChangelog(spark, 1, 2)
      .select("id", "_change_type").as[(Long, String)].collect().sorted.toSeq
    // d2's old row deleted (mask), d2's new row inserted; d1 silent
    assert(got == Seq((2L, "delete"), (20L, "insert")))
  }

  test("compaction is layout-only: the changelog is silent across it") {
    val t = freshTable()
    t.overwrite(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    t.compact(spark)
    assert(t.currentSnapshot.get.operation == "replace")
    assert(t.readChangelog(spark, 2, 3).count() == 0L)
    // ...and a post-compaction append is still visible
    t.append(Seq(4L).toDF("id"))
    assert(changes(t, 2, 4) == Seq((4L, "insert", 4L)))
  }

  test("readChangelogUpdates pairs delete+insert per key; unmatched stay raw") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // snap 1
    // MOR update: erase exactly id=2's old version + append the new one
    // in ONE commit — the pairing's home case
    t.update(spark, Rows.Where(col("id") === 2L), Map("v" -> lit("B")), WriteMode.MergeOnRead) // snap 2
    t.append(Seq((4L, "d")).toDF("id", "v")) // snap 3 — pure insert
    t.deleteWhere(Seq(1L).toDF("id"), Seq("id")) // snap 4 — pure delete
    val got = t.readChangelogUpdates(spark, 1L, 4L, keyCols = Seq("id"))
      .select(col("id"), col("v"), col("_change_type"), col("_commit_snapshot_id"))
      .as[(Long, String, String, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, "a", "delete", 4L),
      (2L, "B", "update_postimage", 2L),
      (2L, "b", "update_preimage", 2L),
      (4L, "d", "insert", 3L)))
    // identifier.fields property is the default key source
    t.setProperties(Map("identifier.fields" -> "id"))
    val viaProp = t.readChangelogUpdates(spark, 1L, 4L)
      .select(col("id"), col("_change_type")).as[(Long, String)].collect().sorted.toSeq
    assert(viaProp == got.map(r => (r._1, r._3)).sorted)
    // no keys anywhere: actionable error
    val t2 = freshTable()
    t2.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t2.append(Seq((2L, "b")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](
      t2.readChangelogUpdates(spark, 1L, 2L))
    assert(e.getMessage.contains("identifier.fields"))
  }

  test("readChangelogUpdates rejects ambiguous identifier multiplicity") {
    val t = freshTable()
    // two rows share key 7 — a COW rewrite of their file would emit two
    // deletes + two inserts for the same (commit, key): unpairable
    t.overwrite(Seq((7L, "x"), (7L, "y"), (8L, "z")).toDF("id", "v"))
    t.update(spark, Rows.Where(col("id") === 8L), Map("v" -> lit("Z"))) // COW: rewrites the file
    // the check rides IN-PLAN (assert_true on the same window pass that
    // pairs — one execution of the slice, not a separate validation
    // scan), so it surfaces at the consuming ACTION, task-wrapped
    val e = intercept[Exception](
      t.readChangelogUpdates(spark, 1L, 2L, keyCols = Seq("id")).collect())
    def messages(x: Throwable): String =
      if (x == null) "" else x.getMessage + messages(x.getCause)
    assert(messages(e).contains("unique per commit side"), messages(e))
  }
}
