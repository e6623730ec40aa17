package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import graft.governance.Audit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** Copy-on-write and merge-on-read are two physical shapes of one
  * logical statement: for every verb × selector, on an unpartitioned
  * table, a partitioned one and one already carrying an equality delete,
  * both modes read back the same rows and record the same, exact
  * snapshot row count, and each commit's audit event names its
  * operation, mode and attempt count. For MERGE the `Where` case gates its clauses by
  * conditions and the `Matching` case lets the source keys alone decide.
  */
class RowLevelEquivalenceSpec extends SparkSpec {

  import spark.implicits._

  private def rows(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, i * 1.0, s"p${i % 3}")).toDF("id", "v", "p")

  /** Each kind holds ids 1..40 over two dirs. */
  private val kinds: Seq[(String, SnapshotTable => Unit)] = Seq(
    "an unpartitioned table" -> { t =>
      t.overwrite(rows(1L to 20L))
      t.append(rows(21L to 40L)): Unit
    },
    "a partitioned table" -> { t =>
      t.overwrite(rows(1L to 20L), partitionCols = Seq("p"))
      t.append(rows(21L to 40L), partitionCols = Seq("p")): Unit
    },
    "a table with an equality delete" -> { t =>
      t.overwrite(rows(1L to 20L))
      t.append(rows(21L to 40L))
      t.deleteWhere(Seq(4L, 30L).toDF("id"), Seq("id")): Unit
    })

  private val where = Rows.Where(col("id") % 4 === 0L)
  private val matching =
    Rows.Matching(_.join(broadcast(Seq(4L, 8L, 33L, 40L).toDF("id")), Seq("id"), "left_semi"))
  private def source: DataFrame =
    Seq((3L, 300.0, "p0"), (15L, 1500.0, "p0"), (35L, 3500.0, "p2"), (99L, 9900.0, "p0"))
      .toDF("id", "v", "p")

  private val statements: Seq[(String, String, (SnapshotTable, WriteMode) => Snapshot)] = Seq(
    ("delete", "Where", (t, m) => t.delete(spark, where, m)),
    ("delete", "Matching", (t, m) => t.delete(spark, matching, m)),
    ("update", "Where", (t, m) => t.update(spark, where, Map("v" -> (col("v") + 100.0)), m)),
    ("update", "Matching", (t, m) => t.update(spark, matching, Map("v" -> (col("v") + 100.0)), m)),
    ("merge", "Where", (t, m) => t.merge(source, Seq("id" -> "id"),
      Seq(Merge.WhenMatched(Merge.Update(Map("v" -> Merge.s("v"))), Some(Merge.t("v") > 10.0))),
      Seq(Merge.WhenNotMatched(Merge.InsertAll, Some(Merge.s("id") < 50L))),
      Seq(Merge.WhenNotMatchedBySource(Merge.Delete, Some(Merge.t("id") > 37L))), mode = m)),
    ("merge", "Matching", (t, m) => t.merge(source, Seq("id" -> "id"),
      Seq(Merge.WhenMatched(Merge.UpdateAll)), Seq(Merge.WhenNotMatched(Merge.InsertAll)),
      mode = m)))

  private var tables = 0

  /** (rows before, rows after, the commit, its audit details). */
  private def run(setup: SnapshotTable => Unit,
      stmt: (SnapshotTable, WriteMode) => Snapshot, mode: WriteMode)
      : (Seq[(Long, Double, String)], Seq[(Long, Double, String)], Snapshot, Map[String, String]) = {
    tables += 1
    val t = SnapshotTable(Files.createTempDirectory("graft_rl_eq").toString, "ns", s"eq$tables")
    setup(t)
    def content = t.read(spark).select("id", "v", "p").as[(Long, Double, String)]
      .collect().toSeq.sorted
    val before = content
    val snap = stmt(t, mode)
    val audit = Audit.recorded.reverse.find(e => e.table == t.fullName &&
      e.details.get("snapshot_id").contains(snap.id.toString)).map(_.details)
    (before, content, snap, audit.getOrElse(Map.empty))
  }

  for ((kind, setup) <- kinds; (verb, selector, stmt) <- statements)
    test(s"$verb × $selector on $kind: copy-on-write and merge-on-read agree") {
      val (before, cow, cowSnap, cowAudit) = run(setup, stmt, WriteMode.CopyOnWrite)
      val (_, mor, morSnap, morAudit) = run(setup, stmt, WriteMode.MergeOnRead)
      assert(cow != before, "the statement must change the table")
      assert(mor == cow)
      assert(cowSnap.operation == verb && morSnap.operation == verb)
      assert(cowSnap.rowCount == cow.size.toLong, "copy-on-write rowCount must be exact")
      assert(morSnap.rowCount == cowSnap.rowCount)
      assert(morSnap.deletes.count(_.positional) == 1, "merge-on-read rewrites no file")
      assert(!cowSnap.deletes.exists(_.positional))
      for ((audit, mode) <- Seq(cowAudit -> WriteMode.CopyOnWrite, morAudit -> WriteMode.MergeOnRead))
        assert(Seq("operation", "mode", "attempts").map(audit.get) ==
          Seq(Some(verb), Some(mode.name), Some("1")), s"audit: $audit")
    }
}
