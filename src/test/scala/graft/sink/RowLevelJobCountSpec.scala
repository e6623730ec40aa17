package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

/** Spark jobs per row-level statement on 200 rows in 2 dirs with one
  * matched row, pinned at or below what the per-shape entry points that
  * `delete`, `update` and `merge` replaced ran (their names label the
  * cases). Merge-on-read DELETE and UPDATE are pinned one job lower: a
  * single grouped job over the positions file yields both the removed
  * count and the dirs it scopes to (they measure two lower: 6 and 7).
  */
class RowLevelJobCountSpec extends SparkSpec {

  import spark.implicits._

  private def table(): SnapshotTable = {
    val t = SnapshotTable(Files.createTempDirectory("graft_rl_jobs").toString, "ns", "j")
    t.overwrite((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t.append((101L to 200L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t
  }

  private val one = Rows.Where(col("id") === 2L)
  private val oneMatching = Rows.Matching(_.filter(col("id") === 2L))
  private val sets = Map("v" -> lit(-1.0))
  private def upsert(t: SnapshotTable, mode: WriteMode) =
    t.merge(Seq((2L, -1.0)).toDF("id", "v"), Seq("id" -> "id"),
      Seq(Merge.WhenMatched(Merge.UpdateAll)), Seq(Merge.WhenNotMatched(Merge.InsertAll)),
      mode = mode)
  private def updateMerge(t: SnapshotTable, mode: WriteMode) =
    t.merge(Seq((2L, -1.0)).toDF("id", "v"), Seq("id" -> "id"),
      Seq(Merge.WhenMatched(Merge.UpdateAll)), Nil, mode = mode)

  private val pins: Seq[(String, Int, SnapshotTable => Any)] = Seq(
    ("deleteRows", 9, t => t.delete(spark, one)),
    ("deletePositions", 7, t => t.delete(spark, one, WriteMode.MergeOnRead)),
    ("deleteRowsMatching", 12, t => t.delete(spark, oneMatching)),
    ("deletePositionsMatching", 7, t => t.delete(spark, oneMatching, WriteMode.MergeOnRead)),
    ("updateWhere", 9, t => t.update(spark, one, sets)),
    ("updatePositions", 8, t => t.update(spark, one, sets, WriteMode.MergeOnRead)),
    ("updateRowsMatching", 10, t => t.update(spark, oneMatching, sets)),
    ("updatePositionsMatching", 8, t => t.update(spark, oneMatching, sets, WriteMode.MergeOnRead)),
    ("mergeClauses (matched only)", 15, t => updateMerge(t, WriteMode.CopyOnWrite)),
    ("mergeClausesMor (matched only)", 16, t => updateMerge(t, WriteMode.MergeOnRead)),
    ("mergeClauses (upsert)", 18, t => upsert(t, WriteMode.CopyOnWrite)),
    ("mergeClausesMor (upsert)", 19, t => upsert(t, WriteMode.MergeOnRead)))

  pins.foreach { case (label, bound, op) =>
    test(s"$label runs at most $bound jobs") {
      val t = table()
      val jobs = jobsDuring(op(t))
      info(s"$label: $jobs jobs")
      assert(t.currentSnapshot.get.operation != "append", "the statement must commit")
      assert(jobs <= bound, s"$label ran $jobs jobs, pinned at $bound")
    }
  }
}
