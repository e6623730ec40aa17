package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

/** Spark jobs per row-level statement on 200 rows in 2 dirs with one
  * matched row (the labels name the per-shape entry points that
  * `delete`, `update` and `merge` replaced). The test names keep each
  * statement's first ceiling; the pin is the count measured twice on a
  * 4-core local[4] session with the same result, once every scan took
  * its schema from the dirs' sidecars instead of a footer-reading
  * inference job and every statement found its touched files with one
  * probe of the table (`_metadata.file_path`), not a dir probe plus a
  * file probe. A failing pin prints each job's call site.
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

  // (label, ceiling, pin, statement)
  private val pins: Seq[(String, Int, Int, SnapshotTable => Any)] = Seq(
    ("deleteRows", 9, 3, t => t.delete(spark, one)),
    ("deletePositions", 7, 3, t => t.delete(spark, one, WriteMode.MergeOnRead)),
    ("deleteRowsMatching", 12, 6, t => t.delete(spark, oneMatching)),
    ("deletePositionsMatching", 7, 3, t => t.delete(spark, oneMatching, WriteMode.MergeOnRead)),
    ("updateWhere", 9, 3, t => t.update(spark, one, sets)),
    ("updatePositions", 8, 4, t => t.update(spark, one, sets, WriteMode.MergeOnRead)),
    ("updateRowsMatching", 10, 4, t => t.update(spark, oneMatching, sets)),
    ("updatePositionsMatching", 8, 4, t => t.update(spark, oneMatching, sets, WriteMode.MergeOnRead)),
    ("mergeClauses (matched only)", 15, 8, t => updateMerge(t, WriteMode.CopyOnWrite)),
    ("mergeClausesMor (matched only)", 16, 9, t => updateMerge(t, WriteMode.MergeOnRead)),
    ("mergeClauses (upsert)", 18, 10, t => upsert(t, WriteMode.CopyOnWrite)),
    ("mergeClausesMor (upsert)", 19, 11, t => upsert(t, WriteMode.MergeOnRead)))

  pins.foreach { case (label, ceiling, bound, op) =>
    test(s"$label runs at most $ceiling jobs") {
      val t = table()
      val sites = jobSitesDuring(op(t))
      val jobs = sites.size
      info(s"$label: $jobs jobs")
      assert(t.currentSnapshot.get.operation != "append", "the statement must commit")
      assert(jobs <= bound, s"$label ran $jobs jobs, pinned at $bound: ${sites.mkString("; ")}")
    }
  }
}
