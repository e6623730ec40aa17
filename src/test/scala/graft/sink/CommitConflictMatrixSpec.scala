package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

/** Every retrying SnapshotTable entry point under the same conflict:
  * one rival append lands in the swap window. With a retry left the
  * operation re-runs on top of the rival and both effects survive; with
  * none it fails with the attempt count and leaves no unreferenced dir;
  * under repeated rivals it reports `numRetries + 1` attempts.
  */
class CommitConflictMatrixSpec extends SparkSpec {

  import spark.implicits._
  import ConflictInjection.{unreferencedDirs, withInjectedConflicts}

  /** One retrying entry point: `setup` prepares the table before any
    * rival can land, `run` performs the operation with the given retry
    * budget, `model` maps the table content (id -> v) before the
    * operation to the content after it, and `layout` checks what
    * content cannot show (layout-only commits).
    */
  private case class Case(
      name: String,
      operation: String,
      run: (SnapshotTable, Int) => Snapshot,
      model: Map[Long, Double] => Map[Long, Double],
      setup: SnapshotTable => Unit = _ => (),
      layout: Snapshot => Boolean = _ => true)

  private def rows(ids: Long*): org.apache.spark.sql.DataFrame =
    ids.map(i => (i, i * 10.0)).toDF("id", "v")

  private def content(t: SnapshotTable): Map[Long, Double] =
    t.read(spark).select("id", "v").as[(Long, Double)].collect().toMap

  private lazy val importSource: String = {
    val d = Files.createTempDirectory("graft_matrix_src").toString
    rows(500L).coalesce(1).write.parquet(s"$d/ext")
    s"$d/ext"
  }

  private val cases = Seq(
    Case("deleteWhere", "delete",
      (t, n) => t.deleteWhere(Seq(1L).toDF("id"), Seq("id"), numRetries = n),
      _ - 1L),
    Case("deletePositionsMatching", "delete",
      (t, n) => t.delete(spark, Rows.Matching(_.filter(col("id") === 2L)), WriteMode.MergeOnRead, numRetries = n),
      _ - 2L),
    Case("consolidatePositionalDeletes", "replace",
      (t, n) => t.consolidatePositionalDeletes(spark, n),
      identity,
      setup = t => {
        t.delete(spark, Rows.Where(col("id") === 3L), WriteMode.MergeOnRead): Unit
        t.delete(spark, Rows.Where(col("id") === 4L), WriteMode.MergeOnRead): Unit
      },
      layout = _.deletes.count(_.positional) == 1),
    Case("updatePositionsMatching", "update",
      (t, n) => t.update(spark, Rows.Matching(_.filter(col("id") === 5L)),
        Map("v" -> lit(-5.0)), WriteMode.MergeOnRead, numRetries = n),
      _ + (5L -> -5.0)),
    Case("updateWhere", "update",
      (t, n) => t.update(spark, Rows.Where(col("id") === 6L), Map("v" -> lit(-6.0)), numRetries = n),
      _ + (6L -> -6.0)),
    Case("updateRowsMatching", "update",
      (t, n) => t.update(spark, Rows.Matching(_.filter(col("id") === 7L)),
        Map("v" -> lit(-7.0)), numRetries = n),
      _ + (7L -> -7.0)),
    Case("deleteRowsMatching", "delete",
      (t, n) => t.delete(spark, Rows.Matching(_.filter(col("id") === 8L)), numRetries = n),
      _ - 8L),
    Case("mergeClauses", "merge",
      (t, n) => t.merge(Seq((9L, -9.0), (700L, 7.0)).toDF("id", "v"),
        Seq("id" -> "id"), Seq(Merge.WhenMatched(Merge.UpdateAll)),
        Seq(Merge.WhenNotMatched(Merge.InsertAll)), numRetries = n),
      _ + (9L -> -9.0) + (700L -> 7.0)),
    Case("mergeClausesMor", "merge",
      (t, n) => t.merge(Seq((10L, -10.0), (800L, 8.0)).toDF("id", "v"),
        Seq("id" -> "id"), Seq(Merge.WhenMatched(Merge.UpdateAll)),
        Seq(Merge.WhenNotMatched(Merge.InsertAll)), numRetries = n, mode = WriteMode.MergeOnRead),
      _ + (10L -> -10.0) + (800L -> 8.0)),
    Case("addFiles", "append",
      (t, n) => t.addFiles(spark, importSource, n),
      _ + (500L -> 5000.0)),
    Case("rewriteDeletes", "rewrite_deletes",
      (t, n) => t.rewriteDeletes(spark, n),
      identity,
      setup = t => t.deleteWhere(Seq(11L).toDF("id"), Seq("id")): Unit,
      layout = _.deletes.isEmpty),
    Case("commit (append)", "append",
      (t, n) => t.append(rows(600L), numRetries = n),
      _ + (600L -> 6000.0)))

  /** A table of ids 1..20 after `c.setup`, its content, and a rival
    * that appends one fresh id per call (counted in `fired`).
    */
  private def prepared(c: Case): (SnapshotTable, Map[Long, Double], () => Long, () => Unit) = {
    val t = SnapshotTable(Files.createTempDirectory("graft_matrix").toString, "ns", "m")
    t.overwrite(rows(1L to 20L: _*))
    c.setup(t)
    var fired = 0L
    val rival = () => {
      fired += 1
      t.append(Seq((1000L + fired, -1.0)).toDF("id", "v"), numRetries = 0): Unit
    }
    (t, content(t), () => fired, rival)
  }

  cases.foreach { c =>
    test(s"${c.name}: one rival in the swap window, one retry left — both land") {
      val (t, before, fired, rival) = prepared(c)
      val snap = withInjectedConflicts(t, conflicts = 1)(rival())(c.run(t, 1))
      assert(fired() == 1L, "the swap hook must fire exactly once")
      assert(snap.operation == c.operation)
      assert(t.currentSnapshot.map(_.id).contains(snap.id),
        "the operation must commit on top of the rival")
      assert(c.layout(snap))
      val after = content(t)
      assert(after.get(1001L).contains(-1.0), "the rival's row must survive")
      assert(after == c.model(before + (1001L -> -1.0)))
      assert(unreferencedDirs(t).isEmpty, s"orphaned dirs: ${unreferencedDirs(t)}")
    }

    test(s"${c.name}: one rival and no retry left — fails after 1 attempt, no orphan") {
      val (t, before, fired, rival) = prepared(c)
      val e = intercept[CommitFailedException](
        withInjectedConflicts(t, conflicts = 1)(rival())(c.run(t, 0)))
      assert(fired() == 1L)
      assert(e.attempts == 1)
      assert(content(t) == before + (1001L -> -1.0), "only the rival may land")
      assert(unreferencedDirs(t).isEmpty, s"orphaned dirs: ${unreferencedDirs(t)}")
    }

    test(s"${c.name}: exhaustion reports numRetries + 1 attempts") {
      val (t, _, fired, rival) = prepared(c)
      val e = intercept[CommitFailedException](
        withInjectedConflicts(t, conflicts = 3)(rival())(c.run(t, 2)))
      assert(e.attempts == 3)
      assert(fired() == 3L, "the hook must see attempts 0, 1 and 2")
      assert(unreferencedDirs(t).isEmpty, s"orphaned dirs: ${unreferencedDirs(t)}")
    }
  }
}
