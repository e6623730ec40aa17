package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Positional deletes (Iceberg v2's second merge-on-read delete
  * flavor): arbitrary-predicate point deletes as (file, row-position)
  * pairs — probe semantics, dir scoping, interplay with equality
  * deletes / time travel / compaction, and the `write.delete.mode`
  * SQL routing.
  */
class PositionalDeleteSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_pd").toString, "ns", "pt")

  test("deletePositions erases exactly the matched rows, rewriting nothing") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", ((col("id") % 10) * 100).cast("double")))
    val filesBefore = t.dataFileCount
    val dirsBefore = t.currentSnapshot.get.dataDirs
    // arithmetic predicate — not key-shaped, not pushable
    val snap = t.delete(spark, Rows.Where(col("v") * 2 > 1500.0), WriteMode.MergeOnRead)
    assert(snap.operation == "delete")
    assert(snap.dataDirs == dirsBefore, "no data dir may be rewritten")
    assert(t.dataFileCount == filesBefore, "no data file may be rewritten")
    assert(snap.deletes.exists(_.positional))
    // v in {0,100,...,900}; v*2>1500 ⇔ v∈{800,900} ⇔ id%10∈{8,9}: 20 rows
    assert(snap.rowCount == 80L)
    assert(t.read(spark).count() == 80L)
    assert(t.read(spark).filter(col("id") % 10 === 8 || col("id") % 10 === 9).count() == 0L)
  }

  test("NULL-predicate rows survive (SQL DELETE removes only TRUE)") {
    val t = freshTable()
    t.overwrite(Seq((1L, Some(10.0)), (2L, None), (3L, Some(300.0)))
      .toDF("id", "v"))
    t.delete(spark, Rows.Where(col("v") > 100.0), WriteMode.MergeOnRead)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "the NULL-v row must survive")
  }

  test("matching zero rows commits nothing") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id"))
    val before = t.snapshots.size
    t.delete(spark, Rows.Where(col("id") > 999L), WriteMode.MergeOnRead)
    assert(t.snapshots.size == before)
  }

  test("dir-scoped: rows appended after the delete survive, even matching ones") {
    val t = freshTable()
    t.overwrite((1L to 50L).toDF("id"))
    t.delete(spark, Rows.Where(col("id") % 5 === 0L), WriteMode.MergeOnRead)
    assert(t.read(spark).count() == 40L)
    t.append((51L to 60L).toDF("id"))
    // appended multiples of 5 (55, 60) are OUT of the delete's scope
    assert(t.read(spark).count() == 50L)
    assert(t.read(spark).filter(col("id") > 50L && col("id") % 5 === 0L).count() == 2L)
  }

  test("the probe runs over the logical view: already-deleted rows never re-match") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("id", "v"))
    val s1 = t.deleteWhere(Seq(2L).toDF("id"), Seq("id"))
    assert(s1.rowCount == 3L)
    // the predicate also matches the equality-deleted row 2 — the probe
    // must not re-count it (rowCount stays exact)
    val s2 = t.delete(spark, Rows.Where(col("v") >= 20.0), WriteMode.MergeOnRead)
    assert(s2.rowCount == 1L)
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(1L))
    // and a second identical positional delete matches nothing: no commit
    val before = t.snapshots.size
    t.delete(spark, Rows.Where(col("v") >= 20.0), WriteMode.MergeOnRead)
    assert(t.snapshots.size == before)
  }

  test("deletePositions under a conflicting rival rewrite re-probes, never skips rows") {
    val t = freshTable()
    t.overwrite((1L to 20L).toDF("id"))
    t.append((21L to 40L).toDF("id"))
    // a rival COMPACTION lands in the probe→swap window: every probed
    // dir is rewritten, so the probed positions denote dead files. The
    // delete must re-probe against the compacted layout — scoping the
    // stale file down instead would silently skip every matching row.
    val snap = ConflictInjection.withInjectedConflicts(t, conflicts = 1)(t.compact(spark)) {
      t.delete(spark, Rows.Where(col("id") % 4 === 0L), WriteMode.MergeOnRead)
    }
    assert(snap.operation == "delete")
    assert(t.read(spark).count() == 30L, "all 10 matching rows must still erase")
    assert(t.read(spark).filter(col("id") % 4 === 0L).count() == 0L)
  }

  test("time travel to the pre-delete snapshot shows the erased rows") {
    val t = freshTable()
    t.overwrite((1L to 20L).toDF("id"))
    val preId = t.currentSnapshot.get.id
    t.delete(spark, Rows.Where(col("id") <= 10L), WriteMode.MergeOnRead)
    assert(t.read(spark).count() == 10L)
    assert(t.readSnapshot(spark, preId).count() == 20L)
  }

  test("rewrite_position_deletes consolidates trickle delete files; data untouched") {
    val wh = Files.createTempDirectory("graft_pd_cons").toString
    val t = SnapshotTable(wh, "ns", "cons")
    t.overwrite((1L to 30L).toDF("id"))
    // three trickle commits → three positional delete files
    t.delete(spark, Rows.Where(col("id") === 1L), WriteMode.MergeOnRead)
    t.delete(spark, Rows.Where(col("id") === 2L), WriteMode.MergeOnRead)
    t.update(spark, Rows.Where(col("id") === 3L), Map("id" -> lit(300L)), WriteMode.MergeOnRead)
    assert(t.currentSnapshot.get.deletes.count(_.positional) == 3)
    val dataDirs = t.currentSnapshot.get.dataDirs
    val preConsolidation = t.currentSnapshot.get.id
    val expected = t.read(spark).select("id").as[Long].collect().sorted.toSeq
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val out = spark.sql("CALL graft.system.rewrite_position_deletes('ns.cons')")
      .as[(Long, Int)].head()
    assert(out._2 == 1, "three positional files must fold into one")
    val snap = t.currentSnapshot.get
    assert(snap.operation == "replace" && snap.dataDirs == dataDirs,
      "consolidation is layout-only: no data dir changes")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == expected,
      "reads must be identical before and after consolidation")
    // logical content identical → the changelog emits nothing for it
    assert(t.readChangelog(spark, preConsolidation, snap.id).count() == 0L)
    // idempotent: one file left → no-op, no new commit
    assert(t.consolidatePositionalDeletes(spark).id == snap.id)
  }

  test("compaction bakes positional deletes in and drops the delete file") {
    val t = freshTable()
    t.overwrite((1L to 30L).toDF("id"))
    t.append((31L to 60L).toDF("id"))
    t.delete(spark, Rows.Where(col("id") % 3 === 0L), WriteMode.MergeOnRead)
    assert(t.currentSnapshot.get.deletes.exists(_.positional))
    val compacted = t.compact(spark)
    assert(compacted.deletes.isEmpty, "compaction must pay the merge-on-read debt")
    assert(t.read(spark).count() == 40L)
    assert(t.read(spark).filter(col("id") % 3 === 0L).count() == 0L)
  }

  test("reads of dirs without a positional delete in scope plan no row-id metadata") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id"))
    t.delete(spark, Rows.Where(col("id") === 1L), WriteMode.MergeOnRead)
    t.append((11L to 20L).toDF("id"))
    val plan = t.read(spark).queryExecution.optimizedPlan.toString
    // exactly one scan branch (the scoped dir) carries the row identity
    assert(plan.contains(SnapshotTable.RowIdFileCol))
    val metaRefs = plan.sliding(SnapshotTable.RowIdPosCol.length)
      .count(_ == SnapshotTable.RowIdPosCol)
    assert(t.read(spark).count() == 19L)
    assert(metaRefs > 0)
  }

  test("changelog over positional commits: erased versions delete, new rows insert") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    val s0 = t.currentSnapshot.get.id
    t.delete(spark, Rows.Where(col("id") === 2L), WriteMode.MergeOnRead)
    t.update(spark, Rows.Where(col("id") === 3L), Map("v" -> lit(33.0)), WriteMode.MergeOnRead)
    val cl = t.readChangelog(spark, s0, t.currentSnapshot.get.id)
      .select("id", "v", "_change_type")
      .as[(Long, Double, String)].collect().sortBy(r => (r._1, r._3))
    assert(cl.toSeq == Seq(
      (2L, 2.0, "delete"),          // positional delete: the erased row itself
      (3L, 3.0, "delete"),          // MOR update: old version deletes...
      (3L, 33.0, "insert")),        // ...new version inserts — Iceberg's CDC shape
      s"changelog rows: ${cl.toSeq}")
  }

  test("MOR update keeps the table's partition layout on the appended dir") {
    val t = freshTable()
    t.overwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "p", "v"),
      partitionCols = Seq("p"))
    val snap = t.update(spark, Rows.Where(col("id") === 1L), Map("v" -> lit(10.0)), WriteMode.MergeOnRead)
    val newDir = snap.dataDirs.last
    assert(new java.io.File(newDir).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("p=")),
      "the appended updated-rows dir must keep the p= hive layout")
    assert(t.read(spark).filter(col("p") === "a" && col("v") === 10.0).count() == 1L)
    assert(t.read(spark).count() == 3L)
  }

  test("rewriteDeletes pays down positional files too, scoped dirs only") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id"))
    t.delete(spark, Rows.Where(col("id") % 2 === 0L), WriteMode.MergeOnRead)
    t.append((11L to 20L).toDF("id")) // out of the delete's scope
    val dirC = t.currentSnapshot.get.dataDirs.last
    val snap = t.rewriteDeletes(spark)
    assert(snap.deletes.isEmpty, "the positional debt must be paid")
    assert(snap.dataDirs.contains(dirC), "out-of-scope dir must carry forward")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      ((1L to 10L).filter(_ % 2 == 1) ++ (11L to 20L)).sorted)
  }

  test("the probe pushes the predicate into the parquet scan (scale path)") {
    val t = freshTable()
    t.overwrite((1L to 1000L).toDF("id").withColumn("v", col("id").cast("double")))
    // the probe plan a deletePositions(cond) would run: pruned columns
    // + pushed filters must reach the scan even with _metadata selected
    val probeShape = t.read(spark) // logical view; row-id variant shares the scan path
    val plan = probeShape.filter(col("v") > 990.0).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && !plan.contains("PushedFilters: []"),
      s"the positional probe must push its predicate down:\n$plan")
  }

  test("the $position_deletes metadata table serves the active (file, pos) pairs") {
    val wh = Files.createTempDirectory("graft_pd_posmeta").toString
    val t = SnapshotTable(wh, "ns", "pmeta")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    assert(spark.sql("SELECT * FROM graft.ns.pmeta.position_deletes").count() == 0L)
    t.delete(spark, Rows.Where(col("v") >= 2.0), WriteMode.MergeOnRead)
    val pairs = spark.sql(
      "SELECT file_path, pos, delete_file FROM graft.ns.pmeta.position_deletes")
      .as[(String, Long, String)].collect()
    assert(pairs.length == 2)
    assert(pairs.forall(_._3.contains("snap-posdel-")))
    assert(pairs.forall(p => p._1.nonEmpty && p._2 >= 0L))
  }

  test("a delete file of the old (file, pos, dir) shape masks, lists and consolidates") {
    val wh = Files.createTempDirectory("graft_pd_old").toString
    val t = SnapshotTable(wh, "ns", "old3")
    t.overwrite((1L to 30L).toDF("id"))
    val dataDir = t.currentSnapshot.get.dataDirs.head
    t.delete(spark, Rows.Where(col("id") <= 2L), WriteMode.MergeOnRead)
    val del = t.currentSnapshot.get.deletes.find(_.positional).get
    assert(spark.read.parquet(del.dir).columns.toSeq ==
      Seq(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol))
    // the same pairs in the shape earlier writers gave a positional
    // delete file: a third column naming each pair's data dir
    val pairs = spark.read.schema(SnapshotTable.PositionalDeleteSchema).parquet(del.dir)
      .as[(String, Long)].collect().toSeq
    pairs.map { case (f, pos) => (f, pos, dataDir) }
      .toDF(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol, "__graft_pd_dir")
      .write.mode("overwrite").parquet(del.dir)
    assert(spark.read.parquet(del.dir).columns.length == 3)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == (3L to 30L))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    def listed = spark.sql("SELECT file_path, pos FROM graft.ns.old3.position_deletes")
      .as[(String, Long)].collect().toSeq
    assert(listed.sorted == pairs.sorted)
    // a new two-column file beside it; consolidation folds both into one
    t.delete(spark, Rows.Where(col("id") === 3L), WriteMode.MergeOnRead)
    val snap = t.consolidatePositionalDeletes(spark)
    assert(snap.operation == "replace" && snap.deletes.count(_.positional) == 1)
    assert(spark.read.parquet(snap.deletes.head.dir).columns.length == 2)
    assert(listed.size == 3)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == (4L to 30L))
  }

  test("the $deletes metadata table lists active delete files by kind") {
    val wh = Files.createTempDirectory("graft_pd_meta").toString
    val t = SnapshotTable(wh, "ns", "mdel")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    assert(spark.sql("SELECT * FROM graft.ns.mdel.deletes").count() == 0L)
    t.deleteWhere(Seq(1L).toDF("id"), Seq("id"))
    t.delete(spark, Rows.Where(col("v") > 2.5), WriteMode.MergeOnRead)
    val rows = spark.sql(
      "SELECT kind, key_columns, applies_dir_count FROM graft.ns.mdel.deletes")
      .as[(String, Seq[String], Int)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("equality", "positional"))
    assert(rows.head._2 == Seq("id"))
    assert(rows.forall(_._3 == 1))
    // compaction pays the debt: the listing empties
    t.compact(spark)
    assert(spark.sql("SELECT * FROM graft.ns.mdel.deletes").count() == 0L)
  }

  test("a positional delete scopes to the dirs holding matched files only") {
    val t = freshTable()
    t.overwrite((1L to 50L).toDF("id"))
    t.append((51L to 100L).toDF("id"))
    val dirs = t.currentSnapshot.get.dataDirs
    // matches rows of the SECOND dir only
    val snap = t.delete(spark, Rows.Where(col("id") > 90L), WriteMode.MergeOnRead)
    val del = snap.deletes.find(_.positional).get
    assert(del.applies == Seq(dirs.last),
      s"scope must be the hit dir only, got ${del.applies}")
    // the untouched dir keeps the zero-metadata-cost read path
    val plan = t.read(spark).queryExecution.optimizedPlan.toString
    assert(plan.contains(SnapshotTable.RowIdFileCol))
    assert(t.read(spark).count() == 90L)
  }

  test("merge into an empty (truncated) table inserts instead of crashing") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1.0)).toDF("id", "v"))
    t.overwrite(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      t.read(spark).schema)): Unit // empty table, dataDirs = Nil
    assert(t.currentSnapshot.get.dataDirs.isEmpty)
    val snap = t.merge(Seq((5L, 50.0)).toDF("id", "v"), Seq("id" -> "id"),
      matched = Seq(Merge.WhenMatched(Merge.UpdateAll)),
      notMatched = Seq(Merge.WhenNotMatched(Merge.InsertAll)), mode = WriteMode.MergeOnRead)
    assert(snap.operation == "merge")
    assert(t.read(spark).as[(Long, Double)].collect().toSeq == Seq((5L, 50.0)),
      "the CDC bootstrap into an empty table must insert")
  }

  test("subquery-shaped UPDATE honors write.update.mode, not write.merge.mode") {
    val wh = Files.createTempDirectory("graft_pd_mode").toString
    val t = SnapshotTable(wh, "ns", "modet")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq(1L).toDF("k").createOrReplaceTempView("pd_mode_keys")
    val origDirs = t.currentSnapshot.get.dataDirs
    spark.sql("""UPDATE graft.ns.modet SET v = v + 10
                |WHERE id IN (SELECT k FROM pd_mode_keys)""".stripMargin)
    val snap = t.currentSnapshot.get
    assert(origDirs.forall(snap.dataDirs.contains) && snap.deletes.exists(_.positional),
      "an IN-shaped UPDATE must follow the UPDATE verb's merge-on-read mode")
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 11.0), (2L, 2.0)))
  }

  test("non-parquet tables reject positional deletes with the remediation") {
    val wh = Files.createTempDirectory("graft_pd_fmt").toString
    val t = SnapshotTable(wh, "ns", "ptf")
    t.overwrite((1L to 5L).toDF("id"), format = "orc")
    val e = intercept[IllegalArgumentException](
      t.delete(spark, Rows.Where(col("id") === 1L), WriteMode.MergeOnRead))
    assert(e.getMessage.contains("parquet"))
    assert(e.getMessage.contains("CopyOnWrite"))
  }

  test("updatePositions: one atomic commit = positional delete + updated-rows append") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit(1.0)))
    val origDirs = t.currentSnapshot.get.dataDirs
    val snapsBefore = t.snapshots.size
    val snap = t.update(spark, Rows.Where(col("id") <= 10L), Map("v" -> (col("v") + 100.0)), WriteMode.MergeOnRead)
    assert(snap.operation == "update")
    assert(t.snapshots.size == snapsBefore + 1, "delete + append must be ONE commit")
    assert(origDirs.forall(snap.dataDirs.contains), "original dirs carried, not rewritten")
    assert(snap.dataDirs.size == origDirs.size + 1, "updated rows land in one new dir")
    assert(snap.rowCount == 100L, "an update moves no row count")
    val del = snap.deletes.find(_.positional).get
    assert(del.applies.toSet == origDirs.toSet,
      "the riding delete scopes to pre-commit dirs only — re-inserted rows survive")
    val out = t.read(spark)
    assert(out.count() == 100L)
    assert(out.filter(col("v") === 101.0).count() == 10L)
    assert(out.filter(col("v") === 1.0).count() == 90L)
    // a second update can hit the first update's re-inserted rows
    t.update(spark, Rows.Where(col("v") === 101.0), Map("v" -> lit(7.0)), WriteMode.MergeOnRead)
    assert(t.read(spark).filter(col("v") === 7.0).count() == 10L)
    assert(t.read(spark).count() == 100L)
  }

  test("updatePositions matching nothing commits nothing; time travel shows old values") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    val before = t.snapshots.size
    t.update(spark, Rows.Where(col("id") > 99L), Map("v" -> lit(0.0)), WriteMode.MergeOnRead)
    assert(t.snapshots.size == before)
    val preId = t.currentSnapshot.get.id
    t.update(spark, Rows.Where(col("id") === 1L), Map("v" -> lit(9.0)), WriteMode.MergeOnRead)
    assert(t.readSnapshot(spark, preId).filter(col("id") === 1L)
      .select("v").as[Double].head() == 1.0)
    assert(t.read(spark).filter(col("id") === 1L).select("v").as[Double].head() == 9.0)
  }

  test("SQL UPDATE routes by write.update.mode: merge-on-read appends, never rewrites") {
    val wh = Files.createTempDirectory("graft_pd_usql").toString
    val t = SnapshotTable(wh, "ns", "usql")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"))
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val origDirs = t.currentSnapshot.get.dataDirs
    spark.sql("UPDATE graft.ns.usql SET v = v * 2 WHERE id >= 2")
    val snap = t.currentSnapshot.get
    assert(snap.operation == "update" && origDirs.forall(snap.dataDirs.contains) &&
      snap.deletes.exists(_.positional),
      "merge-on-read mode must append + position-delete, not rewrite")
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)))
  }

  test("mergeClausesMor: upsert touches only matched rows, one atomic commit") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit(1.0)))
    val origDirs = t.currentSnapshot.get.dataDirs
    val snapsBefore = t.snapshots.size
    val src = Seq((50L, 5.0), (60L, 6.0), (200L, 2.0)).toDF("id", "nv")
    val snap = t.merge(src, Seq("id" -> "id"),
      matched = Seq(Merge.WhenMatched(Merge.Update(Map("v" -> col("nv"))))),
      notMatched = Seq(Merge.WhenNotMatched(
        Merge.Insert(Map("id" -> col("id"), "v" -> col("nv"))))), mode = WriteMode.MergeOnRead)
    assert(snap.operation == "merge")
    assert(t.snapshots.size == snapsBefore + 1, "delete + append must be ONE commit")
    assert(origDirs.forall(snap.dataDirs.contains), "touched files never rewrite")
    assert(snap.rowCount == 101L, "100 - 2 touched + 2 rewritten + 1 insert")
    val out = t.read(spark)
    assert(out.count() == 101L)
    assert(out.filter(col("id") === 50L).select("v").as[Double].head() == 5.0)
    assert(out.filter(col("id") === 200L).select("v").as[Double].head() == 2.0)
    assert(out.filter(col("v") === 1.0).count() == 98L)
    assert(snap.deletes.count(_.positional) == 1)
  }

  test("mergeClausesMor: delete clause, conditional chains and BY SOURCE arm") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10.0), (2L, -5.0), (3L, 30.0), (4L, 40.0)).toDF("id", "v"))
    val src = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "nv")
    // matched: negative balances retire, others restate; absent rows flag
    t.merge(src, Seq("id" -> "id"),
      matched = Seq(
        Merge.WhenMatched(Merge.Delete, Some(Merge.t("v") < 0)),
        Merge.WhenMatched(Merge.Update(Map("v" -> col("nv"))))),
      notMatched = Nil,
      notMatchedBySource = Seq(
        Merge.WhenNotMatchedBySource(Merge.Update(Map("v" -> (Merge.t("v") + 0.5))))), mode = WriteMode.MergeOnRead)
    val out = t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 100.0), (3L, 30.5), (4L, 40.5)),
      s"delete id=2 (negative), update id=1 from source, flag absent 3 and 4: $out")
    assert(t.currentSnapshot.get.rowCount == 3L)
  }

  test("mergeClausesMor enforces the SQL cardinality rule") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1.0)).toDF("id", "v"))
    val dup = Seq((1L, 2.0), (1L, 3.0)).toDF("id", "nv")
    val e = intercept[IllegalArgumentException](
      t.merge(dup, Seq("id" -> "id"),
        matched = Seq(Merge.WhenMatched(Merge.Update(Map("v" -> col("nv"))))),
        notMatched = Nil, mode = WriteMode.MergeOnRead))
    assert(e.getMessage.contains("cardinality"))
  }

  test("SQL MERGE routes by write.merge.mode: merge-on-read never rewrites") {
    val wh = Files.createTempDirectory("graft_pd_msql").toString
    val t = SnapshotTable(wh, "ns", "msql")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((2L, 99.0), (3L, 30.0)).toDF("id", "v").createOrReplaceTempView("pd_merge_src")
    val origDirs = t.currentSnapshot.get.dataDirs
    spark.sql("""MERGE INTO graft.ns.msql t USING pd_merge_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val snap = t.currentSnapshot.get
    assert(snap.operation == "merge" && origDirs.forall(snap.dataDirs.contains) &&
      snap.deletes.exists(_.positional),
      "merge-on-read MERGE must append + position-delete, not rewrite")
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("SQL DELETE routes by write.delete.mode: merge-on-read picks positions") {
    val wh = Files.createTempDirectory("graft_pd_sql").toString
    val t = SnapshotTable(wh, "ns", "psql")
    t.overwrite(Seq((1L, 100.0), (2L, 260.0), (3L, 300.0)).toDF("id", "v"))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val dirsBefore = t.currentSnapshot.get.dataDirs
    spark.sql("DELETE FROM graft.ns.psql WHERE v * 2 > 500")
    val snap = t.currentSnapshot.get
    assert(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
      snap.deletes.exists(_.positional),
      "merge-on-read mode must write a positional delete, not rewrite")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(1L))
    // flip to copy-on-write (the default): same statement shape rewrites
    // — and the rewrite BAKES the prior positional delete in, descoping
    // it, so no positional entry (old or new) remains
    val posDirs = snap.deletes.filter(_.positional).map(_.dir).toSet
    t.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    spark.sql("DELETE FROM graft.ns.psql WHERE v * 2 > 150")
    val snap2 = t.currentSnapshot.get
    assert(snap2.operation == "delete" &&
      snap2.deletes.filter(_.positional).forall(d => posDirs.contains(d.dir)),
      "copy-on-write mode must not add a positional delete file")
    assert(t.read(spark).count() == 0L)
  }
}
