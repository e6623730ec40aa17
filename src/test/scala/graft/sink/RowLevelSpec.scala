package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level UPDATE / MERGE (dir-granular copy-on-write): affected-dir
  * detection, carry-forward of untouched dirs, interplay with masks /
  * equality deletes, merge action shapes, and the SQL cardinality rule.
  */
class RowLevelSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_rl").toString, "ns", "t")

  test("updateWhere rewrites only the dirs holding matching rows") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit("a")))
    t.append((101L to 200L).toDF("id").withColumn("v", lit("a")))
    val untouched = t.currentSnapshot.get.dataDirs.last
    val snap = t.update(spark, Rows.Where(col("id") <= 50L), Map("v" -> lit("b")))
    assert(snap.operation == "update")
    assert(snap.dataDirs.contains(untouched)) // second dir carried forward
    assert(!snap.dataDirs.contains(t.snapshots.head.dataDirs.head))
    assert(snap.rowCount == 200L)
    val out = t.read(spark)
    assert(out.filter(col("v") === "b").count() == 50L)
    assert(out.filter(col("v") === "a").count() == 150L)
  }

  test("updateWhere matching nothing commits nothing") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id").withColumn("v", lit(1)))
    val before = t.currentSnapshot.get.id
    val snap = t.update(spark, Rows.Where(col("id") > 999L), Map("v" -> lit(2)))
    assert(snap.id == before)
    assert(t.snapshots.size == 1)
  }

  test("updateWhere casts assignments to the column type and can self-reference") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    t.update(spark, Rows.Where(col("id") === 2L), Map("v" -> (col("v") + 5)))
    assert(t.read(spark).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 25L)))
    // unknown column rejected
    val e = intercept[IllegalArgumentException](
      t.update(spark, Rows.Where(lit(true)), Map("nope" -> lit(1))))
    assert(e.getMessage.contains("unknown column"))
  }

  test("updateWhere bakes equality deletes of rewritten dirs into the data") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit("x")))
    t.deleteWhere(Seq(7L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deletes.nonEmpty)
    t.update(spark, Rows.Where(col("id") <= 100L), Map("v" -> lit("y")))
    val snap = t.currentSnapshot.get
    // the rewritten dir replaced the delete's entire scope -> delete gone
    assert(snap.deletes.isEmpty)
    assert(t.read(spark).count() == 99L)
    assert(t.read(spark).filter(col("id") === 7L).count() == 0L)
    assert(snap.rowCount == 99L)
  }

  test("mergeInto upserts: matched update + unmatched insert") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal"))
    val src = Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "name", "bal")
    val snap = t.mergeInto(src, Seq("id" -> "id"), Merge.UpdateAll, Merge.InsertAll)
    assert(snap.operation == "merge")
    assert(snap.rowCount == 3L)
    assert(t.read(spark).orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0)))
  }

  test("mergeInto with explicit sets referencing both sides") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"))
    val src = Seq((2L, 5.0)).toDF("id", "delta")
    t.mergeInto(src, Seq("id" -> "id"),
      Merge.Update(Map("bal" -> (Merge.t("bal") + Merge.s("delta")))),
      Merge.Ignore)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 25.0)))
  }

  test("mergeInto delete action removes matched rows; count restated") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id"))
    val snap = t.mergeInto(Seq(3L, 4L).toDF("id"), Seq("id" -> "id"),
      Merge.Delete, Merge.Ignore)
    assert(snap.rowCount == 8L)
    assert(t.read(spark).as[Long].collect().sorted.toSeq ==
      (1L to 10L).filterNot(Set(3L, 4L)))
  }

  test("mergeInto insert-only (KeepMatched) rewrites no dir") {
    val t = freshTable()
    t.overwrite((1L to 5L).toDF("id"))
    val dirsBefore = t.currentSnapshot.get.dataDirs
    val snap = t.mergeInto(Seq(3L, 99L).toDF("id"), Seq("id" -> "id"),
      Merge.KeepMatched, Merge.InsertAll)
    assert(dirsBefore.forall(snap.dataDirs.contains)) // nothing rewritten
    assert(snap.rowCount == 6L)
    assert(t.read(spark).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 99L))
  }

  test("mergeInto rejects duplicate source keys (SQL cardinality rule)") {
    val t = freshTable()
    t.overwrite(Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException](
      t.mergeInto(Seq(1L, 1L).toDF("id"), Seq("id" -> "id"),
        Merge.Delete, Merge.Ignore))
    assert(e.getMessage.contains("cardinality"))
  }

  test("duplicate source keys among NOT-matched rows are legal: they all insert") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    // key 9 is duplicated but matches no target row — SQL says both
    // rows insert; only a duplicate that MATCHES violates cardinality
    val src = Seq((1L, "a2"), (9L, "x"), (9L, "y")).toDF("id", "v")
    val snap = t.mergeInto(src, Seq("id" -> "id"), Merge.UpdateAll, Merge.InsertAll)
    assert(snap.rowCount == 3L)
    assert(t.read(spark).orderBy("id", "v").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a2"), (9L, "x"), (9L, "y")))
  }

  test("no-op merge (nothing matched to rewrite, nothing to insert) commits nothing") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val before = t.currentSnapshot.get
    val snapsBefore = t.snapshots.size
    // KeepMatched + InsertAll where every source row matches: no dir to
    // rewrite, zero inserts — must NOT write an empty dir + snapshot
    val snap = t.mergeInto(Seq((1L, "a9")).toDF("id", "v"),
      Seq("id" -> "id"), Merge.KeepMatched, Merge.InsertAll)
    assert(snap.id == before.id)
    assert(t.snapshots.size == snapsBefore)
    assert(t.currentSnapshot.get.dataDirs == before.dataDirs)
  }

  test("conditional clauses apply first-true-wins (delete, then update fallback)") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10.0), (2L, -5.0), (3L, 30.0), (4L, 40.0)).toDF("id", "bal"))
    val src = Seq((1L, 100.0), (2L, 200.0), (3L, -1.0)).toDF("id", "newBal")
    val snap = t.merge(src, Seq("id" -> "id"),
      Seq(
        // clause 1: delete matched rows whose SOURCE value is negative
        Merge.WhenMatched(Merge.Delete, Some(Merge.s("newBal") < 0)),
        // clause 2 (fallback): adopt the source value
        Merge.WhenMatched(Merge.Update(Map("bal" -> Merge.s("newBal"))))),
      Nil)
    assert(snap.operation == "merge")
    // id=3 deleted (clause 1), ids 1,2 updated (clause 2), id=4 untouched
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 100.0), (2L, 200.0), (4L, 40.0)))
    assert(snap.rowCount == 3L)
  }

  test("conditional NOT MATCHED inserts: first-true-wins across insert clauses") {
    val t = freshTable()
    t.overwrite(Seq((1L, "old", 0.0)).toDF("id", "tag", "bal"))
    val src = Seq((2L, 1500.0), (3L, 10.0), (4L, 2000.0)).toDF("id", "amount")
    t.merge(src, Seq("id" -> "id"),
      Nil,
      Seq(
        Merge.WhenNotMatched(
          Merge.Insert(Map("id" -> Merge.s("id"), "tag" -> lit("vip"),
            "bal" -> Merge.s("amount"))),
          Some(Merge.s("amount") >= 1000.0)),
        Merge.WhenNotMatched(
          Merge.Insert(Map("id" -> Merge.s("id"), "tag" -> lit("std"),
            "bal" -> Merge.s("amount"))))))
    assert(t.read(spark).orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "old", 0.0), (2L, "vip", 1500.0), (3L, "std", 10.0), (4L, "vip", 2000.0)))
  }

  test("NOT MATCHED BY SOURCE clauses act on unmatched target rows, ordered") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", -5.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "name", "bal"))
    // delivery covers ids 1 and 5 only; absent rows (2,3,4): negative
    // balances retire, the rest are flagged stale — while the delivered
    // rows upsert in the same statement
    val src = Seq((1L, 100.0), (5L, 50.0)).toDF("id", "amount")
    val snap = t.merge(src, Seq("id" -> "id"),
      Seq(Merge.WhenMatched(Merge.Update(Map("bal" -> Merge.s("amount"))))),
      Seq(Merge.WhenNotMatched(Merge.Insert(Map(
        "id" -> Merge.s("id"), "name" -> lit("new"), "bal" -> Merge.s("amount"))))),
      Seq(
        Merge.WhenNotMatchedBySource(Merge.Delete, Some(Merge.t("bal") < 0)),
        Merge.WhenNotMatchedBySource(Merge.Update(Map(
          "name" -> concat(lit("stale_"), Merge.t("name")))))))
    assert(snap.operation == "merge")
    assert(t.read(spark).orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 100.0), (3L, "stale_c", 30.0), (4L, "stale_d", 40.0),
        (5L, "new", 50.0)))
    assert(snap.rowCount == 4L)
  }

  test("BY SOURCE detection is condition-restricted: untouched dirs carry forward") {
    val t = freshTable()
    // dir 1: ids 1-100 (all matched by the delivery); dir 2: ids 101-200
    // (absent, but every row fails the BY SOURCE condition)
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit("a")))
    t.append((101L to 200L).toDF("id").withColumn("v", lit("a")))
    val dirs = t.currentSnapshot.get.dataDirs
    val src = (1L to 100L).toDF("id")
    val snap = t.merge(src, Seq("id" -> "id"),
      Nil, Nil,
      Seq(Merge.WhenNotMatchedBySource(Merge.Delete, Some(Merge.t("id") > 500L))))
    // nothing matched the condition: both dirs survive byte-identical
    // (no matched clause -> dir 1 not even a rewrite candidate; dir 2's
    // unmatched rows all fail the condition -> anti-join detection
    // filtered it out)
    assert(snap.id == t.snapshots.map(_.id).max)
    assert(snap.dataDirs == dirs, "both dirs must carry forward untouched")
    assert(t.read(spark).count() == 200L)
  }

  test("SQL MERGE WHEN NOT MATCHED BY SOURCE lowers through the catalog") {
    val wh = Files.createTempDirectory("graft_rl_nbs").toString
    val t = SnapshotTable(wh, "ns", "nbs")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((1L, 11.0)).toDF("id", "bal").createOrReplaceTempView("nbs_src")
    spark.sql("""MERGE INTO graft.ns.nbs t USING nbs_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET bal = s.bal
                |WHEN NOT MATCHED BY SOURCE AND t.bal >= 30.0 THEN DELETE
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = t.bal * -1.0""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 11.0), (2L, -20.0)))
  }

  test("mergeInto key columns can differ in name between sides") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val src = Seq((2L, "B")).toDF("key", "v")
    t.mergeInto(src, Seq("id" -> "key"), Merge.UpdateAll, Merge.Ignore)
    assert(t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
  }

  test("SQL UPDATE and MERGE lower through the catalog onto the same path") {
    val wh = Files.createTempDirectory("graft_rl_sql").toString
    val t = SnapshotTable(wh, "ns", "sqlt")
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("UPDATE graft.ns.sqlt SET bal = bal * 10 WHERE id >= 2")
    assert(spark.sql("SELECT bal FROM graft.ns.sqlt WHERE id = 2").as[Double].head() == 20.0)
    assert(t.currentSnapshot.get.operation == "update")

    Seq((3L, "c9", 999.0), (4L, "d", 4.0)).toDF("id", "name", "bal")
      .createOrReplaceTempView("rl_src")
    spark.sql("""MERGE INTO graft.ns.sqlt t USING rl_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET bal = s.bal
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.currentSnapshot.get.operation == "merge")
    assert(spark.sql("SELECT id, name, bal FROM graft.ns.sqlt ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 20.0), (3L, "c", 999.0), (4L, "d", 4.0)))
    // matched UPDATE SET only touches the assigned column: name kept "c"
    assert(spark.sql("SELECT name FROM graft.ns.sqlt WHERE id = 3").as[String].head() == "c")

    // unsupported shapes fail loudly, not wrongly
    val e = intercept[Exception](spark.sql(
      """MERGE INTO graft.ns.sqlt t USING rl_src s ON t.id > s.id
        |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("equality conjunction"))
  }

  test("SQL MERGE with conditional + multiple clauses (first-true-wins)") {
    val wh = Files.createTempDirectory("graft_rl_csql").toString
    val t = SnapshotTable(wh, "ns", "csqlt")
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", -99.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((1L, "a2", -1.0), (2L, "b2", 5.0), (4L, "d", 2000.0), (5L, "e", 1.0))
      .toDF("id", "name", "bal").createOrReplaceTempView("rl_cond_src")
    spark.sql(
      """MERGE INTO graft.ns.csqlt t USING rl_cond_src s ON t.id = s.id
        |WHEN MATCHED AND s.bal < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = s.bal, name = s.name
        |WHEN NOT MATCHED AND s.bal >= 1000.0 THEN INSERT *""".stripMargin)
    // id=1 deleted (source bal<0); id=2 updated; id=3 untouched;
    // id=4 inserted (bal>=1000); id=5 dropped (insert cond false)
    assert(spark.sql("SELECT id, name, bal FROM graft.ns.csqlt ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "b2", 5.0), (3L, "c", 30.0), (4L, "d", 2000.0)))
    assert(t.currentSnapshot.get.rowCount == 3L)
  }

  test("file-granular COW: an update touching one file carries its siblings byte-identical") {
    import java.nio.file.{Files => NioFiles, Paths}
    val t = freshTable()
    // ONE dir, four range-partitioned files: ids 1-100 in contiguous runs
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit("a"))
      .repartitionByRange(4, col("id")))
    val origDir = t.currentSnapshot.get.dataDirs.head
    val origFiles = new java.io.File(origDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f).toMap
    assert(origFiles.size == 4, s"fixture needs 4 files, got ${origFiles.size}")
    val snap = t.update(spark, Rows.Where(col("id") <= 10L), Map("v" -> lit("b")))
    assert(snap.operation == "update" && snap.rowCount == 100L)
    // the untouched files carried into a -carry dir as hard links —
    // byte-identical, zero data I/O
    val carry = snap.dataDirs.filter(_.endsWith("-carry"))
    assert(carry.size == 1,
      s"expected one carry dir for the 3 untouched files, dirs: ${snap.dataDirs}")
    assert(!snap.dataDirs.contains(origDir), "the split dir itself must be dropped")
    val carried = new java.io.File(carry.head).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(carried.length == 3, s"3 of 4 files untouched, carried ${carried.length}")
    carried.foreach { c =>
      val orig = origFiles.getOrElse(c.getName,
        fail(s"carried file ${c.getName} has no original sibling"))
      assert(NioFiles.isSameFile(c.toPath, orig.toPath) ||
        java.util.Arrays.equals(NioFiles.readAllBytes(c.toPath), NioFiles.readAllBytes(orig.toPath)),
        s"carried file ${c.getName} must be byte-identical to the original")
    }
    // logical result exact
    val out = t.read(spark)
    assert(out.filter(col("v") === "b").count() == 10L)
    assert(out.filter(col("v") === "a").count() == 90L)
    assert(out.count() == 100L)
    // $partitions/$files stay exact: carried rows retain known counts
    assert(t.fileStats(spark).agg(org.apache.spark.sql.functions.sum("record_count"))
      .head.getLong(0) == 100L, "per-file sidecar rows must stay exact after a split")
    // expiry safety: hard links must survive deletion of the original dir
    t.expireSnapshots(Long.MaxValue, retainLast = 1)
    assert(!new java.io.File(origDir).exists, "old dir expired")
    assert(t.read(spark).count() == 100L,
      "carried files must survive the original dir's expiry (hard links, not symlinks)")
    assert(t.read(spark).filter(col("v") === "b").count() == 10L)
  }

  test("file-granular COW: merge delete splits files; delete-scoped dirs fall back whole") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", lit(1.0))
      .repartitionByRange(4, col("id")))
    // merge-delete three rows living in one file
    t.mergeInto(Seq(1L, 2L, 3L).toDF("id"), Seq("id" -> "id"),
      matched = Merge.Delete, notMatched = Merge.Ignore)
    val snap = t.currentSnapshot.get
    assert(snap.rowCount == 97L)
    assert(snap.dataDirs.exists(_.endsWith("-carry")),
      "a 3-row merge delete must not rewrite the other 3 files")
    assert(t.read(spark).count() == 97L)
    assert(t.read(spark).filter(col("id") <= 3L).count() == 0L)
    // a dir with an equality delete scoped to it is NOT file-split (the
    // delete scope would be dropped while its rows carry physically)
    val t2 = freshTable()
    t2.overwrite((1L to 100L).toDF("id").withColumn("v", lit("x"))
      .repartitionByRange(4, col("id")))
    t2.deleteWhere(Seq(50L).toDF("id"), Seq("id"))
    t2.update(spark, Rows.Where(col("id") === 1L), Map("v" -> lit("y")))
    val s2 = t2.currentSnapshot.get
    assert(!s2.dataDirs.exists(_.endsWith("-carry")),
      "delete-scoped dirs must take the whole-dir rewrite (file carry would resurrect)")
    assert(t2.read(spark).count() == 99L, "the equality delete must hold")
    assert(t2.read(spark).filter(col("v") === "y").count() == 1L)
  }

  // the probe finds each row's file through `_metadata.file_path`,
  // which every file format serves, not only parquet
  for (format <- Seq("orc", "avro"))
    test(s"file-granular COW on $format: update and delete split the touched dir by file") {
      def dataFiles(dir: String) =
        new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(s".$format")).toSeq
      val t = freshTable()
      t.overwrite((1L to 100L).toDF("id").withColumn("v", lit("a"))
        .repartitionByRange(4, col("id")), format = format)
      val origDir = t.currentSnapshot.get.dataDirs.head
      assert(dataFiles(origDir).size == 4, s"fixture needs 4 files, got ${dataFiles(origDir)}")
      val up = t.update(spark, Rows.Where(col("id") === 5L), Map("v" -> lit("b")))
      val carry = up.dataDirs.filter(_.endsWith("-carry"))
      assert(carry.size == 1 && !up.dataDirs.contains(origDir), s"dirs: ${up.dataDirs}")
      assert(dataFiles(carry.head).size == 3, "3 of 4 files untouched")
      assert(t.read(spark).filter(col("v") === "b").select("id").as[Long].collect().toSeq == Seq(5L))
      assert(t.read(spark).count() == 100L)
      val del = t.delete(spark, Rows.Where(col("id") === 60L))
      assert(del.rowCount == 99L)
      val carry2 = del.dataDirs.filter(d => d.endsWith("-carry") && !up.dataDirs.contains(d))
      assert(carry2.size == 1 && !del.dataDirs.contains(carry.head), s"dirs: ${del.dataDirs}")
      assert(dataFiles(carry2.head).size == 2, "2 of the carried 3 files untouched")
      assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == (1L to 100L).filterNot(_ == 60L))
      assert(t.read(spark).filter(col("v") === "b").count() == 1L)
    }

  test("UPDATE/DELETE WHERE k IN (SELECT ...) lower onto the engine paths") {
    val wh = Files.createTempDirectory("graft_rl_sub").toString
    val t = SnapshotTable(wh, "ns", "subt")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("id", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq(1L, 3L, 99L).toDF("id").createOrReplaceTempView("rl_sub_keys")
    // UPDATE + IN: lowered to the COW merge (semi-join on the subquery's
    // distinct keys); residual conjuncts ride as the clause condition
    spark.sql("""UPDATE graft.ns.subt SET bal = bal + 100
                |WHERE id IN (SELECT id FROM rl_sub_keys) AND bal > 2.0""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 103.0), (4L, 4.0)))
    assert(t.currentSnapshot.get.operation == "merge")
    // pure DELETE + IN: merge-on-read equality delete — no dir rewritten
    val dirsBefore = t.currentSnapshot.get.dataDirs
    spark.sql("DELETE FROM graft.ns.subt WHERE id IN (SELECT id FROM rl_sub_keys)")
    val delSnap = t.currentSnapshot.get
    assert(delSnap.operation == "delete" && delSnap.dataDirs == dirsBefore &&
      delSnap.deletes.nonEmpty,
      "an IN-subquery DELETE with no residual condition must stay merge-on-read")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // DELETE + IN + residual conjunct: copy-on-write merge delete
    Seq(2L, 4L).toDF("id").createOrReplaceTempView("rl_sub_keys2")
    spark.sql("""DELETE FROM graft.ns.subt
                |WHERE id IN (SELECT id FROM rl_sub_keys2) AND bal < 3.0""".stripMargin)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(4L))
    assert(t.currentSnapshot.get.operation == "merge")
  }

  test("DELETE with a non-pushable predicate routes to the COW delete") {
    val wh = Files.createTempDirectory("graft_rl_pred").toString
    val t = SnapshotTable(wh, "ns", "predt")
    t.overwrite(Seq((1L, 10.0), (2L, 260.0), (3L, 300.0), (4L, Double.NaN))
      .toDF("id", "v")): Unit
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    // arithmetic cannot cross the DSv2 filter API; the rule must route
    // to the row-level delete (SnapshotTable.delete) instead of an
    // AnalysisException at planning
    spark.sql("DELETE FROM graft.ns.predt WHERE v * 2 > 500")
    assert(t.currentSnapshot.get.operation == "delete")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(1L),
      "rows where the predicate is true delete (Spark orders NaN above " +
        "every number, so NaN*2>500 is TRUE and id=4 deletes — DuckDB agrees)")
    // plain equality keeps the merge-on-read push-down (no rewrite)
    val dirsBefore = t.currentSnapshot.get.dataDirs
    spark.sql("DELETE FROM graft.ns.predt WHERE id = 1")
    val s2 = t.currentSnapshot.get
    assert(s2.operation == "delete" && s2.dataDirs == dirsBefore && s2.deletes.nonEmpty,
      "translatable predicates must stay on the equality-delete push-down")
  }

  test("uncorrelated EXISTS in DML is a statement-level boolean; correlated rejected") {
    val wh = Files.createTempDirectory("graft_rl_ex").toString
    val t = SnapshotTable(wh, "ns", "ext")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq(7L).toDF("k").createOrReplaceTempView("rl_ex_keys")
    // EXISTS over a non-empty relation: condition holds, update applies
    spark.sql("""UPDATE graft.ns.ext SET bal = bal * 10
                |WHERE EXISTS (SELECT 1 FROM rl_ex_keys WHERE k > 5) AND id = 1""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 2.0)))
    // NOT EXISTS over an EMPTY subquery is TRUE (not unknown): applies
    spark.sql("""UPDATE graft.ns.ext SET bal = 0
                |WHERE NOT EXISTS (SELECT 1 FROM rl_ex_keys WHERE k > 99) AND id = 2""".stripMargin)
    assert(t.read(spark).filter(col("id") === 2L).as[(Long, Double)].head()._2 == 0.0)
    // DELETE with an EXISTS-gated predicate: the COW row-level delete
    spark.sql("""DELETE FROM graft.ns.ext
                |WHERE EXISTS (SELECT 1 FROM rl_ex_keys) AND bal = 0.0""".stripMargin)
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(1L))
    assert(t.currentSnapshot.get.operation == "delete")
    // NON-EQUALITY correlation stays rejected with the actionable message
    // (equality correlation decorrelates — covered by its own test)
    val e = intercept[Exception](spark.sql(
      """UPDATE graft.ns.ext SET bal = -1
        |WHERE EXISTS (SELECT 1 FROM rl_ex_keys WHERE k > id)""".stripMargin))
    assert(e.getMessage.contains("subquery") || e.getMessage.contains("correlated"),
      e.getMessage)
  }

  test("uncorrelated NOT IN in DML is null-aware: no-op / delete-all / anti-join") {
    val wh = Files.createTempDirectory("graft_rl_notin").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    def fresh(name: String): SnapshotTable = {
      val t = SnapshotTable(wh, "ns", name)
      t.overwrite(Seq[(java.lang.Long, Double)]((1L, 1.0), (2L, 2.0), (3L, 3.0), (null, 9.0))
        .toDF("id", "bal"))
      t
    }
    // 1. NULL in the subquery: `id <> NULL` is UNKNOWN, NOT IN is never
    //    TRUE — the statement is a complete no-op (no new snapshot)
    val t1 = fresh("nin1")
    Seq[java.lang.Long](1L, null).toDF("k").createOrReplaceTempView("rl_nin_null")
    val snapBefore = t1.currentSnapshot.get.id
    spark.sql("DELETE FROM graft.ns.nin1 WHERE id NOT IN (SELECT k FROM rl_nin_null)")
    assert(t1.currentSnapshot.get.id == snapBefore && t1.read(spark).count() == 4L,
      "a NULL subquery key makes NOT IN never TRUE: statement must no-op")
    // 2. EMPTY subquery: NOT IN is TRUE for EVERY row, NULL keys included
    val t2 = fresh("nin2")
    Seq.empty[Long].toDF("k").createOrReplaceTempView("rl_nin_empty")
    spark.sql("DELETE FROM graft.ns.nin2 WHERE id NOT IN (SELECT k FROM rl_nin_empty)")
    assert(t2.read(spark).count() == 0L,
      "an empty subquery makes NOT IN TRUE everywhere — all rows delete")
    // 3. non-empty NULL-free subquery: anti-join over NON-NULL target
    //    keys — the NULL-keyed row is UNKNOWN and must survive
    val t3 = fresh("nin3")
    Seq(1L, 3L).toDF("k").createOrReplaceTempView("rl_nin_keys")
    spark.sql("DELETE FROM graft.ns.nin3 WHERE id NOT IN (SELECT k FROM rl_nin_keys)")
    assert(t3.currentSnapshot.get.operation == "merge")
    assert(t3.read(spark).select("bal").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 3.0, 9.0),
      "id=2 deletes; ids 1,3 match; the NULL id is UNKNOWN and survives")
    // 4. UPDATE + NOT IN + residual conjunct
    val t4 = fresh("nin4")
    spark.sql("""UPDATE graft.ns.nin4 SET bal = -1
                |WHERE id NOT IN (SELECT k FROM rl_nin_keys) AND bal > 1.5""".stripMargin)
    assert(t4.read(spark).select("bal").as[Double].collect().sorted.toSeq ==
      Seq(-1.0, 1.0, 3.0, 9.0),
      "only id=2 is both NOT IN and bal>1.5; the NULL id stays untouched")
    // 5. empty subquery + UPDATE: TRUE everywhere (NULL key included)
    val t5 = fresh("nin5")
    spark.sql("""UPDATE graft.ns.nin5 SET bal = 0
                |WHERE id NOT IN (SELECT k FROM rl_nin_empty)""".stripMargin)
    assert(t5.read(spark).select("bal").as[Double].collect().toSeq.forall(_ == 0.0))
    // 6. multi-column NOT IN UPDATE: same null-mask machinery as the
    //    DELETE twin. (1,1.0) equals the source pair and stays; every
    //    other row — including (NULL,9.0), whose both-non-null column
    //    bal=9.0 definitely differs from b=1.0 — updates
    val t6 = fresh("nin6")
    Seq((1L, 1.0)).toDF("k", "b").createOrReplaceTempView("rl_nin_pair")
    spark.sql("""UPDATE graft.ns.nin6 SET bal = -1
                |WHERE (id, bal) NOT IN (SELECT k, b FROM rl_nin_pair)""".stripMargin)
    assert(t6.read(spark).select("bal").as[Double].collect().sorted.toSeq ==
      Seq(-1.0, -1.0, -1.0, 1.0),
      "exact rows definitely-absent from the pair list must update")
    assert(t6.currentSnapshot.get.operation == "update")
    // ... and merge-on-read: positional delete + append, no rewrite
    val t7 = fresh("nin7")
    t7.setProperties(Map("write.update.mode" -> "merge-on-read")): Unit
    val dirsBefore = t7.currentSnapshot.get.dataDirs
    spark.sql("""UPDATE graft.ns.nin7 SET bal = -1
                |WHERE (id, bal) NOT IN (SELECT k, b FROM rl_nin_pair)""".stripMargin)
    assert(t7.read(spark).select("bal").as[Double].collect().sorted.toSeq ==
      Seq(-1.0, -1.0, -1.0, 1.0))
    assert(dirsBefore.forall(t7.currentSnapshot.get.dataDirs.contains) &&
      t7.currentSnapshot.get.deletes.exists(_.positional),
      "MOR multi-column NOT IN UPDATE must not rewrite data files")
  }

  test("multi-column NOT IN DELETE: exact per-column null-aware semantics") {
    val wh = Files.createTempDirectory("graft_rl_ninm").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    def fresh(name: String, mor: Boolean = false): SnapshotTable = {
      val t = SnapshotTable(wh, "ns", name)
      t.overwrite(Seq[(java.lang.Long, String, Double)](
        (1L, "x", 1.0), (2L, null, 2.0), (null, "y", 3.0),
        (null, null, 4.0), (3L, "z", 5.0), (5L, "x", 6.0))
        .toDF("a", "b", "bal"))
      if (mor) t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      t
    }
    // source has a partial NULL in EACH column position: per-column
    // null-awareness, not the single-column all-or-nothing shortcut
    Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"), (3L, "q"))
      .toDF("k1", "k2").createOrReplaceTempView("rl_ninm_src")
    def del(name: String, extra: String = ""): Unit =
      spark.sql(s"""DELETE FROM graft.ns.$name
                   |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_ninm_src)$extra""".stripMargin)
    def bals(t: SnapshotTable): Seq[Double] =
      t.read(spark).select("bal").as[Double].collect().sorted.toSeq
    // ground truth (per-row): (1,x) equals a source row; (2,NULL) is
    // possibly-equal to (NULL,y) (both columns have a NULL side);
    // (NULL,y) matches (NULL,y); (NULL,NULL) is possibly-equal to
    // everything; (3,z) and (5,x) definitely differ from ALL source
    // rows on a both-non-null column → ONLY those two delete
    val t1 = fresh("ninm_cow")
    del("ninm_cow")
    assert(t1.currentSnapshot.get.operation == "delete")
    assert(bals(t1) == Seq(1.0, 2.0, 3.0, 4.0),
      "COW: exactly (3,z) and (5,x) satisfy the multi-column NOT IN")
    // merge-on-read: same rows via ONE positional delete file
    val t2 = fresh("ninm_mor", mor = true)
    del("ninm_mor")
    assert(bals(t2) == Seq(1.0, 2.0, 3.0, 4.0))
    assert(t2.currentSnapshot.get.deletes.exists(_.positional),
      "merge-on-read must land a positional delete, not a rewrite")
    // empty subquery: NOT IN is TRUE everywhere — ALL rows delete,
    // NULL-keyed ones included
    val t3 = fresh("ninm_empty")
    spark.sql("SELECT k1, k2 FROM rl_ninm_src WHERE k1 = -999")
      .createOrReplaceTempView("rl_ninm_none")
    spark.sql("""DELETE FROM graft.ns.ninm_empty
                |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_ninm_none)""".stripMargin)
    assert(t3.read(spark).count() == 0L)
    // an all-NULL source tuple is possibly-equal to every row: the
    // statement is a complete no-op (no new snapshot)
    val t4 = fresh("ninm_allnull")
    Seq[(java.lang.Long, String)]((null, null), (1L, "x"))
      .toDF("k1", "k2").createOrReplaceTempView("rl_ninm_allnull")
    val snapBefore = t4.currentSnapshot.get.id
    spark.sql("""DELETE FROM graft.ns.ninm_allnull
                |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_ninm_allnull)""".stripMargin)
    assert(t4.currentSnapshot.get.id == snapBefore && t4.read(spark).count() == 6L,
      "an all-NULL source tuple blocks every row — statement no-ops")
    // residual conjunct ANDed with the NOT IN
    val t5 = fresh("ninm_rest")
    del("ninm_rest", " AND bal > 5.5")
    assert(bals(t5) == Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "only (5,x,6.0) is both NOT IN and bal>5.5")
  }

  test("correlated [NOT] EXISTS and correlated IN decorrelate onto the join paths") {
    val wh = Files.createTempDirectory("graft_rl_corr").toString
    val t = SnapshotTable(wh, "ns", "corrt")
    t.overwrite(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0))
      .toDF("id", "grp", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((1L, "a", 10.0), (3L, "b", 30.0), (4L, "zzz", 40.0))
      .toDF("rid", "rgrp", "rv").createOrReplaceTempView("rl_corr_src")
    // correlated IN: the IN-match column AND the correlation equality
    // combine into one semi-join key set — (id, grp) must BOTH match
    spark.sql("""UPDATE graft.ns.corrt SET bal = bal + 100
                |WHERE id IN (SELECT rid FROM rl_corr_src WHERE rgrp = grp)""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 101.0), (2L, "a", 2.0), (3L, "b", 103.0), (4L, "b", 4.0)),
      "id=4 matches rid=4 but not rgrp — the correlation key must bind")
    assert(t.currentSnapshot.get.operation == "merge")
    // pure correlated EXISTS DELETE: merge-on-read equality delete
    val dirsBefore = t.currentSnapshot.get.dataDirs
    spark.sql("""DELETE FROM graft.ns.corrt t
                |WHERE EXISTS (SELECT 1 FROM rl_corr_src s
                |              WHERE s.rid = t.id AND s.rv > 20)""".stripMargin)
    val delSnap = t.currentSnapshot.get
    assert(delSnap.operation == "delete" && delSnap.dataDirs == dirsBefore &&
      delSnap.deletes.nonEmpty,
      "a pure correlated-EXISTS DELETE must stay merge-on-read")
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L), "rv>20 holds for rid 3 and 4")
    // correlated NOT EXISTS DELETE: the anti-join (MERGE's third arm)
    spark.sql("""DELETE FROM graft.ns.corrt t
                |WHERE NOT EXISTS (SELECT 1 FROM rl_corr_src s WHERE s.rid = t.id)""".stripMargin)
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(1L),
      "id=2 has no rl_corr_src row and must retire")
    assert(t.currentSnapshot.get.operation == "merge")
  }

  test("multi-column NOT IN differential: engine DELETE + UPDATE match Spark's native evaluation") {
    // seeded random tables with NULLs scattered across both columns and
    // both sides — the engine's null-mask runtime must agree ROW-FOR-ROW
    // with Spark's own null-aware evaluation of the same predicate on a
    // plain view (the differential oracle nobody hand-derived)
    val wh = Files.createTempDirectory("graft_rl_nind").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val rng = new scala.util.Random(20260816L)
    def cell(): java.lang.Long =
      if (rng.nextInt(4) == 0) null else java.lang.Long.valueOf(rng.nextInt(4).toLong)
    for (round <- 1 to 6) {
      val rows = Seq.tabulate(14)(i =>
        (i.toLong, cell(), cell()))
      val srcRows = Seq.fill(rng.nextInt(5))((cell(), cell()))
      val target = rows.toDF("rid", "a", "b")
      target.createOrReplaceTempView("rl_nind_t")
      srcRows.toDF("k1", "k2").createOrReplaceTempView("rl_nind_s")
      // Spark's native answer on plain views
      val expectDeleted = spark.sql(
        """SELECT rid FROM rl_nind_t
          |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_nind_s)""".stripMargin)
        .as[Long].collect().sorted.toSeq
      val t = SnapshotTable(wh, "ns", s"nind$round")
      t.overwrite(target): Unit
      spark.sql(s"""DELETE FROM graft.ns.nind$round
                   |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_nind_s)""".stripMargin)
      val survivors = t.read(spark).select("rid").as[Long].collect().sorted.toSeq
      assert(survivors == rows.map(_._1).filterNot(expectDeleted.contains),
        s"round $round: DELETE divergence (src=$srcRows)\n" +
          s"  expectDeleted=$expectDeleted survivors=$survivors")
      // UPDATE twin flags exactly the same row set
      val u = SnapshotTable(wh, "ns", s"nindu$round")
      u.overwrite(target.withColumn("flag", lit(0L))): Unit
      spark.sql(s"""UPDATE graft.ns.nindu$round SET flag = 1
                   |WHERE (a, b) NOT IN (SELECT k1, k2 FROM rl_nind_s)""".stripMargin)
      val flagged = u.read(spark).filter(col("flag") === 1L)
        .select("rid").as[Long].collect().sorted.toSeq
      assert(flagged == expectDeleted,
        s"round $round: UPDATE divergence (src=$srcRows) " +
          s"expect=$expectDeleted flagged=$flagged")
    }
    // THREE-column rounds exercise the wider static enumeration (k<=4,
    // 8 masks); FIVE-column rounds ride the DATA-DRIVEN target-mask
    // probe (k>=5) — masks derive from the live frame inside the
    // matcher closure — so both lowering paths carry differential
    // coverage against Spark's native evaluation
    for (round <- 1 to 4) {
      val rows = Seq.tabulate(14)(i => (i.toLong, cell(), cell(), cell()))
      val srcRows = Seq.fill(1 + rng.nextInt(5))((cell(), cell(), cell()))
      rows.toDF("rid", "a", "b", "c").createOrReplaceTempView("rl_nind3_t")
      srcRows.toDF("k1", "k2", "k3").createOrReplaceTempView("rl_nind3_s")
      val expectDeleted = spark.sql(
        """SELECT rid FROM rl_nind3_t
          |WHERE (a, b, c) NOT IN (SELECT k1, k2, k3 FROM rl_nind3_s)""".stripMargin)
        .as[Long].collect().sorted.toSeq
      val t = SnapshotTable(wh, "ns", s"nind3_$round")
      t.overwrite(rows.toDF("rid", "a", "b", "c")): Unit
      spark.sql(s"""DELETE FROM graft.ns.nind3_$round
                   |WHERE (a, b, c) NOT IN (SELECT k1, k2, k3 FROM rl_nind3_s)""".stripMargin)
      val survivors = t.read(spark).select("rid").as[Long].collect().sorted.toSeq
      assert(survivors == rows.map(_._1).filterNot(expectDeleted.contains),
        s"3-col round $round: DELETE divergence (src=$srcRows)\n" +
          s"  expectDeleted=$expectDeleted survivors=$survivors")
    }
    for (round <- 1 to 2) {
      val rows = Seq.tabulate(14)(i =>
        (i.toLong, cell(), cell(), cell(), cell(), cell()))
      val srcRows = Seq.fill(1 + rng.nextInt(5))(
        (cell(), cell(), cell(), cell(), cell()))
      rows.toDF("rid", "a", "b", "c", "d", "e").createOrReplaceTempView("rl_nind5_t")
      srcRows.toDF("k1", "k2", "k3", "k4", "k5").createOrReplaceTempView("rl_nind5_s")
      val expectDeleted = spark.sql(
        """SELECT rid FROM rl_nind5_t
          |WHERE (a, b, c, d, e) NOT IN (SELECT k1, k2, k3, k4, k5 FROM rl_nind5_s)""".stripMargin)
        .as[Long].collect().sorted.toSeq
      val t = SnapshotTable(wh, "ns", s"nind5_$round")
      t.overwrite(rows.toDF("rid", "a", "b", "c", "d", "e")): Unit
      spark.sql(s"""DELETE FROM graft.ns.nind5_$round
                   |WHERE (a, b, c, d, e) NOT IN (SELECT k1, k2, k3, k4, k5 FROM rl_nind5_s)""".stripMargin)
      val survivors = t.read(spark).select("rid").as[Long].collect().sorted.toSeq
      assert(survivors == rows.map(_._1).filterNot(expectDeleted.contains),
        s"5-col round $round: DELETE divergence (src=$srcRows)\n" +
          s"  expectDeleted=$expectDeleted survivors=$survivors")
    }
  }

  test("theta-EXISTS differential: engine DELETE matches Spark's native evaluation") {
    // seeded random targets/sources incl. NULLs in keys AND theta
    // operands: the decorrelated equi-join + theta condition must agree
    // row-for-row with Spark's own correlated-EXISTS evaluation
    val wh = Files.createTempDirectory("graft_rl_thd").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val rng = new scala.util.Random(815L)
    def num(): java.lang.Double =
      if (rng.nextInt(5) == 0) null else java.lang.Double.valueOf(rng.nextInt(6).toDouble)
    for ((neg, round) <- Seq(false, true, false, true).zipWithIndex) {
      val rows = Seq.tabulate(12)(i =>
        (i.toLong, (rng.nextInt(4)).toLong, num()))
      val srcRows = Seq.fill(6)((rng.nextInt(4).toLong, num()))
      rows.toDF("rid", "k", "bal").createOrReplaceTempView("rl_thd_t")
      srcRows.toDF("sk", "sv").createOrReplaceTempView("rl_thd_s")
      val word = if (neg) "NOT EXISTS" else "EXISTS"
      val expectDeleted = spark.sql(
        s"""SELECT rid FROM rl_thd_t t
           |WHERE $word (SELECT 1 FROM rl_thd_s s
           |             WHERE s.sk = t.k AND s.sv > t.bal)""".stripMargin)
        .as[Long].collect().sorted.toSeq
      val t = SnapshotTable(wh, "ns", s"thd$round")
      t.overwrite(rows.toDF("rid", "k", "bal")): Unit
      spark.sql(s"""DELETE FROM graft.ns.thd$round t
                   |WHERE $word (SELECT 1 FROM rl_thd_s s
                   |             WHERE s.sk = t.k AND s.sv > t.bal)""".stripMargin)
      val survivors = t.read(spark).select("rid").as[Long].collect().sorted.toSeq
      assert(survivors == rows.map(_._1).filterNot(expectDeleted.contains),
        s"round $round ($word): src=$srcRows rows=$rows\n" +
          s"  expectDeleted=$expectDeleted survivors=$survivors")
    }
  }

  test("theta-correlated [NOT] EXISTS DELETE rides the equi-join with residual conditions") {
    val wh = Files.createTempDirectory("graft_rl_theta").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    def fresh(name: String): SnapshotTable = {
      val t = SnapshotTable(wh, "ns", name)
      t.overwrite(Seq((1L, 5.0), (2L, 50.0), (3L, 5.0), (4L, 5.0))
        .toDF("id", "bal")): Unit
      t
    }
    Seq((1L, 10.0), (2L, 10.0), (3L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("rl_theta_src")
    // EXISTS with equality + theta: delete rows having a source row on
    // the SAME key whose v exceeds bal — id=1 only (id=2's v=10 < 50,
    // id=3's v=1 < 5, id=4 has no source row)
    val t1 = fresh("theta_cow")
    spark.sql("""DELETE FROM graft.ns.theta_cow t
                |WHERE EXISTS (SELECT 1 FROM rl_theta_src s
                |              WHERE s.k = t.id AND s.v > t.bal)""".stripMargin)
    assert(t1.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L), "only id=1 has a same-key source row with v > bal")
    assert(t1.currentSnapshot.get.operation == "delete" &&
      t1.currentSnapshot.get.deletes.isEmpty, "default write.delete.mode is COW")
    // same statement, merge-on-read: one positional delete file
    val t2 = fresh("theta_mor")
    t2.setProperties(Map("write.delete.mode" -> "merge-on-read")): Unit
    val dirsBefore = t2.currentSnapshot.get.dataDirs
    spark.sql("""DELETE FROM graft.ns.theta_mor t
                |WHERE EXISTS (SELECT 1 FROM rl_theta_src s
                |              WHERE s.k = t.id AND s.v > t.bal)""".stripMargin)
    assert(t2.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
    assert(t2.currentSnapshot.get.dataDirs == dirsBefore &&
      t2.currentSnapshot.get.deletes.nonEmpty, "MOR keeps data files, adds a delete file")
    // NOT EXISTS with theta: keep only rows that DO have such a source
    // row; residual plain conjunct restricts the statement further
    val t3 = fresh("theta_anti")
    spark.sql("""DELETE FROM graft.ns.theta_anti t
                |WHERE NOT EXISTS (SELECT 1 FROM rl_theta_src s
                |                  WHERE s.k = t.id AND s.v > t.bal)
                |  AND t.id < 4""".stripMargin)
    assert(t3.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L), "ids 2,3 lack a qualifying source row and are < 4; id=4 is shielded")
    // theta through arithmetic on both sides still lowers
    val t4 = fresh("theta_arith")
    spark.sql("""DELETE FROM graft.ns.theta_arith t
                |WHERE EXISTS (SELECT 1 FROM rl_theta_src s
                |              WHERE s.k = t.id AND s.v * 2 > t.bal + 10)""".stripMargin)
    assert(t4.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L), "20 > 15 only for id=1")
    // PURELY non-equality correlation stays refused (no equi key — a
    // nested-loop join at scale), as does theta correlation in UPDATE
    val t5 = fresh("theta_refuse")
    val e = intercept[Exception](spark.sql(
      """DELETE FROM graft.ns.theta_refuse t
        |WHERE EXISTS (SELECT 1 FROM rl_theta_src s WHERE s.v > t.bal)""".stripMargin))
    assert(e.getMessage.contains("subquery"), e.getMessage)
    val e2 = intercept[Exception](spark.sql(
      """UPDATE graft.ns.theta_refuse t SET bal = 0
        |WHERE EXISTS (SELECT 1 FROM rl_theta_src s
        |              WHERE s.k = t.id AND s.v > t.bal)""".stripMargin))
    assert(e2.getMessage.contains("subquery"), e2.getMessage)
    assert(t5.read(spark).count() == 4L, "refused statements must not mutate")
  }

  test("correlated scalar assignment decorrelates; keyless rows take NULL; count takes 0") {
    val wh = Files.createTempDirectory("graft_rl_cs").toString
    val t = SnapshotTable(wh, "ns", "cst")
    t.overwrite(Seq((1L, 0.0), (2L, 0.0), (3L, 99.0)).toDF("id", "best"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((1L, 10.0), (1L, 30.0), (2L, 20.0)).toDF("k", "v")
      .createOrReplaceTempView("rl_cs_src")
    spark.sql("""UPDATE graft.ns.cst t
                |SET best = (SELECT max(v) FROM rl_cs_src s WHERE s.k = t.id)""".stripMargin)
    val out = t.read(spark).orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, Some(30.0)), (2L, Some(20.0)), (3L, None)),
      s"per-key max for matched rows, NULL for the keyless row: $out")
    assert(t.currentSnapshot.get.operation == "merge")
    // residual WHERE restricts BOTH arms (matched and keyless)
    t.overwrite(Seq((1L, 0.0), (2L, -1.0), (3L, 99.0)).toDF("id", "best")): Unit
    spark.sql("""UPDATE graft.ns.cst t
                |SET best = (SELECT sum(v) FROM rl_cs_src s WHERE s.k = t.id)
                |WHERE t.best >= 0""".stripMargin)
    val out2 = t.read(spark).orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out2 == Seq((1L, Some(40.0)), (2L, Some(-1.0)), (3L, None)),
      s"cond-false rows untouched on both arms: $out2")
    // COUNT over an empty group is 0, not NULL — the count-bug: the
    // keyless arm must substitute the replayed 0, never NULL
    t.overwrite(Seq((1L, 0.0), (2L, 0.0), (3L, 99.0)).toDF("id", "best")): Unit
    spark.sql("""UPDATE graft.ns.cst t
                |SET best = (SELECT count(*) FROM rl_cs_src s WHERE s.k = t.id)""".stripMargin)
    val out3 = t.read(spark).orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out3 == Seq((1L, Some(2.0)), (2L, Some(1.0)), (3L, Some(0.0))),
      s"per-key counts for matched rows, 0 (not NULL) for the keyless row: $out3")
    // count(col) over the group's non-NULLs, still 0 on the keyless arm
    t.overwrite(Seq((1L, 0.0), (2L, 0.0), (3L, 99.0)).toDF("id", "best")): Unit
    Seq((1L, Some(10.0)), (1L, None), (2L, Some(20.0))).toDF("k", "v")
      .createOrReplaceTempView("rl_cs_nulls")
    spark.sql("""UPDATE graft.ns.cst t
                |SET best = (SELECT count(v) FROM rl_cs_nulls s WHERE s.k = t.id)""".stripMargin)
    val out4 = t.read(spark).orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out4 == Seq((1L, Some(1.0)), (2L, Some(1.0)), (3L, Some(0.0))),
      s"count(col) skips NULLs in-group and is 0 on the keyless arm: $out4")
    // ... and so does ANY NULL-to-non-NULL wrapper around a legal
    // aggregate (coalesce maps the empty-group NULL to 0 — substituting
    // NULL on the keyless arm would silently diverge)
    val e2 = intercept[Exception](spark.sql(
      """UPDATE graft.ns.cst t
        |SET best = (SELECT coalesce(max(v), 0.0) FROM rl_cs_src s
        |            WHERE s.k = t.id)""".stripMargin))
    assert(e2.getMessage.contains("subquery"), e2.getMessage)
  }

  test("uncorrelated SCALAR subqueries in DML materialize once per statement") {
    val wh = Files.createTempDirectory("graft_rl_scalar").toString
    val t = SnapshotTable(wh, "ns", "sct")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"))
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq(5.0, 15.0).toDF("bonus").createOrReplaceTempView("rl_sc_bonus")
    // UPDATE: scalar subqueries in both the assignment and the WHERE;
    // SQL contract = evaluated once, against the PRE-update state
    spark.sql("""UPDATE graft.ns.sct
                |SET bal = bal + (SELECT max(bonus) FROM rl_sc_bonus)
                |WHERE bal >= (SELECT avg(bal) FROM graft.ns.sct)""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 35.0), (3L, 45.0)))
    // MERGE: scalar subquery inside a clause condition
    Seq((1L, 100.0), (2L, 1.0)).toDF("id", "amount").createOrReplaceTempView("rl_sc_src")
    spark.sql("""MERGE INTO graft.ns.sct t USING rl_sc_src s ON t.id = s.id
                |WHEN MATCHED AND s.amount > (SELECT min(bonus) FROM rl_sc_bonus)
                |  THEN UPDATE SET bal = s.amount""".stripMargin)
    assert(t.read(spark).orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 100.0), (2L, 35.0), (3L, 45.0)))
    // a zero-row scalar subquery is NULL (condition never true): no-op
    spark.sql("""UPDATE graft.ns.sct SET bal = 0
                |WHERE bal > (SELECT bonus FROM rl_sc_bonus WHERE bonus > 999)""".stripMargin)
    assert(t.read(spark).filter(col("bal") === 0.0).count() == 0L)
    // correlated subqueries stay rejected with the actionable message
    val e = intercept[Exception](spark.sql(
      """UPDATE graft.ns.sct SET bal = 0
        |WHERE bal > (SELECT max(bonus) FROM rl_sc_bonus WHERE bonus < bal)""".stripMargin))
    assert(e.getMessage.contains("SCALAR subqueries") ||
      e.getMessage.toLowerCase.contains("correlated"), e.getMessage)
  }

  test("SQL MERGE delete + partitioned copy-on-write keeps the layout") {
    val t = freshTable()
    val df = Seq((1L, "x", "d1"), (2L, "y", "d1"), (3L, "z", "d2"))
      .toDF("id", "v", "day")
    t.overwrite(df, partitionCols = Seq("day"))
    t.mergeInto(Seq(2L).toDF("id"), Seq("id" -> "id"), Merge.Delete, Merge.Ignore)
    assert(t.partitionColumns == Seq("day"))
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // partition pruning still fires on the rewritten layout
    val pruned = t.read(spark).filter(col("day") === "d2")
    assert(pruned.count() == 1L)
    // every referenced dir keeps the day=<v> layout on disk
    t.currentSnapshot.get.dataDirs.foreach { d =>
      val subdirs = new java.io.File(d).listFiles().filter(_.isDirectory).map(_.getName)
      assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("day=")),
        s"$d lost the partition layout: ${subdirs.mkString(", ")}")
    }
    // no phantom unpartitioned entry, no partition with rows but no file
    val stats = t.partitionStats(spark).as[(String, Long, Long)].collect().toSeq
    assert(stats.sorted == Seq(("day=d1", 1L, 1L), ("day=d2", 1L, 1L)), s"got $stats")
    assert(t.fileStats(spark).select("partition_path").as[String].collect()
      .forall(_.startsWith("day=")))
  }
}
