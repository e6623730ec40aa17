package graft.sink

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Round-9 write-layer hardening: Iceberg-legal type promotion
  * (`updateColumnType`), append type conformance, overwrite adopting the
  * batch's type, legacy-upgrade rename safety (sidecars pinned before
  * names change), publish-time commit stamps, per-delete file formats,
  * and the coalesced multi-path scan that bounds plan growth on
  * many-commit tables.
  */
class TypePromotionSpec extends SparkSpec {

  import spark.implicits._

  def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_promo").toString, "ns", "t")

  test("updateColumnType widens int->long metadata-only; old dirs upcast, new dirs write long") {
    val t = freshTable()
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("v", "name"))
    val before = t.currentSnapshot.get
    val snap = t.updateColumnType(spark, "v", "BIGINT")
    assert(snap.operation == "schema" && snap.dataDirs == before.dataDirs,
      "promotion must be a metadata-only commit")
    // reads serve the promoted type; existing int dirs upcast losslessly
    assert(t.read(spark).schema("v").dataType.sql == "BIGINT")
    // a long batch (beyond int range) now appends cleanly
    t.append(Seq((5000000000L, "c")).toDF("v", "name"))
    assert(t.read(spark).select("v").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5000000000L))
    // the legacy NARROWER type still appends too (physical int, logical long)
    t.append(Seq((7, "d")).toDF("v", "name"))
    assert(t.read(spark).select("v").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 7L, 5000000000L))
    // time travel: the pre-promotion snapshot keeps the old type
    assert(t.readSnapshot(spark, 1L).schema("v").dataType.sql == "INT")
  }

  test("narrowing and cross-family changes are rejected; float/decimal widen") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1.5f, BigDecimal("12.34"))).toDF("id", "f", "d")
      .select($"id", $"f", $"d".cast("decimal(10,2)").as("d")))
    intercept[IllegalArgumentException](t.updateColumnType(spark, "id", "INT"))
    intercept[IllegalArgumentException](t.updateColumnType(spark, "f", "STRING"))
    intercept[IllegalArgumentException](t.updateColumnType(spark, "d", "DECIMAL(10,4)"))
    intercept[IllegalArgumentException](t.updateColumnType(spark, "missing", "BIGINT"))
    t.updateColumnType(spark, "f", "DOUBLE")
    t.updateColumnType(spark, "d", "DECIMAL(20,2)")
    val sch = t.read(spark).schema
    assert(sch("f").dataType.sql == "DOUBLE")
    assert(sch("d").dataType.sql == "DECIMAL(20,2)")
    assert(t.read(spark).select("d").as[BigDecimal].head() == BigDecimal("12.34"))
  }

  test("append with a WIDER batch type is rejected (no silent read-time truncation)") {
    val t = freshTable()
    t.overwrite(Seq((1, "a")).toDF("v", "name"))
    val e = intercept[IllegalArgumentException](
      t.append(Seq((5000000000L, "b")).toDF("v", "name")))
    assert(e.getMessage.contains("updateColumnType"))
    // the rejected append's written dir is cleaned up, not orphaned
    assert(ConflictInjection.unreferencedDirs(t).isEmpty,
      s"orphaned dirs: ${ConflictInjection.unreferencedDirs(t)}")
    // after promoting, the same append lands
    t.updateColumnType(spark, "v", "BIGINT")
    t.append(Seq((5000000000L, "b")).toDF("v", "name"))
    assert(t.read(spark).count() == 2)
  }

  test("overwrite ADOPTS the batch's type (id stable), never casts data back") {
    val t = freshTable()
    t.overwrite(Seq((1, "a")).toDF("v", "name"))
    val idBefore = t.schema.find(_.name == "v").get.id
    // type-changing overwrite: int -> string (legal — overwrite replaces state)
    t.overwrite(Seq(("x1", "b")).toDF("v", "name"))
    assert(t.schema.find(_.name == "v").get.id == idBefore, "id survives by name")
    assert(t.read(spark).schema("v").dataType.sql == "STRING")
    assert(t.read(spark).select("v").as[String].collect().toSeq == Seq("x1"))
  }

  test("legacy-upgrade pins sidecars before a rename, so old dirs keep serving data") {
    val t = freshTable()
    t.overwrite(Seq((1L, "alice")).toDF("id", "name"))
    t.append(Seq((2L, "bob")).toDF("id", "name"))
    // forge a LEGACY table: strip schema metadata and the dirs' sidecars
    t.writeMetadata(t.snapshots.map(_.copy(cols = Nil, lastColumnId = 0)))
    t.snapshots.flatMap(_.dataDirs).foreach { d =>
      Files.deleteIfExists(Paths.get(d, ".graft-columns.json")): Unit
    }
    // rename triggers the legacy upgrade; pre-upgrade dirs must resolve
    // their physical (old-name) column — not backfill null
    t.renameColumn(spark, "name", "full_name")
    assert(t.read(spark).select("full_name").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob"))
  }

  test("publish stamps a fresh commit time: timestamp travel is stable across WAP") {
    val t = freshTable()
    val saved = SnapshotTable.clockMs
    try {
      SnapshotTable.clockMs = () => 1000L
      t.overwrite(Seq((1L, "a")).toDF("id", "name"))
      val staged = t.stageAppend(Seq((2L, "b")).toDF("id", "name"))
      SnapshotTable.clockMs = () => 3000L
      t.publish(staged.id)
      // t=2000 was between stage and publish: the published batch must
      // NOT appear there (it became the table at 3000, not 1000)
      assert(t.readAsOf(spark, 2000L).count() == 1)
      assert(t.readAsOf(spark, 3000L).count() == 2)
    } finally SnapshotTable.clockMs = saved
  }

  test("delete files record their own format and survive a format-changing rival") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // rival: a format-changing overwrite lands between the delete's base
    // read and its swap (injected on the first attempt only)
    ConflictInjection.withInjectedConflicts(t, conflicts = 1)(
        new SnapshotTable(t.root, t.fullName)
          .overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), format = "orc")) {
      t.deleteWhere(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    }
    val del = t.currentSnapshot.get.deletes.head
    assert(del.format.contains("parquet"),
      "the delete must record the format its FILE was written in")
    // the read applies the parquet delete file over the orc table
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("many same-schema appends coalesce into ONE multi-path scan; epochs split") {
    val t = freshTable()
    t.overwrite(Seq((0L, "r0")).toDF("id", "name"))
    (1 to 11).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "name")))
    val df = t.read(spark)
    val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"12 schema-identical commits must plan ONE coalesced scan, got ${scans.size}")
    assert(df.count() == 12)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 11L))
    // a schema epoch (promotion) splits the run: int dirs vs long dirs
    val t2 = freshTable()
    t2.overwrite(Seq((1, "a")).toDF("v", "name"))
    t2.append(Seq((2, "b")).toDF("v", "name"))
    t2.updateColumnType(spark, "v", "BIGINT")
    t2.append(Seq((3L, "c")).toDF("v", "name"))
    t2.append(Seq((4L, "d")).toDF("v", "name"))
    val df2 = t2.read(spark)
    val scans2 = df2.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans2.size == 2,
      s"one scan per physical-type epoch expected, got ${scans2.size}")
    assert(df2.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // an equality delete pins its scoped dirs out of any group
    t2.deleteWhere(Seq(Tuple1(2L)).toDF("v"), Seq("v"))
    assert(t2.read(spark).select("v").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }
}
