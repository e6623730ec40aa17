package graft.plans

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.sink.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range-sidecar data skipping: commit-time min/max stats prune
  * snapshot dirs at OPTIMIZATION time (the Iceberg manifest-pruning
  * role). Correctness contract: skipping changes the PLAN, never the
  * result — every case asserts both.
  */
class RangeStatsSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_rs").toString, "ns", "t")

  /** Total root dirs the optimized plan's file scans would read. */
  private def scannedDirs(df: DataFrame): Int =
    fsRelations(df.queryExecution.optimizedPlan).map(_.location.rootPaths.size).sum

  test("disjoint-range appends: a point filter scans exactly one dir") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id").withColumn("v", col("id") * 2))
    t.append((101L to 200L).toDF("id").withColumn("v", col("id") * 2))
    t.append((201L to 300L).toDF("id").withColumn("v", col("id") * 2))
    val all = t.read(spark)
    // the three dirs coalesce into one multi-path scan...
    assert(scannedDirs(all) == 3)
    // ...and the filter prunes it down to the single overlapping dir
    val q = all.filter(col("id") === 150L)
    assert(scannedDirs(q) == 1)
    assert(q.collect().map(_.getLong(1)).toSeq == Seq(300L))
    // range predicate spanning two dirs keeps exactly two
    val r = all.filter(col("id") >= 90L && col("id") <= 110L)
    assert(scannedDirs(r) == 2)
    assert(r.count() == 21L)
  }

  test("a filter outside every dir's range plans no scan at all") {
    val t = freshTable()
    t.overwrite((1L to 50L).toDF("id"))
    t.append((51L to 99L).toDF("id"))
    val q = t.read(spark).filter(col("id") > 1000L)
    assert(scannedDirs(q) == 0)
    assert(q.count() == 0L)
  }

  test("IN lists prune dirs none of whose values overlap") {
    val t = freshTable()
    t.overwrite((1L to 10L).toDF("id"))
    t.append((11L to 20L).toDF("id"))
    t.append((21L to 30L).toDF("id"))
    val q = t.read(spark).filter(col("id").isin(3L, 25L))
    assert(scannedDirs(q) == 2)
    assert(q.as[Long].collect().sorted.toSeq == Seq(3L, 25L))
  }

  test("timestamp and date bounds prune (micros/days encodings)") {
    val t = freshTable()
    def day(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    t.overwrite(Seq((day(1), Date.valueOf("2024-01-01")),
      (day(5), Date.valueOf("2024-01-05"))).toDF("ts", "d"))
    t.append(Seq((day(10), Date.valueOf("2024-01-10")),
      (day(15), Date.valueOf("2024-01-15"))).toDF("ts", "d"))
    val byTs = t.read(spark).filter(col("ts") > lit("2024-01-07").cast("timestamp"))
    assert(scannedDirs(byTs) == 1)
    assert(byTs.count() == 2L)
    val byDate = t.read(spark).filter(col("d") < lit("2024-01-03").cast("date"))
    assert(scannedDirs(byDate) == 1)
    assert(byDate.count() == 1L)
  }

  test("string bounds: exact when short; truncated min still lower-bounds") {
    val t = freshTable()
    t.overwrite(Seq("apple", "banana").toDF("s"))
    t.append(Seq("melon", "peach").toDF("s"))
    val q = t.read(spark).filter(col("s") === "aardvark")
    assert(scannedDirs(q) == 0) // below every min
    val q2 = t.read(spark).filter(col("s") === "nectarine")
    assert(scannedDirs(q2) == 1) // only the melon..peach dir overlaps
    assert(q2.count() == 0L)

    // long strings: min is prefix-truncated (still a valid lower bound);
    // the upper bound is dropped, so only min-side skipping applies
    val long1 = "m" + ("x" * 100)
    val t2 = freshTable()
    t2.overwrite(Seq(long1, "zebra").toDF("s"))
    val below = t2.read(spark).filter(col("s") < "aaa")
    assert(scannedDirs(below) == 0) // min bound proves empty
    val above = t2.read(spark).filter(col("s") > "zz")
    assert(scannedDirs(above) == 1) // no upper bound recorded -> must scan
    assert(above.count() == 0L)
  }

  test("null-count stats prune IS NULL / IS NOT NULL") {
    val t = freshTable()
    t.overwrite(Seq(Some(1L), Some(2L)).toDF("v"))           // no nulls
    t.append(Seq(Option.empty[Long], Option.empty[Long]).toDF("v")) // all null
    val isNull = t.read(spark).filter(col("v").isNull)
    assert(scannedDirs(isNull) == 1)
    assert(isNull.count() == 2L)
    val notNull = t.read(spark).filter(col("v").isNotNull)
    assert(scannedDirs(notNull) == 1)
    assert(notNull.count() == 2L)
    // a value predicate can never match the all-null dir either
    val eq = t.read(spark).filter(col("v") === 1L)
    assert(scannedDirs(eq) == 1)
    assert(eq.count() == 1L)
  }

  test("float bounds compare in float space: boundary-equal filter is NOT pruned") {
    val t = freshTable()
    // min of this dir is exactly 0.7f; "0.7".toDouble (0.7d) > 0.7f
    // widened to double, so a double-space comparison would wrongly
    // prove `x <= 0.7f` empty here and silently drop the matching row
    t.overwrite(Seq(0.7f, 0.9f).toDF("x"))
    t.append(Seq(10.5f, 20.5f).toDF("x"))
    val q = t.read(spark).filter(col("x") <= 0.7f)
    assert(scannedDirs(q) == 1) // the second dir is out of range; the first must survive
    assert(q.as[Float].collect().toSeq == Seq(0.7f))
    val eq = t.read(spark).filter(col("x") === 0.7f)
    assert(scannedDirs(eq) == 1)
    assert(eq.count() == 1L)
    // and pruning still fires where it should
    val none = t.read(spark).filter(col("x") > 100.0f)
    assert(scannedDirs(none) == 0)
    assert(none.count() == 0L)
  }

  test("double bounds prune; results stay exact") {
    val t = freshTable()
    t.overwrite(Seq(0.1, 0.5).toDF("x"))
    t.append(Seq(10.5, 99.25).toDF("x"))
    val q = t.read(spark).filter(col("x") < 0.3)
    assert(scannedDirs(q) == 1)
    assert(q.as[Double].collect().toSeq == Seq(0.1))
  }

  test("skipping composes with equality deletes and masks (per-dir reads)") {
    val t = freshTable()
    t.overwrite((1L to 100L).toDF("id"))
    t.append((101L to 200L).toDF("id"))
    t.deleteWhere(Seq(150L).toDF("id"), Seq("id"))
    // delete-scoped dirs read per-dir (not coalesced); dir-level skip
    // must still drop the non-overlapping dir entirely
    val q = t.read(spark).filter(col("id") <= 50L)
    assert(q.count() == 50L)
    // only the first dir (plus, at most, the broadcast delete-keys file
    // — which carries no sidecar) may survive; the 101..200 dir is gone
    val dataDirs = fsRelations(q.queryExecution.optimizedPlan)
      .flatMap(_.location.rootPaths.map(_.toString))
    assert(!dataDirs.exists(_.contains(t.snapshots.last.dataDirs.last)))
    assert(t.read(spark).filter(col("id") === 150L).count() == 0L)
  }

  test("partitioned dirs: data- and partition-column bounds dir-skip per-dir reads") {
    val t = freshTable()
    def batch(lo: Long, hi: Long, day: String) =
      (lo to hi).toDF("id").withColumn("day", lit(day).cast("date"))
        .withColumn("v", col("id") * 2)
    t.overwrite(batch(1, 100, "2024-01-01"), partitionCols = Seq("day"))
    t.append(batch(101, 200, "2024-01-02"), partitionCols = Seq("day"))
    t.append(batch(201, 300, "2024-01-03"), partitionCols = Seq("day"))
    // filter on the DATA column: only the overlapping commit dir survives
    val q = t.read(spark).filter(col("id") === 150L)
    assert(scannedDirs(q) == 1)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(150L))
    // filter on the PARTITION column: sidecar bounds (read-back typed)
    // drop non-overlapping commit dirs before partition listing
    val p = t.read(spark).filter(col("day") === lit("2024-01-02").cast("date"))
    assert(scannedDirs(p) == 1)
    assert(p.count() == 100L)
  }

  test("a copy-on-write carry keeps its dir's null counts exact") {
    val t = freshTable()
    // one file holds every null of c, the other as many non-null rows
    t.overwrite(spark.range(1L, 7L, 1L, 2).toDF("id")
      .withColumn("c", when(col("id") > 3L, col("id") * 10L)))
    assert(t.fileStats(spark).count() == 2L)
    // rewrites the null file and carries the other: the carry's null
    // count (3) is relative to its source dir's 6 rows, not to the 3 it
    // carries, so it must not prove the carry all null
    t.update(spark, graft.sink.Rows.Where(col("id") === 1L), Map("id" -> lit(10L)))
    assert(t.currentSnapshot.get.dataDirs.exists(_.endsWith("-carry")))
    val read = t.read(spark)
    assert(read.filter(col("c").isNotNull).count() == 3L)
    assert(read.filter(col("c").isNull).count() == 3L)
  }

  test("the pruning rules plan from the scan alone: no table file is read") {
    val t = freshTable()
    def batch(lo: Long, day: String) = (lo until lo + 10).toDF("id")
      .withColumn("ts", concat(lit(s"$day 0"), (col("id") % 10).cast("string"), lit(":00:00"))
        .cast("timestamp"))
      .withColumn("ts_day", to_date(col("ts")))
    t.overwrite(batch(0, "2024-02-01"), partitionCols = Seq("ts_day"))
    t.append(batch(10, "2024-02-02"), partitionCols = Seq("ts_day"))
    t.append(batch(20, "2024-02-03"), partitionCols = Seq("ts_day"))
    graft.sink.DeclaredPartitionSpec.write(t.root, Seq(graft.template.PartitionField("ts", "day")))
    val q = t.read(spark).filter(col("ts") >= lit("2024-02-03 00:00:00").cast("timestamp"))
    // every sidecar and spec file goes before the optimizer runs
    val graftFiles = Files.walk(java.nio.file.Paths.get(t.root)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.startsWith(".graft-"))
    assert(graftFiles.exists(_.getFileName.toString == graft.sink.DeclaredPartitionSpec.FileName))
    graftFiles.foreach(Files.delete)
    val plan = q.queryExecution.optimizedPlan
    assert(fsRelations(plan).map(_.location.rootPaths.size).sum == 1)
    val conds = plan.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    assert(conds.exists(_.references.exists(_.name == "ts_day")),
      s"expected a derived ts_day conjunct in:\n$plan")
    assert(q.count() == 10L)
  }

  test("a legacy range sidecar still prunes; its carry records the ranges in the files sidecar") {
    import graft.sink.MetadataJson
    import java.nio.file.Paths
    val t = freshTable()
    t.overwrite(spark.range(1L, 101L, 1L, 2).toDF("id"))
    t.append((201L to 300L).toDF("id"))
    // the earlier layout: a bare array of file entries, the ranges in a
    // sidecar of their own
    val dir = t.currentSnapshot.get.dataDirs.head
    val sidecar = Paths.get(dir, ".graft-files.json")
    val recorded = MetadataJson.read(sidecar).get.asObj
    MetadataJson.write(sidecar, recorded("files"))
    MetadataJson.write(Paths.get(dir, ".graft-ranges.json"), recorded("ranges"))
    val q = t.read(spark).filter(col("id") === 250L)
    assert(scannedDirs(q) == 1)
    assert(q.count() == 1L)
    // a copy-on-write split carries the untouched file of the legacy dir
    t.delete(spark, graft.sink.Rows.Where(col("id") === 1L))
    val carryDir = t.currentSnapshot.get.dataDirs.find(_.endsWith("-carry")).get
    val carried = MetadataJson.read(Paths.get(carryDir, ".graft-files.json")).get.asObj
    assert(carried("ranges") == recorded("ranges"))
    assert(!Files.exists(Paths.get(carryDir, ".graft-ranges.json")))
    assert(scannedDirs(t.read(spark).filter(col("id") === 250L)) == 1)
    assert(t.read(spark).count() == 199L)
  }

  test("external (sidecar-less) parquet is never touched by the rule") {
    val dir = Files.createTempDirectory("graft_ext").toString
    (1L to 10L).toDF("id").write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("id") > 1000L)
    assert(scannedDirs(q) == 1) // unknown stats -> full scan
    assert(q.count() == 0L)
  }
}
