package graft.sink

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.col

/** Snapshot reads plan from the files the metadata records: one
  * relation per layout over exactly the live files, typed partition
  * values, and masks as left-out files.
  */
class SnapshotFileIndexSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_file_index").toString, "ns", "t")

  private def codes(): SnapshotTable = {
    val t = freshTable()
    t.overwrite(Seq((1L, "007"), (2L, "10")).toDF("id", "code"), partitionCols = Seq("code"))
    t.append(Seq((3L, "10"), (4L, "11")).toDF("id", "code"), partitionCols = Seq("code"))
    t
  }

  test("a string partition of numeric-looking values reads back as written") {
    val df = codes().read(spark)
    assert(df.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "007"), (2L, "10"), (3L, "10"), (4L, "11")))
    assert(df.filter(col("code") === "007").count() == 1L)
  }

  test("partition bounds recorded in the inferred type space never prune a partition") {
    val t = freshTable()
    t.overwrite(Seq((1L, "007"), (2L, "10")).toDF("id", "code"), partitionCols = Seq("code"))
    // a dir written when partition bounds were collected over the
    // inferred (int) type: '007' recorded as min/max "7", which as a
    // string bound excludes '007'
    val dir = t.currentSnapshot.get.dataDirs.head
    val sidecar = Paths.get(dir, ".graft-files.json")
    val recorded = MetadataJson.read(sidecar).get.asObj
    val ranges = recorded("ranges").asObj
    MetadataJson.write(sidecar, MetadataJson.obj("files" -> recorded("files"),
      "ranges" -> MetadataJson.obj("rows" -> ranges("rows"),
        "cols" -> MetadataJson.JArr(ranges("cols").asArr.map { c =>
          if (c.asObj("name").asStr != "code") c
          else MetadataJson.obj("name" -> MetadataJson.JStr("code"), "nulls" -> MetadataJson.num(0L),
            "min" -> MetadataJson.JStr("7"), "max" -> MetadataJson.JStr("7"))
        }))))
    assert(t.read(spark).filter(col("code") === "007").select("id").as[Long].collect().toSeq ==
      Seq(1L))
  }

  test("41 partitioned appends read through one relation, planned with no job") {
    val t = freshTable()
    def batch(i: Int) = (i * 10 to i * 10 + 9).map(id => (id.toLong, s"p${id % 3}")).toDF("id", "p")
    t.overwrite(batch(0), partitionCols = Seq("p"))
    (1 until 41).foreach(i => t.append(batch(i), partitionCols = Seq("p")))
    assert(jobsDuring(t.read(spark).queryExecution.executedPlan) == 0)
    val rels = fsRelations(t.read(spark).queryExecution.analyzed)
    assert(rels.size == 1 && rels.head.location.rootPaths.size == 41)
    assert(rels.head.partitionSchema.fieldNames.toSeq == Seq("p"))
    assert(t.read(spark).count() == 410L)
    assert(t.read(spark).filter(col("p") === "p1").count() == 137L)
  }

  test("a dynamic overwrite's masks are left-out files, not a predicate") {
    val t = freshTable()
    t.overwrite((1L to 30L).map(i => (i, s"d${i % 3}")).toDF("id", "day"), partitionCols = Seq("day"))
    t.append((31L to 60L).map(i => (i, s"d${i % 3}")).toDF("id", "day"), partitionCols = Seq("day"))
    t.overwritePartitions(Seq((100L, "d1"), (101L, "d2")).toDF("id", "day"), Seq("day"))
    val df = t.read(spark)
    val rels = fsRelations(df.queryExecution.analyzed)
    assert(rels.size == 1)
    val files = rels.head.inputFiles.toSeq
    val (carried, written) = (t.currentSnapshot.get.dataDirs.init, t.currentSnapshot.get.dataDirs.last)
    // the carried dirs keep only day=d0; d1 and d2 come from the new dir
    assert(files.filter(f => carried.exists(f.contains)).forall(_.contains("day=d0")), files)
    assert(files.count(_.contains("day=d0")) == 2 && files.exists(_.contains(written)), files)
    assert(df.queryExecution.analyzed.collect { case f: Filter => f }.isEmpty)
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      (1L to 60L).filter(_ % 3 == 0) ++ Seq(100L, 101L))
  }

  test("two reads of one snapshot share the cache; row identity and file names resolve") {
    val t = codes()
    val cached = t.read(spark).cache()
    try {
      assert(cached.count() == 4L)
      assert(t.read(spark).queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.nonEmpty, "a second read of the snapshot must match the cached one")
    } finally cached.unpersist()
    val meta = t.read(spark).select(col("id"), col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(Long, String, Long)].collect()
    assert(meta.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(meta.forall { case (_, path, row) =>
      new java.io.File(SnapshotTable.fileUriToPath(path)).exists && row >= 0L })
  }
}
