package graft.sink

import java.nio.file.Files

import graft.SparkSpec

/** The table's accessors of a data dir's files agree with what the
  * metadata records: the partition layout, the live file count and
  * bytes are the ones `$files` and `$partitions` report.
  */
class DirLayoutSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_layout").toString, "ns", "t")

  test("a partition value holding '/' keeps the one partition column, through compaction") {
    val t = freshTable()
    t.overwrite(Seq((1, "x/y"), (2, "z")).toDF("id", "k"), partitionCols = Seq("k"))
    assert(t.partitionColumns == Seq("k"))
    val snap = t.compact(spark)
    assert(snap.rowCount == 2)
    assert(t.read(spark).as[(Int, String)].collect().sorted.toSeq == Seq((1, "x/y"), (2, "z")))
    assert(t.partitionColumns == Seq("k"), "compaction must keep the k layout")
    val parts = t.partitionStats(spark).as[(String, Long, Long)].collect().toSeq
    assert(parts == Seq(("k=x/y", 1L, 1L), ("k=z", 1L, 1L)), s"got $parts")
  }

  test("dataFileCount and dataBytes count only the files a dynamic overwrite left live") {
    val t = freshTable()
    t.overwrite((0 until 30).map(i => (i, s"d${i % 3}")).toDF("id", "day"),
      partitionCols = Seq("day"))
    t.overwritePartitions(Seq((100, "d1"), (101, "d2")).toDF("id", "day"),
      partitionCols = Seq("day"))
    val files = t.fileStats(spark).select("size_bytes").as[Long].collect().toSeq
    assert(t.dataFileCount == files.size.toLong, s"$$files lists ${files.size} files")
    assert(t.dataBytes == files.sum, s"$$files holds ${files.sum} bytes")
  }
}
