package graft.sink

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** Zero-copy import (Iceberg add_files / snapshot-migration role):
  * the commit references foreign parquet in place through an owned
  * symlink manifest, so maintenance can only ever delete the LINKS —
  * the source data is never owned, copied, or destroyed.
  */
class AddFilesSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_add").toString, "ns", "t")

  private def stageSource(name: String)(write: String => Unit): String = {
    val dir = Files.createTempDirectory(s"graft_addsrc_$name").toString
    write(dir)
    dir
  }

  private def dataFilesOf(t: SnapshotTable): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
          .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
          .flatMap(walk)
      else Seq(f)
    t.currentSnapshot.toSeq.flatMap(_.dataDirs).flatMap(d => walk(new File(d)))
  }

  test("add_files references the source by symlink and reads it back exactly") {
    val src = stageSource("flat") { d =>
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$d/legacy")
    }
    val t = freshTable()
    t.overwrite(Seq((0, "z")).toDF("id", "name"))
    val snap = t.addFiles(spark, s"$src/legacy")
    assert(snap.operation == "append")
    assert(snap.rowCount == 4, "footer counts must land in snapshot metadata")
    assert(snap.summary.get("added-files").exists(_.toInt >= 1))
    // every imported data file is a symlink into the source: zero copy
    val links = dataFilesOf(t).filter(f => Files.isSymbolicLink(f.toPath))
    assert(links.nonEmpty)
    links.foreach { l =>
      assert(Files.readSymbolicLink(l.toPath).toString.startsWith(src))
    }
    assert(t.read(spark).as[(Int, String)].collect().sorted.toSeq ==
      Seq((0, "z"), (1, "a"), (2, "b"), (3, "c")))
    // $files serves the imported files from the commit-time sidecar:
    // zero footer reads on the query path
    val before = SnapshotTable.footerReads.get()
    val files = t.fileStats(spark).collect()
    assert(SnapshotTable.footerReads.get() == before,
      "$files of an imported dir must be a pure sidecar read")
    assert(files.length == 1 + 1) // one written file + one imported
  }

  test("maintenance deletes only the link manifest, never the source") {
    val src = stageSource("keep") { d =>
      Seq(1, 2, 3).toDF("v").coalesce(1).write.parquet(s"$d/ext")
    }
    val srcFiles = new File(s"$src/ext").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(srcFiles.nonEmpty)
    val t = freshTable()
    t.overwrite(Seq(0).toDF("v"))
    val imported = t.addFiles(spark, s"$src/ext")
    val linkDir = imported.dataDirs.last
    // a full overwrite drops the imported dir from the live set; expiry
    // then physically deletes it — the LINKS, not the source
    t.overwrite(Seq(9).toDF("v"))
    t.expireSnapshots(Long.MaxValue, retainLast = 1)
    assert(!new File(linkDir).exists, "expiry must remove the link manifest dir")
    srcFiles.foreach(f => assert(f.exists, s"expiry must never touch source file $f"))
    assert(spark.read.parquet(s"$src/ext").count() == 3,
      "the external source must stay readable after table maintenance")
  }

  test("a hive-partitioned source imports with its layout and stats intact") {
    val src = stageSource("part") { d =>
      Seq((1, "us"), (2, "us"), (3, "eu")).toDF("id", "region")
        .write.partitionBy("region").parquet(s"$d/part")
    }
    val t = freshTable()
    val snap = t.addFiles(spark, s"$src/part")
    assert(snap.rowCount == 3)
    assert(t.partitionColumns == Seq("region"),
      "the source's hive layout must become the dir's partition layout")
    val parts = t.partitionStats(spark).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(parts == Map("region=eu" -> 1L, "region=us" -> 2L),
      s"per-partition sidecar rows must be exact, got $parts")
  }

  test("a partitioned import runs 4 jobs: footers, one schema inference, the range stats") {
    val src = stageSource("jobs") { d =>
      Seq((1, "us"), (2, "us"), (3, "eu")).toDF("id", "region")
        .write.partitionBy("region").parquet(s"$d/part")
    }
    val t = freshTable()
    // partition rows are summed from the footer counts, so no count job
    // runs and the dir's schema is inferred once
    val sites = jobSitesDuring(t.addFiles(spark, s"$src/part"))
    assert(sites.size == 4, s"jobs: ${sites.mkString("; ")}")
    assert(t.partitionStats(spark).as[(String, Long, Long)].collect()
      .map(p => p._1 -> p._3).toSeq == Seq("region=eu" -> 1L, "region=us" -> 2L))
  }

  test("a source subdirectory that is not a col=value partition is rejected") {
    val src = stageSource("nested") { d =>
      Seq(1, 2).toDF("v").coalesce(1).write.parquet(s"$d/n/batch1")
    }
    val t = freshTable()
    val e = intercept[IllegalArgumentException](t.addFiles(spark, s"$src/n"))
    assert(e.getMessage.contains("'batch1' is not a col=value partition"), s"got: ${e.getMessage}")
    assert(t.currentSnapshot.isEmpty)
  }

  test("schema conformance is the normal append contract") {
    val src = stageSource("bad") { d =>
      Seq(("x", "y")).toDF("id", "name").coalesce(1).write.parquet(s"$d/bad")
    }
    val t = freshTable()
    t.overwrite(Seq((1, "a")).toDF("id", "name"))
    val e = intercept[IllegalArgumentException](t.addFiles(spark, s"$src/bad"))
    assert(e.getMessage.contains("column id"), s"got: ${e.getMessage}")
    // the rejected import must not orphan its half-built manifest dir
    val leftover = new File(t.root).listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith("-added"))
    assert(leftover.isEmpty,
      s"a swap-time reject must clean up its snap-*-added dir, found ${leftover.toSeq}")
  }

  test("the footer walk is a distributed job, not a driver-side loop") {
    val src = stageSource("dist") { d =>
      Seq.tabulate(40)(i => (i, s"n$i")).toDF("id", "name")
        .repartition(8).write.parquet(s"$d/many")
    }
    val t = freshTable()
    val driverBefore = SnapshotTable.driverFooterReads.get()
    val snap = t.addFiles(spark, s"$src/many")
    assert(snap.rowCount == 40)
    assert(SnapshotTable.driverFooterReads.get() == driverBefore,
      "add_files must read every parquet footer inside the Spark job " +
        "(executor threads), never in a per-file driver loop")
  }

  test("the import writes a manifest listing file (the portable artifact)") {
    val src = stageSource("manifest") { d =>
      Seq((1, "a"), (2, "b")).toDF("id", "name")
        .repartition(2).write.parquet(s"$d/m")
    }
    val t = freshTable()
    val snap = t.addFiles(spark, s"$src/m")
    val dir = new File(snap.dataDirs.last)
    val mf = new File(dir, SnapshotTable.ImportManifestName)
    assert(mf.exists, "snap-*-added must carry the import manifest listing")
    val text = new String(Files.readAllBytes(mf.toPath), "UTF-8")
    val srcFiles = new File(s"$src/m").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getCanonicalPath)
    srcFiles.foreach(p => assert(text.contains(new File(p).getName),
      s"manifest must list every imported file, missing $p in $text"))
    assert(text.contains("\"rows\":"), "manifest entries carry record counts")
    // underscore prefix: neither Spark's listing nor $files may see it
    assert(t.read(spark).count() == 2)
    assert(!t.fileStats(spark).collect().map(_.toString).exists(_.contains("_import_manifest")))
  }

  test("sources inside the table root and missing paths are rejected") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    val inside = t.currentSnapshot.get.dataDirs.head
    val e1 = intercept[IllegalArgumentException](t.addFiles(spark, inside))
    assert(e1.getMessage.contains("inside the table root"))
    val e2 = intercept[IllegalArgumentException](t.addFiles(spark, "/nonexistent/p"))
    assert(e2.getMessage.contains("does not exist"))
  }

  test("a single parquet file imports as a one-file snapshot") {
    val src = stageSource("single") { d =>
      Seq(7, 8).toDF("v").coalesce(1).write.parquet(s"$d/one")
    }
    val file = new File(s"$src/one").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val t = freshTable()
    val snap = t.addFiles(spark, file.toString)
    assert(snap.rowCount == 2)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(7, 8))
  }
}
