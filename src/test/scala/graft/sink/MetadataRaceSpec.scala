package graft.sink

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Appends race metadata-only operations on one table inside one JVM:
  * property, ref, schema and manifest changes must neither lose an
  * acknowledged append nor be lost to one, and every metadata file must
  * stay parseable with no ref naming a missing snapshot.
  */
class MetadataRaceSpec extends SparkSpec {

  import spark.implicits._

  test("appends racing property, ref, schema and manifest changes lose nothing") {
    val t = SnapshotTable(Files.createTempDirectory("graft_race").toString, "ns", "race")
    t.overwrite(Seq(0).toDF("v"))
    val saved = SnapshotTable.backoffBaseMs
    SnapshotTable.backoffBaseMs = 1L
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val acked = new ConcurrentLinkedQueue[Int]()
    def run(body: => Unit): Thread = {
      val th = new Thread(() => try body catch { case e: Throwable => errors.add(e): Unit })
      th.start()
      th
    }
    try {
      val appenders = (1 to 3).map { w =>
        run((1 to 4).foreach { i =>
          val v = w * 100 + i
          t.append(Seq(v).toDF("v"), numRetries = 50): Unit
          acked.add(v): Unit
        })
      }
      val props = run((1 to 8).foreach(i => t.setProperties(Map(s"k$i" -> s"v$i"))))
      val refs = run((1 to 8).foreach { i =>
        t.createTag(s"tag$i"): Unit
        if (i % 2 == 1) t.dropRef(s"tag$i")
      })
      val schema = run((1 to 3).foreach(i => t.addColumn(spark, s"c$i", "INT"): Unit))
      val manifests = run((1 to 4).foreach(_ => t.rewriteManifests(): Unit))
      (appenders ++ Seq(props, refs, schema, manifests)).foreach(_.join(300000))
    } finally SnapshotTable.backoffBaseMs = saved
    assert(errors.isEmpty, s"a racing operation failed: ${errors.asScala.headOption}")

    // every file parses from a fresh handle
    val reopened = new SnapshotTable(t.root, t.fullName)
    Seq("metadata.json", "refs.json", ".graft-properties.json").foreach { f =>
      assert(MetadataJson.read(Paths.get(t.root, f)).isDefined, s"$f is missing or unreadable")
    }
    val snaps = reopened.snapshots
    assert(snaps.map(_.id) == snaps.map(_.id).sorted.distinct, "snapshot ids are unique and ordered")
    // 1 overwrite + 12 appends + 3 schema commits
    assert(snaps.size == 16)
    assert(reopened.read(spark).select("v").as[Int].collect().sorted.toSeq ==
      (0 +: acked.asScala.toSeq).sorted)
    assert(acked.size == 12)
    assert(reopened.schema.map(_.name) == Seq("v", "c1", "c2", "c3"))
    assert(reopened.properties == (1 to 8).map(i => s"k$i" -> s"v$i").toMap)
    assert(reopened.refs.map(_.name).sorted == Seq("tag2", "tag4", "tag6", "tag8"))
    assert(reopened.refs.forall(r => snaps.exists(_.id == r.snapshotId)),
      "no ref names a snapshot missing from metadata.json")
  }
}
