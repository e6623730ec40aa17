package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.plans.RangeStats
import org.apache.spark.sql.functions.col

/** Byte pin of every engine-written metadata file of one fixed table:
  * metadata.json, refs.json, .graft-properties.json, one manifest, the
  * three per-dir sidecars and the add_files import manifest. Partition
  * values, column names, property keys/values and ref names carry the
  * characters the escape must handle (quote, backslash, brackets,
  * braces, control characters, non-ASCII), so any change to the string
  * escape, the field order or the number rendering shows up here.
  *
  * The columns sidecar's raw bytes are also the scan coalescer's
  * schema-identity key across dirs written by old and new code, which
  * is why these files must stay byte-identical, not merely parse-equal.
  * Values that differ per run (timestamps, random dir and file names,
  * absolute paths, parquet byte sizes) are replaced by placeholders.
  */
class MetadataBytesSpec extends SparkSpec {

  import spark.implicits._

  private val tricky = "q\"b\\s[1]{2}\u0001é"
  // partition values become directory names: no non-ASCII there, the
  // JVM's path encoding may not map it
  private val trickyPart = "q\"b\\s[1]{2}\u0001"

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Build the fixed table; returns normalized file name -> content, and
    * every data and delete dir the table wrote.
    */
  private def build(): (Map[String, String], Seq[String]) = {
    val src = Files.createTempDirectory("graft_bytes_src").toString
    val t = SnapshotTable(Files.createTempDirectory("graft_bytes").toString, "ns", "t")
    val root = t.root
    val df = Seq((1L, tricky, "a"), (2L, "x y", trickyPart), (3L, "", "a"))
      .toDF("id", "na\"me é", "p").coalesce(1)
    t.overwrite(df, partitionCols = Seq("p"))
    // one masked dir only: masked_dirs is ordered by the (random) dir name
    t.overwritePartitions(Seq((6L, "u", "a")).toDF("id", "na\"me é", "p").coalesce(1),
      partitionCols = Seq("p"))
    t.append(Seq((4L, "w", "b")).toDF("id", "na\"me é", "p").coalesce(1),
      partitionCols = Seq("p"))
    t.delete(spark, Rows.Where(col("id") === 2L), WriteMode.MergeOnRead)
    Seq((5L, "v", "b")).toDF("id", "na\"me é", "p").coalesce(1)
      .write.partitionBy("p").parquet(s"$src/ext")
    t.addFiles(spark, s"$src/ext")
    t.setProperties(Map(tricky -> tricky, "owner" -> "team é"))
    t.createBranch(s"dev$tricky", maxRefAgeMs = Some(86400000L),
      minSnapshotsToKeep = Some(2), maxSnapshotAgeMs = Some(3600000L))
    t.createTag("t{1}")
    t.rewriteManifests(): Unit
    t.stageAppend(Seq((7L, "s", "c")).toDF("id", "na\"me é", "p").coalesce(1),
      partitionCols = Seq("p"))

    val dirs = t.snapshots.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir)).distinct
    val rootAbs = new File(root).getAbsolutePath
    val srcAbs = new File(src).getAbsolutePath
    def normalize(s: String): String = {
      val named = dirs.zipWithIndex.foldLeft(s) { case (acc, (d, i)) =>
        acc.replace(new File(d).getName, s"<d$i>")
      }
      named.replace(rootAbs, "<root>").replace(srcAbs, "<src>")
        .replaceAll("part-[^\"/]*?\\.parquet", "<part>")
        .replaceAll("\"committed_at_ms\":\\d+", "\"committed_at_ms\":<ts>")
        .replaceAll("\"bytes\":\\d+", "\"bytes\":<n>")
    }
    val head = t.currentSnapshot.get
    val written = head.dataDirs.head
    val imported = head.dataDirs.find(_.endsWith("-added")).get
    Seq(
      "metadata.json" -> Paths.get(root, "metadata.json"),
      "refs.json" -> Paths.get(root, "refs.json"),
      ".graft-properties.json" -> Paths.get(root, ".graft-properties.json"),
      "manifest.json" -> Paths.get(root, s"manifest-${head.id}.json"),
      ".graft-columns.json" -> Paths.get(written, ".graft-columns.json"),
      ".graft-files.json" -> Paths.get(written, ".graft-files.json"),
      RangeStats.SidecarName -> Paths.get(written, RangeStats.SidecarName),
      SnapshotTable.ImportManifestName -> Paths.get(imported, SnapshotTable.ImportManifestName)
    ).map { case (k, p) => k -> normalize(read(p)) }.toMap -> dirs
  }

  // JSON's unicode escapes are written with a doubled backslash below:
  // Scala would decode a single-backslash one even inside triple quotes
  private val expected: Map[String, String] = Map(
    "metadata.json" -> (
      """[{"id":1,"committed_at_ms":<ts>,"operation":"overwrite","format":"parquet",""" +
      """"row_count":3,"parent_id":0,"last_column_id":3,"cols":[{"id":1,"name":"id",""" +
      """"type":"BIGINT"},{"id":2,"name":"na\"me é","type":"STRING"},{"id":3,"name":"p",""" +
      """"type":"STRING"}],"data_dirs":["<root>/<d0>"]},{"id":2,"committed_at_ms":<ts>,""" +
      """"operation":"overwrite_partitions","format":"parquet","row_count":2,""" +
      """"parent_id":1,"last_column_id":3,"cols":[{"id":1,"name":"id","type":"BIGINT"},""" +
      """{"id":2,"name":"na\"me é","type":"STRING"},{"id":3,"name":"p","type":"STRING"}],""" +
      """"masked_dirs":{"<root>/<d0>":["p=a"]},"data_dirs":["<root>/<d0>","<root>/<d1>"]},""" +
      """{"id":3,"committed_at_ms":<ts>,"operation":"append","format":"parquet",""" +
      """"row_count":3,"parent_id":2,"last_column_id":3,"cols":[{"id":1,"name":"id",""" +
      """"type":"BIGINT"},{"id":2,"name":"na\"me é","type":"STRING"},{"id":3,"name":"p",""" +
      """"type":"STRING"}],"masked_dirs":{"<root>/<d0>":["p=a"]},""" +
      """"data_dirs":["<root>/<d0>","<root>/<d1>","<root>/<d2>"]},{"id":4,""" +
      """"committed_at_ms":<ts>,"operation":"delete","format":"parquet","row_count":2,""" +
      """"parent_id":3,"last_column_id":3,"cols":[{"id":1,"name":"id","type":"BIGINT"},""" +
      """{"id":2,"name":"na\"me é","type":"STRING"},{"id":3,"name":"p","type":"STRING"}],""" +
      """"masked_dirs":{"<root>/<d0>":["p=a"]},"deletes":[{"dir":"<root>/<d3>",""" +
      """"keys":["__graft_pd_file","__graft_pd_pos"],"applies":["<root>/<d0>"],""" +
      """"fmt":"parquet","pos":true}],"data_dirs":["<root>/<d0>","<root>/<d1>",""" +
      """"<root>/<d2>"]},{"id":5,"committed_at_ms":<ts>,"operation":"append",""" +
      """"format":"parquet","row_count":3,"parent_id":4,"last_column_id":3,""" +
      """"cols":[{"id":1,"name":"id","type":"BIGINT"},{"id":2,"name":"na\"me é",""" +
      """"type":"STRING"},{"id":3,"name":"p","type":"STRING"}],""" +
      """"summary":{"added-files":"1","added-files-source":"<src>/ext"},""" +
      """"masked_dirs":{"<root>/<d0>":["p=a"]},"deletes":[{"dir":"<root>/<d3>",""" +
      """"keys":["__graft_pd_file","__graft_pd_pos"],"applies":["<root>/<d0>"],""" +
      """"fmt":"parquet","pos":true}],"data_dirs":["<root>/<d0>","<root>/<d1>",""" +
      """"<root>/<d2>","<root>/<d4>"]},{"id":6,"committed_at_ms":<ts>,""" +
      """"operation":"append","format":"parquet","row_count":4,"parent_id":5,""" +
      """"last_column_id":3,"cols":[{"id":1,"name":"id","type":"BIGINT"},{"id":2,""" +
      """"name":"na\"me é","type":"STRING"},{"id":3,"name":"p","type":"STRING"}],""" +
      """"staged":true,"masked_dirs":{"<root>/<d0>":["p=a"]},""" +
      """"deletes":[{"dir":"<root>/<d3>","keys":["__graft_pd_file","__graft_pd_pos"],""" +
      """"applies":["<root>/<d0>"],"fmt":"parquet","pos":true}],""" +
      """"data_dirs":["<root>/<d0>","<root>/<d1>","<root>/<d2>","<root>/<d4>",""" +
      """"<root>/<d5>"]}]"""),
    "refs.json" -> (
      """[{"name":"devq\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001é","type":"branch",""" +
      """"snapshot_id":5,"max_ref_age_ms":86400000,"min_snapshots_to_keep":2,""" +
      """"max_snapshot_age_ms":3600000},{"name":"t\\u007b1\\u007d","type":"tag",""" +
      """"snapshot_id":5}]"""),
    ".graft-properties.json" -> (
      """{"owner":"team é",""" +
      """"q\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001é":"q\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001é"}"""),
    "manifest.json" -> (
      """[{"dir":"<d0>","file":"p=q%22b%5Cs%5B1%5D%7B2\\u007d%01/<part>",""" +
      """"partition":"p=q\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001","bytes":<n>,"rows":1},""" +
      """{"dir":"<d1>","file":"p=a/<part>","partition":"p=a","bytes":<n>,"rows":1},""" +
      """{"dir":"<d2>","file":"p=b/<part>","partition":"p=b","bytes":<n>,"rows":1},""" +
      """{"dir":"<d4>","file":"p=b/<part>","partition":"p=b","bytes":<n>,"rows":1}]"""),
    ".graft-columns.json" -> (
      """[{"id":1,"name":"id","type":"BIGINT"},{"id":2,"name":"na\"me é","type":"STRING"},""" +
      """{"id":3,"name":"p","type":"STRING"}]"""),
    ".graft-files.json" -> (
      """[{"file":"p=a/<part>","partition":"p=a","bytes":<n>,"rows":2},""" +
      """{"file":"p=q%22b%5Cs%5B1%5D%7B2\\u007d%01/<part>",""" +
      """"partition":"p=q\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001","bytes":<n>,"rows":1}]"""),
    RangeStats.SidecarName -> (
      """{"rows":3,"cols":[{"name":"id","nulls":0,"min":"1","max":"3"},{"name":"na\"me é",""" +
      """"nulls":0,"min":"","max":"x y"},{"name":"p","nulls":0,"min":"a",""" +
      """"max":"q\"b\\s\\u005b1\\u005d\\u007b2\\u007d\\u0001"}]}"""),
    SnapshotTable.ImportManifestName -> (
      """[{"path":"<src>/ext/p=b/<part>","rel":"p=b/<part>","rows":1}]"""))
    .map { case (k, v) => k -> v.replace("\\\\u", "\\u") }

  test("every engine-written metadata file keeps its exact bytes") {
    val (got, dirs) = build()
    expected.foreach { case (name, bytes) =>
      assert(got(name) == bytes, s"$name changed")
    }
    // partition rows are the sums of the files sidecar's rows: no dir
    // carries a partitions sidecar
    assert(!dirs.exists(d => Files.exists(Paths.get(d, ".graft-partitions.json"))))
  }
}
