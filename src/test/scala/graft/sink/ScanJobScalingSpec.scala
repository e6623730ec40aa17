package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A statement's Spark job count must not grow with the table's
  * history: every scan takes its schema and its files from the
  * metadata, so adding live dirs adds no schema-inference or listing
  * job. Each statement runs on a table of 1 live dir and on ones of 21
  * and 41 (one append per dir, 10 rows each), partitioned and
  * unpartitioned, and must run the same number of jobs on each. 41 is
  * past Spark's parallel-listing threshold
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 paths),
  * where a scan that lists its paths runs a listing job. Each DML
  * statement must also scan as many file-source relations, query by
  * query, at 41 live dirs as at 1: a probe or rewrite that reads one
  * relation per dir builds a plan that grows with history even where
  * its job count does not.
  */
class ScanJobScalingSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft_scan_jobs").toString

  private def batch(i: Int) =
    (i * 10 + 1 to i * 10 + 10).map(id => (id.toLong, id * 1.0, id % 2)).toDF("id", "v", "p")

  /** A table of `dirs` live dirs, built once per shape. */
  private def base(dirs: Int, partitioned: Boolean): SnapshotTable = {
    val t = SnapshotTable(wh, "ns", s"base_${dirs}_$partitioned")
    if (!t.exists) {
      val parts = if (partitioned) Seq("p") else Nil
      t.overwrite(batch(0), partitionCols = parts)
      (1 until dirs).foreach(i => t.append(batch(i), partitionCols = parts))
    }
    t
  }

  private var forks = 0

  /** A private copy of `from` for one statement to mutate: its metadata
    * files under a fresh root, naming the same immutable data dirs.
    */
  private def fork(from: SnapshotTable): String = {
    forks += 1
    val name = s"f$forks"
    val to = Paths.get(wh, s"ns.$name")
    Files.createDirectories(to)
    Seq("metadata.json", ".graft-properties.json").map(Paths.get(from.root, _))
      .filter(Files.exists(_))
      .foreach(p => Files.copy(p, to.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
    s"graft.ns.$name"
  }

  private def table(qualified: String): SnapshotTable =
    SnapshotTable(wh, "ns", qualified.stripPrefix("graft.ns."))

  private def sql(q: String): Unit = spark.sql(q).collect(): Unit

  // (label, setup run before counting, counted statement) over table `t`
  private val statements: Seq[(String, String => Unit, String => Unit)] = Seq(
    ("DataFrame count", _ => (), t => table(t).read(spark).count(): Unit),
    ("SQL SELECT count(*)", _ => (), t => sql(s"SELECT count(*) FROM $t")),
    ("SQL UPDATE", _ => (), t => sql(s"UPDATE $t SET v = -1 WHERE id = 2")),
    ("SQL DELETE", _ => (), t => sql(s"DELETE FROM $t WHERE id = 2")),
    ("SELECT count(*) after DELETE", t => sql(s"DELETE FROM $t WHERE id = 2"),
      t => sql(s"SELECT count(*) FROM $t")),
    ("SQL MERGE", _ => (), t => sql(
      s"MERGE INTO $t t USING scan_jobs_keys s ON t.id = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.kv")))

  /** The job call sites of `stmt` on a fork of the `dirs`-dir table and,
    * for each query it runs, the number of file-source relations the
    * query scans.
    */
  private def run(dirs: Int, partitioned: Boolean, mor: Boolean,
      setup: String => Unit, stmt: String => Unit): (Seq[String], Seq[Int]) = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    Seq((2L, -1.0)).toDF("k", "kv").createOrReplaceTempView("scan_jobs_keys")
    val t = fork(base(dirs, partitioned))
    if (mor) table(t).setProperties(Seq("update", "delete", "merge")
      .map(v => s"write.$v.mode" -> WriteMode.MergeOnRead.name).toMap)
    setup(t)
    val relations = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // query ids grow monotonically: a query of the setup whose event is
    // still in flight is older than this one
    val since = spark.range(1).queryExecution.id
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.id > since) relations.add(fsRelations(qe.analyzed).size): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val sites = try jobSitesDuring(stmt(t)) finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    (sites, relations.asScala.toSeq)
  }

  for (dirs <- Seq(21, 41); partitioned <- Seq(false, true); (label, setup, stmt) <- statements) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"
    test(s"$label runs as many jobs at $dirs live dirs as at 1 ($layout)") {
      val oneSites = run(1, partitioned, mor = false, setup, stmt)._1
      val manySites = run(dirs, partitioned, mor = false, setup, stmt)._1
      info(s"$label, $layout: ${oneSites.size} jobs at 1 dir, ${manySites.size} at $dirs")
      assert(oneSites.size == manySites.size,
        s"1 dir: ${oneSites.mkString("; ")} | $dirs dirs: ${manySites.mkString("; ")}")
    }
  }

  // merge-on-read UPDATE and DELETE (a non-key predicate, so DELETE
  // writes positions rather than an equality delete)
  private val morStatements: Seq[(String, String => Unit)] = Seq(
    ("merge-on-read UPDATE", t => sql(s"UPDATE $t SET v = -1 WHERE id = 2")),
    ("merge-on-read DELETE", t => sql(s"DELETE FROM $t WHERE id * 2 = 4")),
    ("merge-on-read MERGE", t => sql(
      s"MERGE INTO $t t USING scan_jobs_keys s ON t.id = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.kv")))

  for (dirs <- Seq(21, 41); partitioned <- Seq(false, true); (label, stmt) <- morStatements) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"
    test(s"$label runs as many jobs at $dirs live dirs as at 1 ($layout)") {
      val oneSites = run(1, partitioned, mor = true, _ => (), stmt)._1
      val manySites = run(dirs, partitioned, mor = true, _ => (), stmt)._1
      info(s"$label, $layout: ${oneSites.size} jobs at 1 dir, ${manySites.size} at $dirs")
      assert(oneSites.size == manySites.size,
        s"1 dir: ${oneSites.mkString("; ")} | $dirs dirs: ${manySites.mkString("; ")}")
    }
  }

  // the merge-on-read statements, whose DELETE predicate is not a key
  // equality: it probes the table in both modes instead of writing an
  // equality delete
  private val dml: Seq[(String, String => Unit)] =
    Seq("SQL UPDATE", "SQL DELETE", "SQL MERGE").zip(morStatements.map(_._2))

  for (partitioned <- Seq(false, true); mor <- Seq(false, true); (label, stmt) <- dml) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"
    val mode = if (mor) WriteMode.MergeOnRead.name else WriteMode.CopyOnWrite.name
    test(s"$label ($mode) scans as many relations per query at 41 live dirs as at 1 ($layout)") {
      val one = run(1, partitioned, mor, _ => (), stmt)._2
      val many = run(41, partitioned, mor, _ => (), stmt)._2
      info(s"$label, $mode, $layout: relations per query $one at 1 dir, $many at 41")
      assert(one.nonEmpty && one == many, s"1 dir: $one | 41 dirs: $many")
    }
  }
}
