package graft.catalog

import java.nio.file.Files

import graft.SparkSpec
import graft.sink.SnapshotTable

/** Spark jobs and the committed snapshot `operation` per SQL DML shape
  * that [[GraftDmlRule]] lowers, on 200 rows in 2 dirs with one subquery
  * key row `(k = 2, kv = -1.0)`. The test names keep each shape's
  * first ceiling, the count it ran when UPDATE and DELETE still had a
  * lowering each; the pin is the count it runs once every scan took
  * its schema from the dirs' sidecars instead of a footer-reading
  * inference job, measured twice on a 4-core local[4] session with the
  * same result (a failing pin prints each job's call site); the
  * operation
  * names the engine path the shape must keep (`delete` for an equality
  * or row-level delete, `update` for a row-level update, `merge` for the
  * merge engine).
  */
class DmlLoweringJobCountSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft_dml_jobs").toString

  private def table(name: String): SnapshotTable = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val t = SnapshotTable(wh, "ns", name)
    t.overwrite((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t.append((101L to 200L).map(i => (i, i * 1.0)).toDF("id", "v"))
    Seq((2L, -1.0)).toDF("k", "kv").createOrReplaceTempView("dml_jobs_keys")
    t
  }

  private val corr = "SELECT 1 FROM dml_jobs_keys s WHERE s.k = t.id"

  // (label, job ceiling, job pin, snapshot operation, statement over
  // table `t` aliased t)
  private val pins: Seq[(String, Int, Int, String, String => String)] = Seq(
    ("UPDATE plain", 10, 5, "update", t => s"UPDATE $t SET v = -1 WHERE id = 2"),
    ("UPDATE IN", 18, 13, "merge",
      t => s"UPDATE $t SET v = -1 WHERE id IN (SELECT k FROM dml_jobs_keys)"),
    ("UPDATE IN + rest", 18, 13, "merge",
      t => s"UPDATE $t SET v = -1 WHERE id IN (SELECT k FROM dml_jobs_keys) AND v > 0"),
    ("UPDATE corr EXISTS", 18, 13, "merge",
      t => s"UPDATE $t t SET v = -1 WHERE EXISTS ($corr)"),
    ("UPDATE corr NOT EXISTS", 20, 13, "merge",
      t => s"UPDATE $t t SET v = -1 WHERE NOT EXISTS ($corr)"),
    ("UPDATE NOT IN", 22, 15, "merge",
      t => s"UPDATE $t SET v = -1 WHERE id NOT IN (SELECT k FROM dml_jobs_keys)"),
    ("UPDATE NOT IN (2 col)", 19, 12, "update",
      t => s"UPDATE $t SET v = -1 WHERE (id, v) NOT IN (SELECT k, kv FROM dml_jobs_keys)"),
    ("UPDATE corr scalar max", 27, 18, "merge",
      t => s"UPDATE $t t SET v = (SELECT max(kv) FROM dml_jobs_keys s WHERE s.k = t.id)"),
    ("DELETE non-pushable", 10, 5, "delete", t => s"DELETE FROM $t WHERE id * 2 = 4"),
    ("DELETE IN", 7, 4, "delete",
      t => s"DELETE FROM $t WHERE id IN (SELECT k FROM dml_jobs_keys)"),
    ("DELETE IN + rest", 18, 13, "merge",
      t => s"DELETE FROM $t WHERE id IN (SELECT k FROM dml_jobs_keys) AND v > 0"),
    ("DELETE corr NOT EXISTS", 20, 13, "merge",
      t => s"DELETE FROM $t t WHERE NOT EXISTS ($corr)"),
    ("DELETE NOT IN", 22, 15, "merge",
      t => s"DELETE FROM $t WHERE id NOT IN (SELECT k FROM dml_jobs_keys)"),
    ("DELETE NOT IN (2 col)", 21, 14, "delete",
      t => s"DELETE FROM $t WHERE (id, v) NOT IN (SELECT k, kv FROM dml_jobs_keys)"),
    ("DELETE theta EXISTS", 16, 11, "delete",
      t => s"DELETE FROM $t t WHERE EXISTS ($corr AND s.kv < t.v)"),
    ("MERGE matched", 18, 13, "merge",
      t => s"MERGE INTO $t t USING dml_jobs_keys s ON t.id = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.kv"))

  pins.zipWithIndex.foreach { case ((label, ceiling, bound, operation, sql), i) =>
    test(s"$label runs at most $ceiling jobs and commits a $operation") {
      val t = table(s"j$i")
      val sites = jobSitesDuring(spark.sql(sql(s"graft.ns.j$i")))
      val jobs = sites.size
      info(s"$label: $jobs jobs")
      assert(t.currentSnapshot.get.operation == operation)
      assert(jobs <= bound, s"$label ran $jobs jobs, pinned at $bound: ${sites.mkString("; ")}")
    }
  }
}
