package graft.catalog

import java.nio.file.Files

import graft.SparkSpec
import graft.sink.SnapshotTable
import org.apache.spark.sql.functions.{col, lit}

/** UPDATE and DELETE share one lowering per subquery shape, so for every
  * shape the rows an UPDATE flags and the rows a DELETE removes must both
  * be exactly the rows Spark's own `SELECT ... WHERE <same condition>`
  * returns on a plain view of the same data. Seeded targets and sources
  * carry NULLs on both sides; the first round of each shape runs against
  * an empty subquery.
  */
class DmlVerbParitySpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft_dml_parity").toString

  // conditions over the target `t` (rid, a, b) and the source view par_s (k1, k2)
  private val shapes: Seq[(String, String)] = Seq(
    "IN" -> "a IN (SELECT k1 FROM par_s)",
    "IN + residual" -> "a IN (SELECT k1 FROM par_s) AND b > 1",
    "correlated IN" -> "a IN (SELECT s.k1 FROM par_s s WHERE s.k2 = t.b)",
    "correlated EXISTS" -> "EXISTS (SELECT 1 FROM par_s s WHERE s.k1 = t.a)",
    "correlated NOT EXISTS" -> "NOT EXISTS (SELECT 1 FROM par_s s WHERE s.k1 = t.a)",
    "NOT IN" -> "a NOT IN (SELECT k1 FROM par_s)",
    "two-column NOT IN" -> "(a, b) NOT IN (SELECT k1, k2 FROM par_s)",
    "uncorrelated scalar" -> "b >= (SELECT max(k2) FROM par_s)",
    "uncorrelated EXISTS" -> "EXISTS (SELECT 1 FROM par_s WHERE k1 > 1) AND a < 2",
    // the subquery's two outputs are both named k1
    "two-column IN over same-named outputs" ->
      "(a, b) IN (SELECT x.k1, y.k1 FROM par_s x CROSS JOIN par_s y)",
    "two-column IN over same-named outputs + residual" ->
      "(a, b) IN (SELECT x.k1, y.k1 FROM par_s x CROSS JOIN par_s y) AND rid > 3")

  shapes.zipWithIndex.foreach { case ((label, cond), i) =>
    test(s"$label: DELETE removes and UPDATE flags exactly the rows Spark selects") {
      spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val rng = new scala.util.Random(20261017L + i)
      def cell(): java.lang.Long =
        if (rng.nextInt(5) == 0) null else java.lang.Long.valueOf(rng.nextInt(4).toLong)
      for (round <- 0 until 4) {
        val rows = Seq.tabulate(16)(r => (r.toLong, cell(), cell()))
        val srcRows = Seq.fill(if (round == 0) 0 else 2 + rng.nextInt(4))((cell(), cell()))
        val target = rows.toDF("rid", "a", "b")
        target.createOrReplaceTempView("par_t")
        srcRows.toDF("k1", "k2").createOrReplaceTempView("par_s")
        val expected = spark.sql(s"SELECT rid FROM par_t t WHERE $cond")
          .as[Long].collect().sorted.toSeq
        val where = s"round $round (src=$srcRows, rows=$rows)"

        val d = SnapshotTable(wh, "ns", s"par${i}_${round}_d")
        d.overwrite(target): Unit
        spark.sql(s"DELETE FROM graft.ns.par${i}_${round}_d t WHERE $cond")
        val survivors = d.read(spark).select("rid").as[Long].collect().sorted.toSeq
        assert(survivors == rows.map(_._1).filterNot(expected.contains),
          s"DELETE $where: expected to remove $expected, survivors $survivors")

        val u = SnapshotTable(wh, "ns", s"par${i}_${round}_u")
        u.overwrite(target.withColumn("flag", lit(0L))): Unit
        spark.sql(s"UPDATE graft.ns.par${i}_${round}_u t SET flag = 1 WHERE $cond")
        val flagged = u.read(spark).filter(col("flag") === 1L)
          .select("rid").as[Long].collect().sorted.toSeq
        assert(flagged == expected, s"UPDATE $where: expected $expected, flagged $flagged")
        assert(u.read(spark).count() == rows.size.toLong, s"UPDATE $where changed the row count")
      }
    }
  }
}
