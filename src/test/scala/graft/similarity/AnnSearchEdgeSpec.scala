package graft.similarity

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Edge cases of a search served from a persisted IVF-PQ or PQ index,
  * with the queries as a local batch: an empty batch, a query with a
  * null embedding, two rows under one query id, a query whose id is a
  * corpus `vec_id`, and (IVF-PQ) `nprobe` at or past the cell count.
  * Every expected row is the one the search returned when its lookup
  * table, probes and query norms were still Spark aggregations, so a
  * rewrite of the query side must reproduce them exactly.
  */
class AnnSearchEdgeSpec extends SparkSpec {

  import spark.implicits._

  private lazy val corpus36: DataFrame = {
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private lazy val ivfPqWh: String = {
    val wh = Files.createTempDirectory("graft_ann_edge_ivfpq").toString
    Similarity.ivfPqIndexPersist(corpus36, wh, nCells = 3, m = 2, codes = 8, iters = 2, dims = 4)
    wh
  }

  private lazy val pqWh: String = {
    val wh = Files.createTempDirectory("graft_ann_edge_pq").toString
    Similarity.pqIndexPersist(corpus36, wh, m = 2, codes = 4, iters = 2, dims = 4)
    wh
  }

  private def ivfPq(q: DataFrame, nprobe: Int = 2): DataFrame =
    Similarity.ivfPqTopKPersisted(q, ivfPqWh, k = 3, nprobe = nprobe, m = 2, dims = 4)

  private def pq(q: DataFrame): DataFrame =
    Similarity.pqTopKPersisted(q, pqWh, k = 3, m = 2, dims = 4)

  private val qa = Seq(0.9f, 0.5f, 0.1f, 0.0f)
  private val qb = Seq(0.1f, 0.7f, 0.6f, 0.3f)
  private val v0 = Seq(1.2f, -0.3f, 0.4f, 0.1f)

  private def batch(rows: (Long, Option[Seq[Float]])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** `query_id,vec_id,cos,rank` per result row, sorted. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)},${r.getInt(3)}")
      .toSeq.sorted

  private val searches: Seq[(String, DataFrame => DataFrame)] =
    Seq("IVF-PQ" -> (q => ivfPq(q)), "PQ" -> (q => pq(q)))

  searches.foreach { case (name, search) =>
    test(s"$name persisted: an empty batch returns no rows under the search schema") {
      val out = search(batch())
      assert(out.collect().isEmpty)
      assert(out.schema == search(batch(100L -> Some(qa))).schema)
    }

    test(s"$name persisted: a query with a null embedding gets no rows, the others are unchanged") {
      val out = rows(search(batch(100L -> Some(qa), 101L -> None)))
      assert(!out.exists(_.startsWith("101,")), out.mkString("; "))
      assert(out == rows(search(batch(100L -> Some(qa)))))
      assert(out == Pinned(s"$name single"), out.mkString("\"", "\", \"", "\""))
    }

    test(s"$name persisted: two rows under one query id keep the rows they always had") {
      val out = rows(search(batch(100L -> Some(qa), 100L -> Some(qb))))
      assert(out == Pinned(s"$name duplicate"), out.mkString("\"", "\", \"", "\""))
    }

    test(s"$name persisted: a query whose id is a corpus vec_id never meets itself") {
      val out = rows(search(batch(0L -> Some(v0))))
      assert(!out.exists(_.split(",")(1) == "0"), out.mkString("; "))
      assert(out == Pinned(s"$name self"), out.mkString("\"", "\", \"", "\""))
    }
  }

  test("IVF-PQ persisted: nprobe at or past the cell count probes every cell once") {
    val q = batch(100L -> Some(qa), 102L -> Some(qb))
    val all = rows(ivfPq(q, nprobe = 3))
    assert(rows(ivfPq(q, nprobe = 7)) == all)
    assert(all == Pinned("IVF-PQ full probe"), all.mkString("\"", "\", \"", "\""))
  }

  private val Pinned: Map[String, Seq[String]] = Map(
    "IVF-PQ single" -> Seq("100,23,1.0663,1", "100,30,0.9904,3", "100,33,1.031,2"),
    "IVF-PQ duplicate" -> Seq("100,1,1.3298,1", "100,2,1.2983,2", "100,33,1.2872,3"),
    "IVF-PQ self" -> Seq("0,1,0.962,1", "0,23,0.6833,3", "0,30,0.6925,2"),
    "IVF-PQ full probe" -> Seq("100,1,1.1044,1", "100,23,1.0663,2", "100,33,1.031,3",
      "102,11,0.928,3", "102,2,1.0373,2", "102,5,1.0827,1"),
    "PQ single" -> Seq("100,1,1.5296,1", "100,2,1.0024,3", "100,8,1.2496,2"),
    "PQ duplicate" -> Seq("100,1,2.1502,1", "100,2,1.7237,2", "100,8,1.2668,3"),
    "PQ self" -> Seq("0,1,1.153,1", "0,15,0.9037,2", "0,23,0.8751,3"))
}
