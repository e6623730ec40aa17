package graft.sink

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** Every scan of a dir the engine wrote takes its schema from the
  * metadata (the columns sidecar; the fixed row-identity schema for a
  * positional delete file) instead of inferring it from a footer. The
  * data schema handed to the reader must be exactly what inference would
  * find, minus the partition columns, which take the table's type rather
  * than one inferred from the paths; a dir without a typed sidecar still
  * infers its data schema.
  */
class KnownSchemaReadSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_known_schema").toString, "ns", "t")

  private def relations(df: DataFrame): Seq[HadoopFsRelation] =
    fsRelations(df.queryExecution.analyzed)

  /** One batch of every type the three formats store, keyed by `ids`. */
  private def batch(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, i.toInt)).toDF("id", "n")
      .select(col("id"),
        col("n").cast("tinyint").as("b"), col("n").cast("smallint").as("s"),
        col("n").as("i"), (col("n") * 1.5).as("d"), col("n").cast("decimal(10,2)").as("dec"),
        col("id").cast("string").as("str"), lit(java.sql.Date.valueOf("2024-01-10")).as("dt"),
        lit(java.sql.Timestamp.valueOf("2024-01-10 10:00:00")).as("ts"),
        (col("n") % 2 === 0).as("flag"),
        org.apache.spark.sql.functions.array(col("n"), col("n") + 1).as("arr"),
        org.apache.spark.sql.functions.struct(
          when(col("n") > 0, col("n")).as("x"), when(col("n") > 0, col("id").cast("string")).as("y"))
          .as("st"),
        // NOT NULL struct fields: the table type keeps the NOT NULL, every
        // scan reads the fields nullable
        org.apache.spark.sql.functions.struct(col("n").as("x"), col("id").cast("string").as("y"))
          .as("nn"),
        (col("n") % 2).cast("string").as("p"))

  /** Each scan relation of `t.read` against a footer read of its dirs:
    * equal data schema, and the inferred partition columns typed as the
    * table types them.
    */
  private def assertSchemasKnown(t: SnapshotTable, format: String, scans: Int): Unit = {
    val rels = relations(t.read(spark))
    assert(rels.size == scans, rels.map(_.location.rootPaths.mkString(",")))
    rels.foreach { rel =>
      val roots = rel.location.rootPaths.map(_.toUri.getPath)
      val inferred = spark.read.format(format).load(roots: _*)
      val parts = relations(inferred).head.partitionSchema
      assert(rel.dataSchema ==
        StructType(inferred.schema.filterNot(f => parts.fieldNames.contains(f.name))),
        s"data schema of ${roots.mkString(",")}")
      val tableTypes = t.schema.map(c => c.name -> DataType.fromDDL(c.dataType)).toMap
      assert(rel.partitionSchema == StructType(parts.map(f => f.copy(dataType = tableTypes(f.name)))),
        s"partition schema of ${roots.mkString(",")}")
    }
  }

  for (format <- Seq("parquet", "orc", "avro"); partitioned <- Seq(false, true)) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"
    test(s"$format, $layout: each scan's given schema is the inferred one, minus partitions") {
      val t = freshTable()
      val parts = if (partitioned) Seq("p") else Nil
      t.overwrite(batch(1L to 4L), partitionCols = parts, format = format)
      // a dir written before a type promotion, and one after
      t.updateColumnType(spark, "i", "BIGINT")
      t.append(batch(5L to 8L).withColumn("i", col("i").cast("bigint")),
        partitionCols = parts, format = format)
      // dirs written before a rename keep the old physical name
      t.renameColumn(spark, "str", "label")
      t.append(batch(9L to 12L).withColumnRenamed("str", "label"),
        partitionCols = parts, format = format)
      // an equality-delete dir, and for parquet a positional-delete dir
      t.deleteWhere(Seq(3L).toDF("id"), Seq("id"))
      if (format == "parquet")
        t.delete(spark, Rows.Where(col("id") === 6L), WriteMode.MergeOnRead)
      val deletes = t.currentSnapshot.get.deletes
      assert(deletes.map(_.positional) ==
        (if (format == "parquet") Seq(false, true) else Seq(false)))
      // three data dirs, one equality-delete file scoped to each, and
      // for parquet one positional file scoped to the dir holding id 6
      assertSchemasKnown(t, format, 3 + 3 + (if (format == "parquet") 1 else 0))
      assert(jobsDuring(t.read(spark)) == 0, "planning the read infers no schema")
      val rows = t.read(spark).select("id", "i", "label", "b").as[(Long, Long, String, Int)]
        .collect().sortBy(_._1).toSeq
      val gone = if (format == "parquet") Set(3L, 6L) else Set(3L)
      assert(rows == (1L to 12L).filterNot(gone).map(i => (i, i, i.toString, i.toInt)))
      assert(t.read(spark).select("id", "nn.x", "nn.y").as[(Long, Int, String)]
        .collect().sortBy(_._1).toSeq == (1L to 12L).filterNot(gone).map(i => (i, i.toInt, i.toString)))
      val changes = t.readChangelog(spark, 1L, t.currentSnapshot.get.id)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(changes == Map("insert" -> 8L, "delete" -> gone.size.toLong))
    }
  }

  test("a dir without a sidecar, or with an untyped one, reads through inference") {
    val t = freshTable()
    t.overwrite(batch(1L to 4L), partitionCols = Seq("p"))
    t.append(batch(5L to 8L), partitionCols = Seq("p"))
    t.append(batch(9L to 12L))
    val before = t.read(spark).collect().map(_.toString).sorted.toSeq
    val Seq(d1, d2, _) = t.currentSnapshot.get.dataDirs
    Files.delete(Paths.get(d1, ".graft-columns.json"))
    val untyped = MetadataJson.read(Paths.get(d2, ".graft-columns.json")).get.asArr.map { v =>
      val o = v.asObj
      MetadataJson.obj("id" -> o("id"), "name" -> o("name"))
    }
    MetadataJson.write(Paths.get(d2, ".graft-columns.json"), MetadataJson.JArr(untyped))
    assertSchemasKnown(t, "parquet", 3)
    assert(jobsDuring(t.read(spark)) == 2, "the two forged dirs infer their schema")
    assert(t.read(spark).collect().map(_.toString).sorted.toSeq == before)
  }

  test("legacy sidecars of a column named `type` are untyped: their dirs never coalesce") {
    val t = freshTable()
    t.overwrite(Seq(1L).toDF("type"))
    t.append(Seq(2L).toDF("type"))
    // forge pre-type sidecars, as a dir written before the type field has
    t.currentSnapshot.get.dataDirs.foreach { d =>
      MetadataJson.write(Paths.get(d, ".graft-columns.json"),
        MetadataJson.JArr(Seq(MetadataJson.obj("id" -> MetadataJson.num(1L),
          "name" -> MetadataJson.JStr("type")))))
    }
    val df = t.read(spark)
    assert(relations(df).size == 2,
      "an untyped dir's physical types come from its own footer, never a neighbour's")
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("a string partition of numeric-looking values keeps its type, values and sound skipping") {
    val t = freshTable()
    t.overwrite(Seq((1L, "007"), (2L, "10")).toDF("id", "code"), partitionCols = Seq("code"))
    t.append(Seq((3L, "10"), (4L, "11")).toDF("id", "code"), partitionCols = Seq("code"))
    val df = t.read(spark)
    assert(df.schema("code").dataType.sql == "STRING")
    // the partition values read back as written, leading zeros kept
    assert(df.select("id", "code").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "007"), (2L, "10"), (3L, "10"), (4L, "11")))
    // the partition column has the table's (string) type in each scan
    relations(df).foreach(r => assert(r.partitionSchema("code").dataType.sql == "STRING"))
    def ids(q: DataFrame) = q.select("id").as[Long].collect().sorted.toSeq
    assert(ids(df.filter(col("code") === "10")) == Seq(2L, 3L))
    assert(ids(df.filter(col("code") === "007")) == Seq(1L))
    assert(ids(df.filter(col("code") > "10")) == Seq(4L))
    assert(ids(df.filter(col("code") === "11")) == Seq(4L))
  }
}
