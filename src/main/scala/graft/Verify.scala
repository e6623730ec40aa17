package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.Paths
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: run only these queries (local iteration);
    // the driver's 2-arg form runs everything
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the library's standard activation: SQL functions, the
      // HOF-to-native rewrite, and the graft-catalog inline rule the
      // sql_* registry queries resolve through
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver's compare sorts rows with pandas, which crashes on
        // array/map/struct cells (r12: embedding_quantize_int8) — refuse
        // to dump an oracle-keyed result the gate cannot hash
        val nested = Queries.nestedColumns(df.schema)
        if (nested.nonEmpty && SparkEntry.oracleSql.contains(name))
          System.err.println(s"[verify] $name SKIPPED: oracle-keyed output has " +
            s"nested columns ${nested.mkString(", ")} the driver " +
            "compare cannot sort — serialize or explode them")
        else df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    graft.sink.MetadataJson.write(Paths.get(s"$outDir/oracle_sql.json"),
      graft.sink.MetadataJson.strObj(SparkEntry.oracleSql))
    spark.stop()
  }
}
