package graft

import graft.functions.{CountIn, DotProduct, IcebergBucketHash, SumSquares}
import graft.plans.NativeVectorMathRule
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the engine's native
  * expressions as SQL functions and installs the HOF-to-native rewrite
  * rule. Activate per session with either
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or `spark.sql.extensions=graft.GraftExtensions` in config — the
  * standard integration shape for a Spark-native library (same
  * mechanism Iceberg's Spark runtime uses for its extensions).
  *
  * Registered SQL surface:
  *  - `dot_product(array<double>, array<double>)` — codegen'd
  *    sequential-fold dot product (VectorMath.scala);
  *  - `sum_squares(array<double>)` — codegen'd sum of squares;
  *  - `iceberg_bucket_hash(col)` — Iceberg-spec murmur3 bucket hash
  *    (IcebergBucket.scala; NOT Spark's hash(): different seed/layout);
  *  - `count_in(array<string>, 'v1', 'v2', ...)` — codegen'd
  *    set-membership counter (CountIn.scala).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(a, b) takes two array<double> arguments")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("sum_squares"),
      new ExpressionInfo(classOf[SumSquares].getCanonicalName, "sum_squares"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "sum_squares(v) takes one array<double> argument")
        SumSquares(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("iceberg_bucket_hash"),
      new ExpressionInfo(classOf[IcebergBucketHash].getCanonicalName, "iceberg_bucket_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "iceberg_bucket_hash(col) takes one argument")
        IcebergBucketHash(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("count_in"),
      new ExpressionInfo(classOf[CountIn].getCanonicalName, "count_in"),
      (args: Seq[Expression]) => {
        require(args.length >= 2,
          "count_in(tokens, 'v1', ...) takes an array column plus string literals")
        val values = args.tail.map { e =>
          require(e.foldable && e.dataType == org.apache.spark.sql.types.StringType,
            s"count_in membership values must be string literals, got $e")
          e.eval().toString
        }
        CountIn(args.head, values)
      }))
    ext.injectOptimizerRule(_ => NativeVectorMathRule)
    // Iceberg-manifest-style data skipping: prune snapshot data dirs
    // whose commit-time column ranges (recorded in each dir's files
    // sidecar, carried on the scan's SnapshotFileIndex) prove a pushed
    // filter unsatisfiable (see plans/RangeStats.scala) — engaged
    // identically on the Scala-API and SQL read paths
    ext.injectOptimizerRule(_ => graft.plans.GraftStatsSkipRule)
    // Hidden partitioning, read side: augment filters on a transform's
    // SOURCE column (ts >= X) with the implied predicate on the derived
    // directory column (ts_day >= date(X)) so partition pruning fires
    // without naming the dir column; the declared spec is on the scan's
    // SnapshotFileIndex (see plans/HiddenPartition.scala)
    ext.injectOptimizerRule(_ => graft.plans.GraftHiddenPartitionRule)
    // SQL front door: inline resolved graft-catalog relations into the
    // native SnapshotTable scan plan (see GraftSqlInlineRule) so
    // `SELECT ... FROM graft.ns.t [VERSION|TIMESTAMP AS OF ...]` plans
    // identically to the Scala API read
    ext.injectResolutionRule(session => new graft.catalog.GraftSqlInlineRule(session))
    // SQL row-level DML: lower resolved UPDATE / MERGE INTO on graft
    // tables onto the copy-on-write engine path (see GraftDmlRule)
    ext.injectResolutionRule(session => new graft.catalog.GraftDmlRule(session))
    // SAVED VIEWS (the reference's named-query surface): Spark 4.1's
    // SQL layer only plans view DDL for the v1 session catalog, so —
    // like Iceberg's extensions — CREATE/DROP/SHOW VIEW on fully
    // qualified graft names are intercepted at the parser, and view
    // reads expand through a resolution rule (see GraftViewSql)
    ext.injectParser((_, delegate) => new graft.catalog.GraftViewSqlParser(delegate))
    ext.injectResolutionRule(session => new graft.catalog.GraftViewRule(session))
  }
}
