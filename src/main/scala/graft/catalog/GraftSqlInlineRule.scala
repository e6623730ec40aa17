package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analyzer rule (installed by [[graft.GraftExtensions]]) that INLINES
  * every resolved graft catalog relation into the table's native scan
  * plan — the same metadata-planned, mask-pruned, schema-projected plan
  * `SnapshotTable.read` builds for the Scala API. After inlining, the
  * SQL query and the equivalent DataFrame program are THE SAME logical
  * plan: parquet filter pushdown, partition pruning and whole-stage
  * codegen all apply identically (PlanSpec pins pruning through this
  * path). This is the standard architecture for a table format living
  * behind a DSv2 catalog with a V1 execution core (Delta's
  * DeltaAnalysis does the same fallback-to-V1 rewrite).
  *
  * Relations in WRITE position (the target of INSERT / CTAS) are left
  * as V2 relations — the V1 write fallback consumes them directly.
  */
final class GraftSqlInlineRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // relations in WRITE/row-level-target position, collected from the
    // target subtree (the target can still be alias-wrapped mid-resolution)
    val writeTargets: Set[LogicalPlan] =
      plan.collect {
        case w: V2WriteCommand => w.table
        // row-level commands keep their V2 target too: DELETE pushes its
        // condition to the table's SupportsDelete, never through a scan
        case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable => d.table
        case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable => u.table
        case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable => m.targetTable
      }.flatMap(_.collect { case r: DataSourceV2Relation => r }).toSet
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftSparkTable] && !writeTargets.contains(r) =>
        val inner = r.table.asInstanceOf[GraftSparkTable]
          .dataFrame(spark).queryExecution.analyzed
        // re-label the inner plan's (fresh) attributes with the
        // relation's expr-ids so references elsewhere in the query
        // stay bound; a fresh inner plan per relation keeps self-joins
        // unambiguous
        Project(r.output.zip(inner.output).map { case (o, a) =>
          Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, inner)
    }
  }
}
