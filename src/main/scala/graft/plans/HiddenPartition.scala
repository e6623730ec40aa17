package graft.plans

import graft.sink.SnapshotFileIndex
import graft.template.PartitionField
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Hidden partitioning, READ side (Iceberg's contract: "queries filter
  * on the source column; the engine prunes the transform-derived
  * partitions"). The write side derives directory columns from the
  * declared transform spec (`day(ts)` -> `ts_day` dirs); this optimizer
  * rule closes the loop by AUGMENTING a pushed-down filter with the
  * implied predicate on the directory column, so Spark's own
  * PruneFileSourcePartitions (which runs in a later optimizer batch)
  * skips non-matching partition dirs at planning:
  *
  *   `ts >= TIMESTAMP '2024-01-05 12:00'`
  *      also plans  `ts_day >= DATE '2024-01-05'`
  *
  * Soundness: every added conjunct is IMPLIED by the original one, so
  * the filter's row set is unchanged — the rewrite only enables
  * pruning. Derivations per transform:
  *
  *  - `year`/`month`/`day`/`hour` (timestamp/date sources) and
  *    `truncate` (string prefixes) are MONOTONE non-decreasing, so
  *    ranges derive: `src > v` implies `derived >= T(v)`, `src < v`
  *    implies `derived <= T(v)`, equality maps through;
  *  - `bucket` is not monotone — only equality/IN derive;
  *  - `identity` needs nothing (the filter already names the column).
  *
  * `month`/`hour` compare as fixed-width `yyyy-MM[-dd-HH]` strings,
  * whose lexicographic order matches chronological order for CE years
  * (zero-padded to four digits); the literal transform evaluates with
  * the session time zone — the same zone the write derived dirs under
  * (single-engine contract, as with every timestamp rendering here).
  *
  * The declared spec — current and superseded, so a mixed-epoch table
  * prunes every epoch with its own transform — is on the scan's
  * [[SnapshotFileIndex]] (`specs`), put there when the table built the
  * scan, so the rule reads no file. Each transform applies only where
  * the relation carries its derived column. Other scans (external data)
  * and scans with no spec pass through untouched. The rule runs in the
  * operator-optimization fixed point: added conjuncts are deduplicated
  * semantically, so the second pass is a no-op and the fixed point
  * converges.
  */
object GraftHiddenPartitionRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l @ LogicalRelation(
        fsRel @ HadoopFsRelation(index: SnapshotFileIndex, _, _, _, _, _), _, _, false, _)) =>
      val partCols = fsRel.partitionSchema.fieldNames.toSet
      val spec = index.specs.filter(p => p.transform != "identity" && partCols.contains(p.derivedName))
      if (spec.isEmpty) f
      else {
        val conjuncts = splitAnd(cond)
        val derived = conjuncts
          .flatMap(c => spec.flatMap(p => derive(c, p, l)))
          .foldLeft(Seq.empty[Expression]) { (acc, d) =>
            if (acc.exists(_.semanticEquals(d)) ||
              conjuncts.exists(_.semanticEquals(d))) acc
            else acc :+ d
          }
        if (derived.isEmpty) f
        else Filter((conjuncts ++ derived).reduce(And), l)
      }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitAnd(a) ++ splitAnd(b)
    case other => Seq(other)
  }

  /** One implied conjunct of `c` on `p`'s derived directory column. */
  private def derive(
      c: Expression, p: PartitionField, l: LogicalRelation): Option[Expression] = {
    val dAttr = l.output.collectFirst {
      case a: AttributeReference if a.name == p.derivedName => a
    }.getOrElse(return None)
    def srcAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if a.name == p.column => Some(a)
      case _ => None
    }
    val monotone = Set("year", "month", "day", "hour", "truncate").contains(p.transform)
    def t(a: AttributeReference, lit: Literal): Option[Literal] =
      transformLiteral(p, a.dataType, lit, dAttr.dataType)
    c match {
      case EqualTo(e1, lit: Literal) if lit.value != null && srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(EqualTo(dAttr, _))
      case EqualTo(lit: Literal, e2) if lit.value != null && srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(EqualTo(dAttr, _))
      case EqualNullSafe(e1, lit: Literal) if lit.value != null && srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(EqualTo(dAttr, _))
      case EqualNullSafe(lit: Literal, e2) if lit.value != null && srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(EqualTo(dAttr, _))

      case GreaterThan(e1, lit: Literal) if monotone && lit.value != null &&
          srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(GreaterThanOrEqual(dAttr, _))
      case GreaterThanOrEqual(e1, lit: Literal) if monotone && lit.value != null &&
          srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(GreaterThanOrEqual(dAttr, _))
      case LessThan(e1, lit: Literal) if monotone && lit.value != null &&
          srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(LessThanOrEqual(dAttr, _))
      case LessThanOrEqual(e1, lit: Literal) if monotone && lit.value != null &&
          srcAttr(e1).isDefined =>
        t(srcAttr(e1).get, lit).map(LessThanOrEqual(dAttr, _))
      // literal-first mirrors: `v < src` is `src > v`, etc.
      case GreaterThan(lit: Literal, e2) if monotone && lit.value != null &&
          srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(LessThanOrEqual(dAttr, _))
      case GreaterThanOrEqual(lit: Literal, e2) if monotone && lit.value != null &&
          srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(LessThanOrEqual(dAttr, _))
      case LessThan(lit: Literal, e2) if monotone && lit.value != null &&
          srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(GreaterThanOrEqual(dAttr, _))
      case LessThanOrEqual(lit: Literal, e2) if monotone && lit.value != null &&
          srcAttr(e2).isDefined =>
        t(srcAttr(e2).get, lit).map(GreaterThanOrEqual(dAttr, _))

      case In(e1, vs) if srcAttr(e1).isDefined && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        // null IN-values match nothing, so dropping them keeps the
        // derived list implied by the original predicate
        val a = srcAttr(e1).get
        val lits = vs.collect { case lit: Literal if lit.value != null => lit }
        if (lits.isEmpty) None
        else {
          val xs = lits.map(t(a, _))
          if (xs.exists(_.isEmpty)) None else Some(In(dAttr, xs.flatten.distinct))
        }

      case _ => None
    }
  }

  /** Evaluate the transform over the literal, driver-side, producing a
    * literal of the derived column's scan type. None when the
    * pairing is unsupported or any evaluation fails — the original
    * predicate then simply stands alone (no pruning, full correctness).
    */
  private def transformLiteral(
      p: PartitionField,
      srcType: DataType,
      lit: Literal,
      derivedType: DataType): Option[Literal] =
    try {
      val tz = Some(SQLConf.get.sessionLocalTimeZone)
      def dateish = srcType == TimestampType || srcType == DateType
      val expr: Option[Expression] = p.transform match {
        case "year" if dateish => Some(Year(Cast(lit, DateType, tz)))
        case "month" if dateish =>
          Some(DateFormatClass(Cast(lit, TimestampType, tz), Literal("yyyy-MM"), tz))
        case "day" if dateish => Some(Cast(lit, DateType, tz))
        case "hour" if dateish =>
          Some(DateFormatClass(Cast(lit, TimestampType, tz), Literal("yyyy-MM-dd-HH"), tz))
        case "truncate" if srcType == StringType =>
          Some(Substring(lit, Literal(0), Literal(p.n)))
        case "bucket" =>
          // same expression TableSink writes dirs with (IcebergBucket)
          Some(Pmod(
            BitwiseAnd(graft.functions.IcebergBucketHash(lit), Literal(Int.MaxValue)),
            Literal(p.n)))
        case _ => None
      }
      expr.flatMap { e =>
        val v = e.eval()
        if (v == null) None
        else if (e.dataType == derivedType) Some(Literal.create(v, e.dataType))
        else {
          // the derived column's recorded type can differ from the
          // transform's result type; align the literal or refuse
          val cast = Cast(Literal.create(v, e.dataType), derivedType, tz).eval()
          if (cast == null) None else Some(Literal.create(cast, derivedType))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
