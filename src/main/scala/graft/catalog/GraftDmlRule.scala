package graft.catalog

import graft.sink.{Merge, Rows, SnapshotTable, WriteMode}
import org.apache.spark.sql.{Column, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Exists, Expression, InSubquery, ListQuery}
import org.apache.spark.sql.catalyst.expressions.{Not, OuterReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** Analyzer rule (installed by [[graft.GraftExtensions]]) that lowers
  * SQL row-level DML on graft-catalog tables — `UPDATE`, `MERGE INTO`
  * and the DELETEs the DSv2 `SupportsDelete` push-down (merge-on-read
  * equality deletes) cannot carry — onto [[SnapshotTable.update]],
  * [[SnapshotTable.merge]] and [[SnapshotTable.delete]], in the
  * [[WriteMode]] the verb's `write.<verb>.mode` property declares.
  *
  * Spark's own row-level machinery requires `SupportsRowLevelOperations`
  * (a full group-based rewrite protocol); this rule intercepts the
  * RESOLVED-but-unrewritten commands first — the same pattern Delta's
  * DeltaAnalysis uses for its V1 execution core. Supported surface, by
  * construction of the engine path:
  *  - `UPDATE t SET c = expr, ... [WHERE cond]` and `DELETE FROM t WHERE
  *    cond` — arbitrary expressions over the target row, uncorrelated
  *    scalar and EXISTS subqueries (evaluated once per statement), and
  *    one subquery conjunct [[lowerRowLevel]] lowers onto a join;
  *  - `MERGE INTO t USING s ON` equality conjunctions of target and
  *    source columns, with any number of ordered `WHEN MATCHED
  *    [AND cond] THEN UPDATE SET ... | UPDATE SET * | DELETE`,
  *    `WHEN NOT MATCHED [AND cond] THEN INSERT ... | INSERT *` and
  *    `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... |
  *    DELETE` clauses (each list first-true-wins per row, SQL
  *    clause-order semantics).
  * Everything else (non-equality ON, the subquery shapes [[xlate]]'s
  * error lists as unsupported, schema-evolving MERGE) raises a clear
  * unsupported error instead of a rewrite that silently diverges from
  * SQL semantics.
  */
final class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftRel(target).isDefined =>
      lowerRowLevel(target, condition, Some(assignments))

    // DELETE FROM t with a condition the DSv2 SupportsDelete filter API
    // cannot carry: a subquery, or a non-source-translatable predicate
    // (`value * 2 > 500`, function calls, …). Simple attribute/literal
    // predicates stay on the push-down (merge-on-read equality delete).
    // A predicate our conservative translatability check misjudges as
    // non-pushable still deletes CORRECTLY — it just pays the COW write
    // instead of the O(keys) delete file.
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftRel(target).isDefined &&
          (condition.exists(_.isInstanceOf[SubqueryExpression]) ||
            !pushableDelete(condition)) =>
      lowerRowLevel(target, Some(condition), None)

    case m: MergeIntoTable if m.resolved && graftRel(m.targetTable).isDefined =>
      lowerMerge(m)
  }

  /** The one lowering of UPDATE (`assignments` defined) and DELETE (none):
    * the verb only picks the action — `Merge.Update(sets)` or
    * `Merge.Delete` — and the `write.<verb>.mode` property, and every
    * subquery arm ([[extractSubqueryArm]]) lowers the same way for both.
    * Never a driver-side key collect: at 100 TB the subquery result stays
    * distributed. Verb-specific are only a DELETE of pure key membership
    * (an equality delete) and each verb's fallback when the key arms
    * decline: theta-EXISTS for DELETE, a correlated scalar assignment for
    * UPDATE. Anything left evaluates its statement-level subqueries at
    * run time; [[xlate]] rejects the forms it cannot lift.
    */
  private def lowerRowLevel(
      target: LogicalPlan,
      condition: Option[Expression],
      assignments: Option[Seq[Assignment]]): LogicalPlan = {
    val verb = if (assignments.isDefined) "UPDATE" else "DELETE"
    val t = graftTable(target, verb)
    val tSet = target.outputSet
    val modeProperty = s"write.${verb.toLowerCase}.mode"
    // the action and a condition over the merge frame (target `__t`,
    // source `sSet`), or over the plain target frame when sSet is empty
    def action(sSet: AttributeSet): Merge.Matched =
      assignments.fold[Merge.Matched](Merge.Delete)(as => Merge.Update(sets(as, verb, tSet, sSet)))
    def where(c: Option[Expression], sSet: AttributeSet) = c.map(xlate(_, tSet, sSet))
    val plain = AttributeSet.empty
    condition.flatMap(extractSubqueryArm(_, tSet)) match {
      // DELETE of pure key membership (IN, or correlated EXISTS whose
      // correlation is the whole condition): the SAME merge-on-read
      // contract a literal key list gets — the distinct keys become the
      // equality-delete file, no data file rewritten
      case Some((SemiArm, keys, srcPlan, None)) if assignments.isEmpty =>
        GraftDeleteInCommand(t.snapTable, srcPlan, keys)
      // IN / correlated EXISTS: the subquery's distinct keys become the
      // merge source, the IN / correlation equalities the key semi-join
      // the detection runs broadcast + key-pruned, and residual conjuncts
      // ride as the matched clause's condition
      case Some((SemiArm, keys, srcPlan, rest)) =>
        val sSet = srcPlan.outputSet
        GraftMergeCommand(t.snapTable, srcPlan, keys,
          Seq(Merge.WhenMatched(action(sSet), where(rest, sSet))), Nil,
          modeProperty = modeProperty)
      // correlated NOT EXISTS: the inverted detection — exactly MERGE's
      // third arm (WHEN NOT MATCHED BY SOURCE), an anti-join of the
      // broadcast keys. NULL-keyed target rows are touched: no inner row
      // can equal NULL, so NOT EXISTS is true for them, and the anti-join
      // keeps them too
      case Some((AntiArm, keys, srcPlan, rest)) =>
        val sSet = srcPlan.outputSet
        GraftMergeCommand(t.snapTable, srcPlan, keys, Nil, Nil,
          Seq(Merge.WhenNotMatchedBySource(action(sSet), where(rest, sSet))), modeProperty)
      // uncorrelated NOT IN: null-aware semantics branch at RUN time, so
      // the action and residual stay over the plain target frame, which
      // both the row-level write and the merge (whose source holds only
      // `__gkeyN` columns) resolve
      case Some((NotInArm, keys, srcPlan, rest)) =>
        GraftNotInCommand(t.snapTable, srcPlan, keys, action(plain), where(rest, plain),
          modeProperty)
      case Some((NotInMultiArm, keys, srcPlan, rest)) =>
        GraftNotInMultiCommand(t.snapTable, srcPlan, keys, action(plain), where(rest, plain),
          modeProperty)
      // the key arms declined: each verb tries its own join shape first
      case None =>
        val lowered = assignments match {
          case Some(as) => lowerCorrScalarUpdate(t, as, condition, tSet, modeProperty)
          case None => condition.flatMap(lowerThetaExistsDelete(t, _, tSet, modeProperty))
        }
        lowered.getOrElse(
          GraftRowLevelCommand(t.snapTable, where(condition, plain), action(plain), modeProperty))
    }
  }

  /** Conservative mirror of Spark's V2 filter translatability: the
    * shapes `DataSourceV2Strategy.translateFilterV2` accepts (attribute
    * vs literal comparisons, literal IN, null tests, string prefix/
    * suffix/contains, boolean combinators). Anything else — arithmetic,
    * function calls, casts — fails the DSv2 push-down at planning with
    * an unhelpful error, so those DELETEs route to the COW path
    * instead. Misjudging pushable-as-not costs only the write shape
    * (COW vs delete file), never correctness.
    */
  private def pushableDelete(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    // this rule runs at ANALYSIS time, before ConstantFolding: a type-
    // coerced literal is still Cast(Literal) here (e.g. `user_id IN
    // (101, ...)` against a bigint column). `foldable` is the right
    // test — exactly those expressions are literals by push-down time.
    // The ATTRIBUTE side tolerates exactly the WIDENING numeric casts
    // type coercion inserts (int column vs bigint literal wraps the
    // COLUMN too): Spark's UnwrapCastInBinaryComparison strips those
    // before the V2 filter translation, so they push fine. Any other
    // cast around the column defeats the translation → COW.
    import org.apache.spark.sql.types._
    def widening(from: DataType, to: DataType): Boolean = {
      val order: Seq[DataType] =
        Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
      val (f, t) = (order.indexOf(from), order.indexOf(to))
      (f >= 0 && t >= 0 && f <= t) || from == to ||
        (from.isInstanceOf[DecimalType] && to.isInstanceOf[DecimalType])
    }
    def attrSide(e: Expression): Boolean = e match {
      case _: AttributeReference => true
      case c: Cast => c.child.isInstanceOf[AttributeReference] &&
        widening(c.child.dataType, c.dataType)
      case _ => false
    }
    def al(a: Expression, b: Expression) =
      (attrSide(a) && b.foldable) || (a.foldable && attrSide(b))
    e match {
      case And(l, r) => pushableDelete(l) && pushableDelete(r)
      case Or(l, r) => pushableDelete(l) && pushableDelete(r)
      case Not(c) => pushableDelete(c)
      case EqualTo(a, b) => al(a, b)
      case EqualNullSafe(a, b) => al(a, b)
      case GreaterThan(a, b) => al(a, b)
      case GreaterThanOrEqual(a, b) => al(a, b)
      case LessThan(a, b) => al(a, b)
      case LessThanOrEqual(a, b) => al(a, b)
      case In(a, list) => attrSide(a) && list.forall(_.foldable)
      case InSet(a, _) => attrSide(a)
      case IsNull(_: AttributeReference) => true
      case IsNotNull(_: AttributeReference) => true
      case StartsWith(a, b) => al(a, b)
      case EndsWith(a, b) => al(a, b)
      case Contains(a, b) => al(a, b)
      case _: Literal => true
      case _ => false
    }
  }

  /** The one conjunct of `cond` a join could lower — a `[NOT] IN
    * (SELECT ...)` or a correlated `[NOT] EXISTS` — and the other
    * conjuncts recombined; None unless there is exactly one. Scalar and
    * uncorrelated-EXISTS conjuncts are not counted: they stay in the rest
    * and defer through [[xlate]]'s run-time-literal machinery.
    */
  private def subqueryConjunct(cond: Expression): Option[(Expression, Option[Expression])] = {
    val arms = splitConj(cond)
    def lowerable(e: Expression): Boolean = e.exists {
      case _: ListQuery => true
      case ex: Exists => ex.outerAttrs.nonEmpty
      case _ => false
    }
    arms.filter(lowerable) match {
      case Seq(arm) => Some((arm, arms.filterNot(_ eq arm).reduceOption(And)))
      case _ => None
    }
  }

  /** Decompose a DML condition's conjunction: if its one subquery
    * conjunct ([[subqueryConjunct]]) lowers as a key JOIN — an `IN
    * (SELECT ...)` over plain target columns (correlated or not), an
    * uncorrelated `NOT IN (SELECT ...)` over plain target columns, or a
    * correlated `[NOT] EXISTS` whose correlation predicates are plain
    * target-column = inner-column equalities — return (arm kind,
    * target-key -> source-key pairs, DISTINCT'd decorrelated key plan,
    * the remaining conjuncts recombined). The DISTINCT makes the join
    * keys unique, which both matches IN/EXISTS semantics exactly and
    * satisfies the MERGE cardinality rule (every key pair equates a
    * target column, so a target row matches at most ONE distinct source
    * tuple). Several subquery conjuncts, or correlation that is not all
    * equalities, decline (None): the verb's fallback in
    * [[lowerRowLevel]] then tries its own shape, and [[xlate]] rejects
    * the rest with the unsupported error.
    */
  private def extractSubqueryArm(
      cond: Expression, tSet: AttributeSet)
      : Option[(ArmKind, Seq[(String, String)], LogicalPlan, Option[Expression])] =
    subqueryConjunct(cond).flatMap { case (arm, rest) =>
      def targetAttrs(values: Seq[Expression], width: Int): Boolean =
        values.size == width && values.forall {
          case a: AttributeReference => tSet.contains(a)
          case _ => false
        }
      def attrs(values: Seq[Expression]) = values.map(_.asInstanceOf[Attribute])
      // alias every key column to a fresh stable name: inner attrs from
      // different relations (or one relation joined to itself) may
      // collide on name, and the engine maps keys by NAME across the
      // source frame
      def build(kind: ArmKind, pairs: Seq[(Attribute, Expression)], child: LogicalPlan) = {
        val (keys, aliased) = keyAliases(pairs)
        (kind, keys, Distinct(Project(aliased, child)), rest)
      }
      arm match {
        // IN: uncorrelated, or correlated — `t.k IN (SELECT x FROM s
        // WHERE s.g = t.g ...)`, where the IN-match columns and the
        // correlation equalities combine into one semi-join key set
        case InSubquery(values, lq: ListQuery)
            if lq.plan.resolved && targetAttrs(values, lq.plan.output.size) =>
          if (lq.outerAttrs.isEmpty)
            Some(build(SemiArm, attrs(values).zip(lq.plan.output), lq.plan))
          else for {
            (corr, child) <- equiDecorrelate(lq.plan, tSet)
            inAttrs <- resolveThrough(lq.plan, lq.plan.output, child)
          } yield build(SemiArm, attrs(values).zip(inAttrs) ++ corr, child)
        // uncorrelated NOT IN: the null-aware shape. The extractor only
        // pairs the key columns; the command owns the run-time semantics
        // (single column: GraftNotInCommand's three-way branch; several:
        // GraftNotInMultiCommand's null-mask decomposition into equi
        // anti-joins — never a nested-loop join)
        case Not(InSubquery(values, lq: ListQuery))
            if lq.outerAttrs.isEmpty && lq.plan.resolved &&
              targetAttrs(values, lq.plan.output.size) =>
          Some(build(if (values.size == 1) NotInArm else NotInMultiArm,
            attrs(values).zip(lq.plan.output), lq.plan))
        // correlated EXISTS → semi-join on the correlation equalities
        case ex: Exists if ex.outerAttrs.nonEmpty && ex.plan.resolved =>
          equiDecorrelate(ex.plan, tSet).map { case (corr, child) => build(SemiArm, corr, child) }
        // correlated NOT EXISTS → anti-join on the correlation equalities
        case Not(ex: Exists) if ex.outerAttrs.nonEmpty && ex.plan.resolved =>
          equiDecorrelate(ex.plan, tSet).map { case (corr, child) => build(AntiArm, corr, child) }
        case _ => None
      }
    }

  /** Each (target column, inner key) pair's inner key aliased to the
    * source key name `__gkey0`, `__gkey1`, ...; returns the target ->
    * source key names and the aliases.
    */
  private def keyAliases(pairs: Seq[(Attribute, Expression)])
      : (Seq[(String, String)], Seq[Alias]) = {
    val aliased = pairs.zipWithIndex.map { case ((_, a), i) => Alias(a, s"__gkey$i")() }
    (pairs.map(_._1.name).zip(aliased.map(_.name)), aliased)
  }

  /** `UPDATE t SET x = (SELECT agg(...) FROM s WHERE s.k = t.k) ...` —
    * a correlated SCALAR subquery in an assignment. Classic Kim
    * decorrelation: the global aggregate over the correlated filter
    * becomes a PER-KEY aggregate (grouped on the correlation columns,
    * which also makes the merge keys unique by construction), the
    * statement lowers onto the COW/MOR MERGE with the subquery node
    * substituted by the source's aggregate column in the matched arm —
    * and by the aggregate's EMPTY-GROUP value in a WHEN NOT MATCHED BY
    * SOURCE arm, because SQL gives keyless rows the empty-subquery
    * scalar and a semi-join alone would silently skip them. That value
    * is NULL for max/min/sum/avg but 0 for COUNT — the classic
    * count-bug — so the count arm replays the subquery's output
    * expression over a 0 literal (any Alias/Cast wrapper applies to it
    * exactly as it would to the aggregate); other aggregates keep the
    * actionable unsupported error rather than a silently-wrong rewrite.
    */
  private def lowerCorrScalarUpdate(
      t: GraftSparkTable,
      assignments: Seq[Assignment],
      condition: Option[Expression],
      tSet: AttributeSet,
      modeProperty: String): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, AggregateExpression, Count, Max, Min, Sum}
    val subs = assignments.flatMap(_.value.collect {
      case s: ScalarSubquery if s.outerAttrs.nonEmpty => s
    }).distinct
    subs match {
      case Seq(sub) if sub.plan.resolved &&
          // the WHERE must carry no subquery of its own: combining a
          // lowered condition arm with a lowered assignment would need
          // two different merge sources
          condition.forall(!_.exists(_.isInstanceOf[SubqueryExpression])) =>
        def strip(p: LogicalPlan): LogicalPlan = p match {
          case SubqueryAlias(_, c) => strip(c)
          case other => other
        }
        strip(sub.plan) match {
          case Aggregate(Seq(), Seq(outExpr), aggChild, _) =>
            // the output must be the NULL-on-empty aggregate DIRECTLY
            // (under Alias/Cast only): any surrounding expression — a
            // COALESCE, CASE, arithmetic — can map the empty-group NULL
            // to a non-NULL value, and the BY SOURCE arm's Literal(null)
            // substitution would then be silently wrong for keyless rows
            // (the count-bug's general form)
            def bare(e: Expression): Expression = e match {
              case Alias(c, _) => bare(c)
              case c: Cast => bare(c.child)
              case other => other
            }
            // the value the keyless (empty-group) arm substitutes for
            // the subquery: NULL for the NULL-on-empty aggregates, the
            // wrapped 0 for COUNT, nothing (= refuse) otherwise
            val emptyGroupValue: Option[Expression] = bare(outExpr) match {
              case ae: AggregateExpression => ae.aggregateFunction match {
                case _: Max | _: Min | _: Sum | _: Average =>
                  Some(Literal.create(null, sub.dataType))
                case _: Count =>
                  val unAliased = outExpr match {
                    case Alias(c2, _) => c2
                    case other => other
                  }
                  Some(unAliased.transform {
                    case ae2: AggregateExpression
                        if ae2.aggregateFunction.isInstanceOf[Count] =>
                      Literal(0L)
                  })
                case _ => None
              }
              case _ => None
            }
            if (emptyGroupValue.isEmpty ||
              outExpr.exists(_.isInstanceOf[OuterReference])) None
            else equiDecorrelate(aggChild, tSet).map { case (pairs, child) =>
              val (keys, keyAls) = keyAliases(pairs)
              val valAl = outExpr match {
                case Alias(c, _) => Alias(c, "__gval")()
                case other => Alias(other, "__gval")()
              }
              val srcPlan = Aggregate(pairs.map(_._2), keyAls :+ valAl, child, None)
              val sSet = srcPlan.outputSet
              def update(repl: Expression) = Merge.Update(sets(assignments.map(a =>
                a.copy(value = a.value.transform { case s2: ScalarSubquery if s2 == sub => repl })),
                "UPDATE", tSet, sSet))
              val cond = condition.map(xlate(_, tSet, sSet))
              GraftMergeCommand(t.snapTable, srcPlan, keys,
                Seq(Merge.WhenMatched(update(valAl.toAttribute), cond)), Nil,
                Seq(Merge.WhenNotMatchedBySource(update(emptyGroupValue.get), cond)),
                modeProperty)
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** Decorrelate a correlated subquery plan: exactly one Filter carries
    * every outer reference; every node ABOVE that Filter must be
    * row-set-preserving (Project / SubqueryAlias / Distinct — so
    * discarding them cannot change which key tuples exist); no nested
    * subquery anywhere (an outer reference hiding inside one would escape
    * the audit). The Filter's outer-referencing conjuncts split into
    * plain `inner-attr = outer(target-attr)` equalities (either order)
    * and THETA conjuncts (`s.ts < t.ts`, `s.v > t.bal / 2`, ...), each of
    * which must be closed over the two relations: outer references wrap
    * plain target attributes, every other attribute belongs to the
    * subquery child. Returns (target-attr -> inner-attr equality pairs,
    * theta conjuncts, the Filter's child re-filtered by the inner-only
    * conjuncts) — exactly the relation a semi/anti join needs.
    */
  private def decorrelate(plan: LogicalPlan, tSet: AttributeSet)
      : Option[(Seq[(AttributeReference, AttributeReference)], Seq[Expression], LogicalPlan)] = {
    def outerCount(e: Expression): Int = e.collect { case o: OuterReference => o }.size
    if (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))))
      return None
    val planOuter = plan.collect { case n => n.expressions.map(outerCount).sum }.sum
    plan.collect { case f: Filter if outerCount(f.condition) > 0 => f } match {
      case Seq(f) if outerCount(f.condition) == planOuter =>
        // every node above the filter must preserve the key-tuple set
        def pathOk(p: LogicalPlan): Boolean = p match {
          case x if x eq f => true
          case Project(_, child) => pathOk(child)
          case SubqueryAlias(_, child) => pathOk(child)
          case Distinct(child) => pathOk(child)
          case _ => false
        }
        def inner(a: AttributeReference) = f.child.outputSet.contains(a)
        def closed(e: Expression): Boolean = e match {
          case OuterReference(o: AttributeReference) => tSet.contains(o)
          case _: OuterReference => false
          case a: AttributeReference => inner(a)
          case other => other.children.forall(closed)
        }
        val (corrArms, innerArms) = splitConj(f.condition).partition(outerCount(_) > 0)
        val (pairs, thetas) = corrArms.partitionMap {
          case EqualTo(a: AttributeReference, OuterReference(o: AttributeReference))
              if tSet.contains(o) && inner(a) => Left(o -> a)
          case EqualTo(OuterReference(o: AttributeReference), a: AttributeReference)
              if tSet.contains(o) && inner(a) => Left(o -> a)
          case e => Right(e)
        }
        if (!pathOk(plan) || !thetas.forall(closed)) None
        else Some((pairs, thetas,
          innerArms.reduceOption(And).map(Filter(_, f.child)).getOrElse(f.child)))
      case _ => None
    }
  }

  /** [[decorrelate]] for the key joins: equality correlation only. */
  private def equiDecorrelate(plan: LogicalPlan, tSet: AttributeSet)
      : Option[(Seq[(AttributeReference, AttributeReference)], LogicalPlan)] =
    decorrelate(plan, tSet).collect { case (pairs, Seq(), child) => (pairs, child) }

  /** DELETE's fallback when [[extractSubqueryArm]] declines: the one
    * subquery conjunct is a correlated `[NOT] EXISTS` whose correlation
    * mixes plain equalities (the join KEYS — at least one is required,
    * so the lowered join is always equi-keyed, never a nested loop) with
    * theta residuals ([[decorrelate]]), which ride the same join as extra
    * conditions. Safe for [NOT] EXISTS only: row multiplicity is
    * irrelevant there, so duplicate key tuples across distinct theta
    * values cannot change the answer. The source projects `__gkeyN` key
    * and `__gresN` theta columns; the thetas become one join condition
    * over the `__t`/`__s` frames. UPDATE keeps the refusal: its MERGE
    * lowering needs key-unique sources, which theta duplicates would break.
    */
  private def lowerThetaExistsDelete(
      t: GraftSparkTable,
      cond: Expression,
      tSet: AttributeSet,
      modeProperty: String): Option[LogicalPlan] =
    for {
      (arm, rest) <- subqueryConjunct(cond)
      (negated, ex) <- arm match {
        case Not(e: Exists) if e.outerAttrs.nonEmpty && e.plan.resolved => Some((true, e))
        case e: Exists if e.outerAttrs.nonEmpty && e.plan.resolved => Some((false, e))
        case _ => None
      }
      (pairs, thetas, child) <- decorrelate(ex.plan, tSet)
      if pairs.nonEmpty && thetas.nonEmpty
    } yield {
      val (keys, keyAls) = keyAliases(pairs)
      // inner attributes the thetas reference (NOT the ones inside
      // OuterReference wrappers — those are target-side), aliased into
      // the source frame under collision-free names
      def innerRefs(e: Expression): Seq[AttributeReference] = e match {
        case OuterReference(_) => Nil
        case a: AttributeReference => Seq(a)
        case other => other.children.flatMap(innerRefs)
      }
      val resAttrs = thetas.flatMap(innerRefs).distinct
      val resAls = resAttrs.zipWithIndex.map {
        case (a, i) => Alias(a, s"__gres$i")()
      }
      val resMap = resAttrs.map(_.exprId).zip(resAls.map(_.name)).toMap
      val theta = GraftSqlShim.column(thetas.map(_.transform {
        case OuterReference(a: AttributeReference) =>
          UnresolvedAttribute(Seq("__t", a.name))
        case a: AttributeReference if resMap.contains(a.exprId) =>
          UnresolvedAttribute(Seq("__s", resMap(a.exprId)))
      }).reduce(And))
      // no Distinct: semi/anti joins are duplicate-insensitive, and a
      // distinct over keys+thetas would buy one extra shuffle for nothing
      GraftThetaExistsDeleteCommand(t.snapTable, Project(keyAls ++ resAls, child), keys,
        theta, negated, rest.map(xlate(_, tSet, AttributeSet.empty)), modeProperty)
    }

  /** Trace `attrs` (output attributes of `plan`) down through the
    * row-preserving nodes to attributes available at `stop`'s level
    * (the decorrelated child — `stop` must be reachable through
    * Project-of-attrs / SubqueryAlias / Distinct only).
    */
  private def resolveThrough(
      plan: LogicalPlan,
      attrs: Seq[Attribute],
      stop: LogicalPlan): Option[Seq[AttributeReference]] = {
    def walk(p: LogicalPlan, cur: Seq[Attribute]): Option[Seq[AttributeReference]] = p match {
      case _ if cur.forall(a => stop.outputSet.contains(a)) =>
        Some(cur.map(_.asInstanceOf[AttributeReference]))
      case Project(list, child) =>
        val byId = list.map(ne => ne.toAttribute.exprId -> ne).toMap
        val mapped = cur.map(a => byId.get(a.exprId) match {
          case Some(ar: AttributeReference) => Some(ar)
          case Some(Alias(ar: AttributeReference, _)) => Some(ar)
          case _ => None
        })
        if (mapped.exists(_.isEmpty)) None else walk(child, mapped.flatten)
      case SubqueryAlias(_, child) => walk(child, cur)
      case Distinct(child) => walk(child, cur)
      case Filter(_, child) => walk(child, cur)
      case _ => None
    }
    walk(plan, attrs)
  }

  private def graftRel(plan: LogicalPlan): Option[DataSourceV2Relation] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSparkTable] => r
    }

  private def graftTable(plan: LogicalPlan, verb: String): GraftSparkTable = {
    val t = graftRel(plan).get.table.asInstanceOf[GraftSparkTable]
    require(t.metaKind.isEmpty, s"$verb on metadata table ${t.name()} is not allowed")
    require(t.pinnedVersion.isEmpty && t.pinnedAsOfMs.isEmpty,
      s"cannot $verb ${t.name()} at a pinned VERSION/TIMESTAMP")
    t
  }

  /** Lift a resolved expression out of the command into a Column over
    * the engine's rewrite frames: target refs become `__t.<name>`
    * (plain `<name>` when `sSet` is empty: the single-table frame of
    * [[SnapshotTable.update]] / [[SnapshotTable.delete]]), source refs
    * `__s.<name>`.
    *
    * UNCORRELATED SCALAR subqueries are supported: SQL evaluates them
    * once per statement, so they lift as a [[DeferredScalarSubquery]]
    * placeholder that the command materializes into a literal at RUN
    * time (never during analysis — EXPLAIN must not execute jobs, and
    * analyzer batches may re-enter). Correlated or multi-row subqueries
    * cannot be lifted — their attributes stay bound to the original
    * relations and would surface as a confusing "resolved attribute(s)
    * missing" analysis error downstream — so they are rejected with an
    * explicit unsupported-feature message.
    */
  private def xlate(e: Expression, tSet: AttributeSet, sSet: AttributeSet): Column = {
    val prepared = e.transform {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
          if s.outerAttrs.isEmpty && s.plan.resolved =>
        DeferredScalarSubquery(s.plan)
      case ex: Exists
          if ex.outerAttrs.isEmpty && ex.plan.resolved =>
        // uncorrelated EXISTS is a statement-level boolean (SQL
        // evaluates it once): defer to run time like scalar subqueries
        DeferredExistsSubquery(ex.plan)
    }
    if (prepared.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"unsupported subquery shape in DML ($e): supported are uncorrelated " +
          "SCALAR and EXISTS subqueries anywhere in UPDATE/MERGE conditions " +
          "and assignments, and ONE top-level WHERE conjunct of UPDATE or " +
          "DELETE that is `col IN (SELECT ...)` (over plain target columns, " +
          "correlated or not), `[(]col[, ...)] NOT IN (SELECT ...)` " +
          "(uncorrelated, full null-aware semantics, single- or " +
          "multi-column), a correlated `[NOT] EXISTS` on plain column-equality " +
          "correlation (DELETE additionally accepts non-equality theta " +
          "conjuncts beside at least one equality), or an UPDATE assignment " +
          "whose value is a correlated scalar max/min/sum/avg/count over " +
          "plain equality correlation; for correlated NOT IN, purely " +
          "non-equality correlation, or other forms, materialize the " +
          "subquery as a source table or temp view and use MERGE")
    GraftSqlShim.column(prepared.transform {
      case a: AttributeReference if sSet.contains(a) =>
        UnresolvedAttribute(Seq("__s", a.name))
      case a: AttributeReference if tSet.contains(a) =>
        if (sSet.isEmpty) UnresolvedAttribute(Seq(a.name))
        else UnresolvedAttribute(Seq("__t", a.name))
    })
  }

  /** `assignments` as column name -> value over the frame [[xlate]] maps
    * `tSet` / `sSet` to; `verb` names the statement in the refusal of an
    * assignment to a nested field.
    */
  private def sets(assignments: Seq[Assignment], verb: String, tSet: AttributeSet,
      sSet: AttributeSet): Map[String, Column] = assignments.map {
    case Assignment(a: AttributeReference, value) => a.name -> xlate(value, tSet, sSet)
    case a => throw new UnsupportedOperationException(
      s"$verb assigns to a nested field (${a.key}); only top-level columns are supported")
  }.toMap

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  private def lowerMerge(m: MergeIntoTable): LogicalPlan = {
    val t = graftTable(m.targetTable, "MERGE")
    require(!m.withSchemaEvolution,
      "MERGE WITH SCHEMA EVOLUTION is not supported; evolve the table first " +
        "(ALTER TABLE ADD COLUMN)")
    val tSet = m.targetTable.outputSet
    val sSet = m.sourceTable.outputSet

    val keys: Seq[(String, String)] = splitConj(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tSet.contains(a) && sSet.contains(b) => a.name -> b.name
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if sSet.contains(b) && tSet.contains(a) => a.name -> b.name
      case other => throw new UnsupportedOperationException(
        s"MERGE ON must be an equality conjunction of target and source columns; got $other")
    }

    // ordered clauses, conditions included — the engine applies them
    // first-true-wins per row (SQL clause-order semantics)
    val matchedClauses: Seq[Merge.WhenMatched] = m.matchedActions.map {
      case us: UpdateStarAction =>
        Merge.WhenMatched(Merge.UpdateAll, us.condition.map(xlate(_, tSet, sSet)))
      case da: DeleteAction =>
        Merge.WhenMatched(Merge.Delete, da.condition.map(xlate(_, tSet, sSet)))
      case ua: UpdateAction =>
        Merge.WhenMatched(Merge.Update(sets(ua.assignments, "MERGE UPDATE", tSet, sSet)),
          ua.condition.map(xlate(_, tSet, sSet)))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN MATCHED action: $other")
    }

    val notMatchedClauses: Seq[Merge.WhenNotMatched] = m.notMatchedActions.map {
      case is: InsertStarAction =>
        Merge.WhenNotMatched(Merge.InsertAll, is.condition.map(xlate(_, tSet, sSet)))
      case ia: InsertAction =>
        Merge.WhenNotMatched(Merge.Insert(sets(ia.assignments, "MERGE INSERT", tSet, sSet)),
          ia.condition.map(xlate(_, tSet, sSet)))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }

    // the third MERGE arm: target rows no source row matches. Spark's
    // analyzer already restricts these conditions/assignments to target
    // references; xlate maps them into the rewrite's __t frame.
    val bySourceClauses: Seq[Merge.WhenNotMatchedBySource] =
      m.notMatchedBySourceActions.map {
        case da: DeleteAction =>
          Merge.WhenNotMatchedBySource(Merge.Delete, da.condition.map(xlate(_, tSet, sSet)))
        case ua: UpdateAction =>
          Merge.WhenNotMatchedBySource(
            Merge.Update(sets(ua.assignments, "MERGE UPDATE", tSet, sSet)),
            ua.condition.map(xlate(_, tSet, sSet)))
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }

    GraftMergeCommand(t.snapTable, m.sourceTable, keys, matchedClauses,
      notMatchedClauses, bySourceClauses)
  }
}

/** Join kind a lowered DML subquery arm maps to: [[SemiArm]] (IN /
  * EXISTS — rows WITH a key match) or [[AntiArm]] (NOT EXISTS — rows
  * WITHOUT one, MERGE's third arm).
  */
sealed trait ArmKind
case object SemiArm extends ArmKind
case object AntiArm extends ArmKind
/** Uncorrelated NOT IN — anti-join SHAPE but null-aware SEMANTICS, so it
  * lowers to [[GraftNotInCommand]]'s run-time branch, not a plain anti.
  */
case object NotInArm extends ArmKind

/** Uncorrelated MULTI-column NOT IN — null-aware per COLUMN, not per
  * tuple: a source row that is NULL in one column can still be
  * definitely-different on another, so the single-column three-branch
  * classification does not carry over. Lowers to
  * [[GraftNotInMultiCommand]]'s null-mask decomposition.
  */
case object NotInMultiArm extends ArmKind

/** Placeholder carrying an uncorrelated scalar subquery's resolved plan
  * through a lowered DML Column until command RUN time, where it
  * materializes into a literal — once per statement, SQL's contract
  * for uncorrelated scalar subqueries (0 rows → NULL, >1 rows → error).
  */
final case class DeferredScalarSubquery(
    @transient plan: LogicalPlan)
  extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def dataType: org.apache.spark.sql.types.DataType = plan.output.head.dataType
  override def nullable: Boolean = true
}

object DeferredScalarSubquery {
  /** Evaluate every deferred subquery in `c` to a literal. */
  def materialize(spark: SparkSession, c: Column): Column =
    GraftSqlShim.column(GraftSqlShim.expression(c).transform {
      case DeferredScalarSubquery(p) =>
        val rows = GraftSqlShim.ofRows(spark, p).limit(2).collect()
        require(rows.length <= 1,
          "scalar subquery in UPDATE/MERGE returned more than one row")
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          if (rows.isEmpty) null else rows.head.get(0), p.output.head.dataType)
      case DeferredExistsSubquery(p) =>
        // one limit-1 probe; never NULL (so NOT EXISTS over an empty
        // subquery is TRUE, not unknown)
        org.apache.spark.sql.catalyst.expressions.Literal(
          GraftSqlShim.ofRows(spark, p).limit(1).collect().nonEmpty,
          org.apache.spark.sql.types.BooleanType)
    })

  /** [[materialize]] every value an UPDATE action assigns. */
  def materialize(spark: SparkSession, a: Merge.Matched): Merge.Matched = a match {
    case Merge.Update(sets) => Merge.Update(sets.map { case (k, v) => k -> materialize(spark, v) })
    case other => other
  }
}

/** Placeholder carrying an uncorrelated EXISTS subquery's resolved plan
  * through a lowered DML Column until command RUN time, where one
  * limit-1 probe materializes it into a boolean literal.
  */
final case class DeferredExistsSubquery(
    @transient plan: LogicalPlan)
  extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
}

/** The row-level write every lowered DML command ends in: the write
  * access check, and the [[WriteMode]] the statement's
  * `write.<verb>.mode` property declares, read at run time.
  */
private[catalog] object RowWrite {
  /** Row-level DML is a WRITE under the per-team table matrix — the
    * analysis-time loadTable only established read access.
    */
  def authorize(spark: SparkSession, table: SnapshotTable): Unit =
    graft.governance.AccessControl.checkTableAccess(spark,
      table.fullName.split("\\.", 2).last, table.fullName, "write")

  /** UPDATE or DELETE `rows` as `action` says, its deferred subqueries
    * materialized.
    */
  def apply(spark: SparkSession, table: SnapshotTable, rows: Rows,
      action: Merge.Matched, modeProperty: String): Unit = {
    val mode = WriteMode.of(table, modeProperty)
    DeferredScalarSubquery.materialize(spark, action) match {
      case Merge.Update(sets) => table.update(spark, rows, sets, mode): Unit
      case Merge.Delete => table.delete(spark, rows, mode): Unit
      case other => throw new IllegalArgumentException(s"not a row-level action: $other")
    }
  }
}

/** Executable lowering of `UPDATE graft.ns.t SET ... [WHERE ...]`
  * (`action` = `Merge.Update`) and of `DELETE FROM graft.ns.t WHERE
  * <cond>` whose condition cannot ride the DSv2 filter push-down
  * (deferred scalar/EXISTS subqueries, arbitrary expressions):
  * statement-level subqueries materialize to literals at run time, then
  * the rows the condition holds on are written in `modeProperty`'s
  * [[WriteMode]].
  */
final case class GraftRowLevelCommand(
    @transient table: SnapshotTable,
    cond: Option[Column],
    action: Merge.Matched,
    modeProperty: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    RowWrite(spark, table, Rows.Where(
      cond.map(DeferredScalarSubquery.materialize(spark, _)).getOrElse(lit(true))),
      action, modeProperty)
    Nil
  }
}

/** Executable lowering of `DELETE FROM graft.ns.t WHERE k IN (SELECT …)`
  * with no residual condition: the subquery's keys (already DISTINCT'd
  * by the lowering) become a MERGE-ON-READ equality delete — the same
  * contract a plain key-list DELETE gets through SupportsDelete:
  * O(|keys|) write cost, no data file rewritten, reads anti-join the
  * delete file. The key frame stays a distributed plan end-to-end;
  * nothing collects to the driver.
  */
final case class GraftDeleteInCommand(
    @transient table: SnapshotTable,
    @transient keysPlan: LogicalPlan,
    keys: Seq[(String, String)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    val keyFrame = GraftSqlShim.ofRows(spark, keysPlan)
      .select(keys.map { case (tk, sk) =>
        org.apache.spark.sql.functions.col(sk).as(tk)
      }: _*)
    table.deleteWhere(keyFrame, keys.map(_._1))
    Nil
  }
}

/** Executable lowering of `UPDATE/DELETE ... WHERE k NOT IN (SELECT …)`
  * — SQL's null-aware NOT IN, branched at RUN time by one aggregate job
  * over the (DISTINCT'd) subquery keys, `count(*)` against `count(k)`:
  *  - any NULL key → `k <> NULL` is UNKNOWN for every row, so NOT IN is
  *    never TRUE: the whole statement is a no-op;
  *  - empty subquery → NOT IN is TRUE for EVERY row (NULL target keys
  *    included): run the plain engine update/delete with the residual
  *    condition `cond` only;
  *  - otherwise → MERGE's third arm (WHEN NOT MATCHED BY SOURCE), an
  *    anti-join of the key frame, with `k IS NOT NULL` folded into the
  *    clause condition (a NULL target key against a non-empty list is
  *    UNKNOWN — the anti-join alone would wrongly touch those rows).
  * `action` and `cond` are over the plain target frame, which both
  * paths resolve: the merge source holds only the `__gkey0` column.
  * The key frame stays a distributed plan; nothing but the one-row
  * probe ever reaches the driver.
  */
final case class GraftNotInCommand(
    @transient table: SnapshotTable,
    @transient keysPlan: LogicalPlan,
    keys: Seq[(String, String)],
    action: Merge.Matched,
    cond: Option[Column],
    modeProperty: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    import org.apache.spark.sql.functions.col
    // ONE evaluation of the subquery key frame feeds the NULL probe,
    // the empty probe, AND the merge source: a non-deterministic
    // subquery must not be classified by one evaluation and applied
    // from another (same localCheckpoint discipline as
    // SnapshotTable.materializeSource; lazy — simple deterministic
    // scans still cost one job, paid by the first probe)
    val src = SourcePin.pin(spark, keysPlan)
    val kCol = keys.head._2
    // ONE aggregate job classifies the statement (count(*) vs
    // count(kCol) — their difference is the NULL-key count): the frame
    // is delta-sized and localCheckpoint-pinned, so a full-pass
    // aggregate costs less than the two limit-1 driver round-trips it
    // replaces on every UPDATE/DELETE-with-subquery statement
    val probe = src.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      org.apache.spark.sql.functions.count(col(kCol)).as("nn")).head()
    if (probe.getLong(0) > probe.getLong(1)) return Nil // a NULL key: no-op
    if (probe.getLong(0) == 0L)
      GraftRowLevelCommand(table, cond, action, modeProperty).run(spark)
    else {
      // the merge consumes the SAME (possibly checkpointed) frame the
      // probe classified — never a fresh evaluation of keysPlan
      val antiCond = cond.foldLeft(col(keys.head._1).isNotNull)(_ && _)
      GraftMergeCommand(table, src.queryExecution.analyzed, keys, Nil, Nil,
        Seq(Merge.WhenNotMatchedBySource(action, Some(antiCond))), modeProperty).run(spark)
    }
    Nil
  }
}

/** Executable lowering of `UPDATE ... SET ...` (`action` = `Merge.Update`) or
  * `DELETE FROM graft.ns.t WHERE (a, b, ...) NOT IN (SELECT x, y, ...
  * FROM s)` — EXACT SQL null-aware semantics for the multi-column form,
  * which is null-aware per COLUMN: a target row is touched iff EVERY
  * source row is definitely different, i.e. differs on at least one
  * column where both sides are non-NULL. The naive lowering is a
  * non-equi anti-join (`(a<=>x OR a IS NULL OR x IS NULL) AND ...`)
  * that Spark can only execute as a nested-loop join — O(target ×
  * source), forbidden engine-wide. Instead the row set decomposes by
  * NULL MASK:
  *
  *  - a target row with null-mask Q is "possibly equal" to a source row
  *    with null-mask P iff they agree on the columns where BOTH are
  *    non-null, `comp(P|Q)` — a pure EQUI join key once (P, Q) is fixed;
  *  - distinct masks are data-driven but bounded by 2^k (k = statement
  *    key count, tiny), and in the overwhelmingly common all-non-null
  *    case there is exactly ONE (P, Q) pair — a single struct-shaped
  *    broadcast anti-join;
  *  - touched = for each Q: target[Q] anti-joined against each source
  *    mask's distinct `comp(P|Q)` projection in turn; a pair with NO
  *    both-non-null column means every source row of that mask blocks
  *    every target row of Q (equality never FALSE) — the piece empties.
  *
  * Statement-level short-circuits mirror the single-column command: an
  * empty subquery makes NOT IN TRUE everywhere (the residual condition
  * alone decides), and an all-NULL source tuple blocks every row (one
  * metadata-cheap mask probe, then no-op). The touched rows are written
  * as a [[Rows.Matching]] selection in `modeProperty`'s [[WriteMode]].
  */
final case class GraftNotInMultiCommand(
    @transient table: SnapshotTable,
    @transient keysPlan: LogicalPlan,
    keys: Seq[(String, String)],
    action: Merge.Matched,
    cond: Option[Column],
    modeProperty: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    NotInMultiRuntime.classify(spark, keysPlan, keys,
      cond.map(DeferredScalarSubquery.materialize(spark, _)))
      .foreach(RowWrite(spark, table, _, action, modeProperty))
    Nil
  }
}

/** One-evaluation discipline for DML source subqueries, shared by the
  * NOT IN / theta-EXISTS command runtimes: a source that can change
  * between evaluations must not be classified by one evaluation and
  * joined from another (the matcher seams apply it several times —
  * the touched-file probe, the complement). The determinism probe descends into
  * NESTED subquery plans (`SubqueryExpression.deterministic` does not
  * reflect its inner plan, and `plan.exists` does not traverse it), so
  * a rand() hiding inside a scalar subquery still pins. Lazy
  * checkpoint: simple deterministic scans stay streaming and cost
  * nothing extra; the first probe materializes a pinned copy otherwise.
  */
private[catalog] object SourcePin {
  private def planDeterministic(p: LogicalPlan): Boolean =
    !p.exists(_.expressions.exists(_.exists {
      case sub: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        !planDeterministic(sub.plan)
      case e => !e.deterministic
    }))

  def pin(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame = {
    val src0 = GraftSqlShim.ofRows(spark, plan)
    if (planDeterministic(src0.queryExecution.analyzed)) src0
    else src0.localCheckpoint(eager = false)
  }
}

/** Run-time null-mask classification + matcher shared by the
  * multi-column NOT IN DELETE and UPDATE commands. NOT IN is null-aware
  * per COLUMN: distinct source null masks (≤2^k, data-driven) each pair
  * with every target null mask into a pure equi anti-join over the
  * both-non-null columns — never a nested-loop join. An all-NULL source
  * tuple makes the statement a no-op (None); an empty subquery makes NOT
  * IN TRUE everywhere (the residual condition alone selects).
  */
private[catalog] object NotInMultiRuntime {
  def classify(
      spark: SparkSession,
      keysPlan: LogicalPlan,
      keys: Seq[(String, String)],
      rest: Option[Column]): Option[Rows] = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, when}
    val k = keys.size
    // same one-evaluation discipline as GraftNotInCommand: the mask
    // probe and every per-mask projection must see the SAME rows
    val src = SourcePin.pin(spark, keysPlan)
    def maskOf(cols: Seq[Column]): Column =
      cols.zipWithIndex.map { case (c, i) =>
        when(c.isNull, 1 << i).otherwise(0)
      }.reduce(_ + _)
    val srcMask = maskOf(keys.map { case (_, sk) => col(sk) })
    val srcMasks = src.select(srcMask.as("__gmask")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (srcMasks.isEmpty) return Some(Rows.Where(rest.getOrElse(lit(true))))
    if (srcMasks.contains((1 << k) - 1)) return None // all-NULL source tuple
    // target pieces: the matcher closure re-applies against a NEWER
    // probe after a commit-retry conflict, so the mask set must derive
    // from the frame IN HAND, never a scan taken here that a rival
    // commit could stale-out. Narrow tuples (k<=4, at most 16 masks)
    // enumerate statically — an unpopulated mask is an empty piece, and
    // the probe is NOT free: it is a distinct+collect scan of the
    // target that the matcher pays 1-2 times per statement (the
    // touched-file probe, the kept-rows complement).
    // Wider tuples scan the live probe inside the closure (derived from
    // `df`, so retry-safe for free): real data populates FEW masks, and
    // enumerating 2^k pieces each carrying up to |srcMasks| anti-joins
    // plus a 2^k-way union builds a far larger plan than the probe
    // costs at that width
    val tgtMasksOf: org.apache.spark.sql.DataFrame => Seq[Int] =
      if (k <= 4) _ => 0 until (1 << k)
      else df => df
        .select(maskOf(keys.map { case (tk, _) => col(tk) }).as("__gmask"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
    Some(Rows.Matching { df =>
      val tgtMasks = tgtMasksOf(df)
      val pieces = tgtMasks.map { q =>
        val qCond = keys.map(_._1).zipWithIndex.map { case (c, i) =>
          if ((q & (1 << i)) != 0) col(c).isNull else col(c).isNotNull
        }.reduce(_ && _)
        var rows = df.filter(qCond)
        srcMasks.foreach { p =>
          val u = (0 until k).filter(i => ((p | q) & (1 << i)) == 0)
          if (u.isEmpty)
            // no both-non-null column: every src[p] row possibly equals
            // every target[q] row — nothing in this piece can match
            rows = rows.filter(lit(false))
          else {
            val proj = src.filter(srcMask === p)
              .select(u.map(i => col(keys(i)._2)): _*).distinct()
            val joinCond = u.map(i => rows(keys(i)._1) === proj(keys(i)._2))
              .reduce(_ && _)
            rows = rows.join(broadcast(proj), joinCond, "left_anti")
          }
        }
        rows
      }
      val candidates = pieces.reduce(_ unionByName _)
      rest.map(candidates.filter).getOrElse(candidates)
    })
  }
}

/** Executable lowering of `DELETE ... WHERE [NOT] EXISTS (SELECT ...
  * WHERE s.k = t.k AND s.x < t.y ...)` — correlated EXISTS whose
  * correlation carries non-equality THETA conjuncts beside its
  * equalities. The equalities key a distributed semi (EXISTS) or anti
  * (NOT EXISTS) join; the thetas are extra conditions ON that join, so
  * the plan stays an equi-join (sort-merge or broadcast-hash under
  * Catalyst's sizing), never a nested loop. The matched row set then
  * deletes as a [[Rows.Matching]] selection in `modeProperty`'s
  * [[WriteMode]]. EXISTS row-multiplicity semantics make the undistinct'd
  * source safe: a target row joins at most once into a semi/anti join
  * regardless of how many source rows satisfy the condition.
  */
final case class GraftThetaExistsDeleteCommand(
    @transient table: SnapshotTable,
    @transient srcPlan: LogicalPlan,
    keys: Seq[(String, String)],
    theta: Column,
    negated: Boolean,
    cond: Option[Column],
    modeProperty: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    import org.apache.spark.sql.functions.col
    // one-evaluation discipline (as NotInMultiRuntime): the matcher is
    // applied several times (the touched-file probe, the kept-rows
    // complement) — a nondeterministic source must see
    // the SAME rows in each, or the COW rewrite corrupts
    val src = SourcePin.pin(spark, srcPlan).alias("__s")
    val rest = cond.map(DeferredScalarSubquery.materialize(spark, _))
    val joinCond = (keys.map { case (tk, sk) =>
      col(s"__t.$tk") === col(s"__s.$sk") } :+ theta).reduce(_ && _)
    RowWrite(spark, table, Rows.Matching(df => rest.map(df.filter).getOrElse(df).alias("__t")
      .join(src, joinCond, if (negated) "left_anti" else "left_semi")), Merge.Delete, modeProperty)
    Nil
  }
}

/** Executable lowering of `MERGE INTO graft.ns.t USING src ON ...`.
  * The source plan re-analyzes inside `run` (it may itself read graft
  * tables — the inline rule serves it like any other query).
  */
final case class GraftMergeCommand(
    @transient table: SnapshotTable,
    @transient sourcePlan: LogicalPlan,
    keys: Seq[(String, String)],
    matchedClauses: Seq[Merge.WhenMatched],
    notMatchedClauses: Seq[Merge.WhenNotMatched],
    notMatchedBySourceClauses: Seq[Merge.WhenNotMatchedBySource] = Nil,
    // which Iceberg write-mode property routes this statement: a real
    // MERGE follows write.merge.mode, but a subquery-shaped UPDATE or
    // DELETE lowered onto the merge engine must keep following ITS
    // verb's property (write.update.mode / write.delete.mode) — the
    // user configured the verb, not the lowering
    modeProperty: String = "write.merge.mode")
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    RowWrite.authorize(spark, table)
    import DeferredScalarSubquery.materialize
    def cond(c: Option[Column]) = c.map(materialize(spark, _))
    table.merge(GraftSqlShim.ofRows(spark, sourcePlan), keys,
      matchedClauses.map(c => Merge.WhenMatched(materialize(spark, c.action), cond(c.cond))),
      notMatchedClauses.map(c => Merge.WhenNotMatched(c.action match {
        case Merge.Insert(sets) =>
          Merge.Insert(sets.map { case (k, v) => k -> materialize(spark, v) })
        case other => other
      }, cond(c.cond))),
      notMatchedBySourceClauses.map(c =>
        Merge.WhenNotMatchedBySource(materialize(spark, c.action), cond(c.cond))),
      WriteMode.of(table, modeProperty))
    Nil
  }
}
