package graft.plans

import scala.collection.immutable.VectorMap

import graft.sink.SnapshotFileIndex
import graft.sink.MetadataJson.{JArr, JStr, JValue, num, obj}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-directory column RANGE statistics — the Iceberg manifest
  * min/max role (reference: `docs/deep-dive.md` frames manifest-level
  * stat skipping as the metadata layer's scan-planning payoff; Athena
  * consumes the same bounds when it plans a snapshot scan).
  *
  * Every snapshot commit records one ranges object in the files
  * sidecar of its immutable data dir (its `ranges` value, beside the
  * file entries — one Iceberg manifest entry's worth of planning
  * record): row count plus, per top-level column, the null count and
  * (for orderable atomic types) min/max bounds — collected with ONE
  * aggregation pass over the freshly written dir, O(delta) like the
  * write itself. The row count is the one the null counts are relative
  * to: a carried dir keeps its source dir's object, rows included.
  * String bounds are prefix-truncated at [[RangeStats.StringBoundChars]]
  * chars: the truncated MIN is still a valid lower bound (a prefix
  * sorts <= its string), while an upper bound is recorded only when no
  * value was truncated (a truncated prefix would understate it) —
  * exactly Iceberg's lower/upper-bound truncation contract.
  *
  * Every column's entry comes from the write's own `observe` metrics,
  * in the type the column is written and read with — partition columns
  * included, since a snapshot scan types partition values as recorded
  * rather than inferring them from paths.
  *
  * [[GraftStatsSkipRule]] (installed by [[graft.GraftExtensions]])
  * consumes them at OPTIMIZATION time from the scan's
  * [[SnapshotFileIndex]], which the table put them on when it built the
  * scan: a filter sitting over a snapshot scan whose dirs' stats prove
  * the predicate unsatisfiable drops those dirs' files from the index —
  * file skipping at planning, before a single byte is read, and with no
  * file read by the rule. At 100 TB this is the difference between
  * "scan every snapshot dir and let parquet row-group stats save you"
  * and "never schedule the task at all": a time-range query over a
  * year of hourly appends plans only the dirs whose ranges overlap.
  */
object RangeStats {

  /** Max chars kept of a string bound (Iceberg truncates to 16 bytes;
    * we keep more because document tables filter on id-like prefixes).
    */
  val StringBoundChars = 64

  /** One column's stats: null count and optional string-encoded bounds
    * (interpreted against the column's type at prune time).
    */
  final case class ColRange(nulls: Long, min: Option[String], max: Option[String])

  /** One data dir's stats: row count + per-column ranges, in the order
    * they are recorded.
    */
  final case class DirStats(rows: Long, cols: Map[String, ColRange])

  /** Types whose min/max are collected and compared. TIMESTAMP_NTZ is
    * deliberately absent: its string form is session-independent but
    * not byte-ordered, and a micros encoding would need a timezone
    * convention — conservative "no bounds" keeps pruning sound.
    */
  private def boundSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | DateType | TimestampType | StringType => true
    case _: DecimalType => true
    case _ => false
  }

  // ------------------------------------------------------------------
  // write side (called by SnapshotTable, once per new data dir)
  // ------------------------------------------------------------------

  /** Named aggregate Columns collecting this schema's range stats in ONE
    * pass. Attachable either to the WRITE itself via `Dataset.observe`
    * (zero re-read — the stats ride along with the write job) or to a
    * read-back `agg`. Names are positional (`c{i}_min/max/len/nulls`) so
    * [[fromMetrics]] can rebuild per-column entries without any
    * column-name escaping concerns in metric keys.
    */
  def rangeAggs(fields: Seq[StructField]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, length, lit, max, min, substring, when}
    fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val nulls = count(when(c.isNull, lit(1))).as(s"c${i}_nulls")
      f.dataType match {
        case StringType =>
          Seq(min(substring(c, 1, StringBoundChars)).as(s"c${i}_min"),
            max(substring(c, 1, StringBoundChars)).as(s"c${i}_max"),
            max(length(c)).as(s"c${i}_len"), nulls)
        case dt if boundSupported(dt) =>
          Seq(min(c).as(s"c${i}_min"), max(c).as(s"c${i}_max"), nulls)
        case _ => Seq(nulls)
      }
    }
  }

  /** A dir of `rows` rows: its stats from [[rangeAggs]] metric values
    * (external/collected types, as an Observation or collected Row
    * delivers them).
    */
  def fromMetrics(fields: Seq[StructField], rows: Long, m: Map[String, Any]): DirStats =
    DirStats(rows, VectorMap.from(fields.zipWithIndex.map { case (f, i) =>
      val nulls = m.get(s"c${i}_nulls") match {
        case Some(l: Long) => l
        case _ => 0L
      }
      f.dataType match {
        case StringType =>
          val mn = m.get(s"c${i}_min").collect { case s: String => s }
          val mx = m.get(s"c${i}_max").collect { case s: String => s }
          val maxLen = m.get(s"c${i}_len") match {
            case Some(l: Int) => l
            case _ => 0
          }
          // a truncated upper bound would understate the max — drop it
          f.name -> ColRange(nulls, mn, if (maxLen > StringBoundChars) None else mx)
        case dt if boundSupported(dt) =>
          f.name -> ColRange(nulls,
            m.get(s"c${i}_min").flatMap(v => store(dt, v)),
            m.get(s"c${i}_max").flatMap(v => store(dt, v)))
        case _ => f.name -> ColRange(nulls, None, None)
      }
    }))

  /** The stats of an existing dir of `rows` rows, `df` as read by its
    * table, with one read-back aggregation job (none for an empty dir).
    * The fallback path — the commit hot path collects the same stats
    * during the write via [[rangeAggs]] + `observe` and never re-reads.
    * None when the job fails: stats are an optimization, never a
    * correctness input, so a failed collection must not fail the commit
    * (the dir simply stays unskippable).
    */
  def aggregate(df: DataFrame, rows: Long): Option[DirStats] =
    try {
      val fields = df.schema.fields.toSeq
      val aggs = rangeAggs(fields)
      Some(fromMetrics(fields, rows,
        if (aggs.isEmpty || rows == 0L) Map.empty
        else {
          val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
          row.getValuesMap[Any](row.schema.fieldNames)
        }))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The JSON a dir's files sidecar records `stats` as. */
  def render(stats: DirStats): JValue =
    obj("rows" -> num(stats.rows), "cols" -> JArr(stats.cols.toSeq.map { case (n, c) =>
      obj(Seq("name" -> JStr(n), "nulls" -> num(c.nulls)) ++
        c.min.map("min" -> JStr(_)) ++ c.max.map("max" -> JStr(_)): _*)
    }))

  /** The stats [[render]] wrote. Stats are an optimization, never a
    * correctness input: malformed content degrades to None — "no stats,
    * dir unskippable" — rather than failing the read (unlike table
    * METADATA, where corruption must fail loudly).
    */
  def parse(json: JValue): Option[DirStats] =
    try {
      val o = json.asObj
      Some(DirStats(o.get("rows").fold(-1L)(_.asLong),
        VectorMap.from(o.get("cols").fold(Seq.empty[JValue])(_.asArr).map { cv =>
          val c = cv.asObj
          c("name").asStr -> ColRange(c("nulls").asLong,
            c.get("min").map(_.asStr), c.get("max").map(_.asStr))
        })))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** External (collected) agg value -> storage string, in a rendering
    * that round-trips exactly: integral/date/timestamp as decimal
    * micros/days, floats via JDK toString (exact round-trip), decimals
    * as plain strings, booleans as 0/1.
    */
  private[graft] def store(dt: DataType, v: Any): Option[String] =
    if (v == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN) None else Some(f.toString)
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN) None else Some(d.toString)
      case _: DecimalType => Some(v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case BooleanType => Some(if (v.asInstanceOf[Boolean]) "1" else "0")
      case DateType => v match {
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toString)
        case d: java.time.LocalDate => Some(d.toEpochDay.toString)
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t).toString)
        case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i).toString)
        case _ => None
      }
      case _ => None
    }

  // ------------------------------------------------------------------
  // read side (consumed by GraftStatsSkipRule at optimization time)
  // ------------------------------------------------------------------

  /** True when `stats` PROVE no row of the dir can satisfy `cond`:
    * some conjunct is false for every row. Unknown stays unknown —
    * anything unparseable, unsupported, or unbounded contributes
    * nothing, so the answer errs toward scanning.
    */
  def provesEmpty(cond: Expression, stats: DirStats): Boolean = {
    if (stats.rows == 0L) return true
    splitAnd(cond).exists(provesFalse(_, stats))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def provesFalse(e: Expression, s: DirStats): Boolean = e match {
    // comparisons with a NULL literal are never true
    case BinaryComparison(_: AttributeReference, l: Literal) if l.value == null &&
        !e.isInstanceOf[EqualNullSafe] => true
    case BinaryComparison(l: Literal, _: AttributeReference) if l.value == null &&
        !e.isInstanceOf[EqualNullSafe] => true

    case EqualTo(a: AttributeReference, l: Literal) => noEq(a, l, s)
    case EqualTo(l: Literal, a: AttributeReference) => noEq(a, l, s)
    // a > v: impossible when max <= v (or the column is all null)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ <= 0)
    case GreaterThan(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ >= 0)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ < 0)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ > 0)
    case LessThan(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ >= 0)
    case LessThan(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ <= 0)
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ > 0)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ < 0)

    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      allNull(a, s) || vs.forall { v =>
        val l = v.asInstanceOf[Literal]
        l.value == null || noEq(a, l, s)
      }
    // Catalyst compiles large IN lists to InSet (values are INTERNAL)
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      allNull(a, s) || vs.forall { v =>
        v == null || noEqInternal(a, v, s)
      }

    case IsNull(a: AttributeReference) => s.cols.get(a.name).exists(_.nulls == 0L)
    case IsNotNull(a: AttributeReference) => allNull(a, s)

    case _ => false
  }

  private def allNull(a: AttributeReference, s: DirStats): Boolean =
    s.rows > 0L && s.cols.get(a.name).exists(_.nulls == s.rows)

  /** Equality with `l` impossible: the literal falls outside [min, max]. */
  private def noEq(a: AttributeReference, l: Literal, s: DirStats): Boolean =
    l.value != null &&
      (cmpMin(a, l, s).exists(_ > 0) || cmpMax(a, l, s).exists(_ < 0))

  private def noEqInternal(a: AttributeReference, v: Any, s: DirStats): Boolean = {
    val st = s.cols.get(a.name)
    st.exists(c =>
      c.min.flatMap(cmp(a.dataType, _, v)).exists(_ > 0) ||
        c.max.flatMap(cmp(a.dataType, _, v)).exists(_ < 0))
  }

  /** sign(minBound - literal), when both resolve. The stored min is a
    * LOWER bound B <= true min (string bounds are prefix-truncated),
    * so every skip decision built on it stays sound: B > v implies
    * min >= B > v, and B >= v implies min >= v. Bounds only ever
    * WEAKEN toward "don't skip".
    */
  private def cmpMin(a: AttributeReference, l: Literal, s: DirStats): Option[Int] =
    s.cols.get(a.name).flatMap(_.min).flatMap(cmp(a.dataType, _, l.value))

  private def cmpMax(a: AttributeReference, l: Literal, s: DirStats): Option[Int] =
    s.cols.get(a.name).flatMap(_.max).flatMap(cmp(a.dataType, _, l.value))

  /** sign(stored - literalInternalValue) in the column type's order;
    * None when the pairing is unsupported or either side is NaN (NaN
    * bounds are never stored; NaN literals never prove anything).
    */
  private def cmp(dt: DataType, stored: String, lit: Any): Option[Int] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val l = lit match {
          case b: Byte => b.toLong
          case sh: Short => sh.toLong
          case i: Int => i.toLong
          case lo: Long => lo
          case _ => return None
        }
        Some(java.lang.Long.compare(stored.toLong, l))
      case DateType =>
        lit match {
          case d: Int => Some(java.lang.Long.compare(stored.toLong, d.toLong))
          case _ => None
        }
      case TimestampType =>
        lit match {
          case t: Long => Some(java.lang.Long.compare(stored.toLong, t))
          case _ => None
        }
      case BooleanType =>
        lit match {
          case b: Boolean =>
            Some(java.lang.Long.compare(stored.toLong, if (b) 1L else 0L))
          case _ => None
        }
      // FloatType compares in FLOAT space: the stored bound is
      // Float.toString (shortest decimal round-tripping as Float), and
      // widening both sides to double gives DIFFERENT values
      // ("0.7".toDouble = 0.7d > 0.7f.toDouble = 0.69999998...), which
      // can overstate a bound and falsely prove a dir empty.
      case FloatType =>
        val l = lit match {
          case f: Float => f
          case _ => return None
        }
        val st = stored.toFloat
        if (l.isNaN || st.isNaN) None
        else Some(java.lang.Float.compare(st, l))
      case DoubleType =>
        val l = lit match {
          case d: Double => d
          case _ => return None
        }
        val st = stored.toDouble
        if (l.isNaN || st.isNaN) None
        else Some(java.lang.Double.compare(st, l))
      case _: DecimalType =>
        lit match {
          case d: Decimal =>
            Some(new java.math.BigDecimal(stored).compareTo(d.toJavaBigDecimal))
          case _ => None
        }
      case StringType =>
        lit match {
          case u: UTF8String => Some(UTF8String.fromString(stored).compareTo(u))
          case _ => None
        }
      case _ => None
    } catch { case _: NumberFormatException => None }
}

/** Optimizer rule: narrow a snapshot scan to the files the filter above
  * it can match — the Iceberg manifest-pruning step, applied at Catalyst
  * optimization time.
  *
  * It matches `Filter(cond, LogicalRelation(HadoopFsRelation))` over a
  * [[SnapshotFileIndex]] — what predicate pushdown leaves over every
  * scan the snapshot-table read plan builds (the filter arrives
  * rewritten to PHYSICAL column names by alias substitution, which is
  * the name space the stats are keyed by). Each conjunct of `cond`
  * that references partition columns only is evaluated exactly on each
  * file's partition values; the rest prove a dir empty through the
  * dir's stats on the index (`stats`). The rule reads no file: the
  * index carries everything it plans from. Partition-column bounds are never consulted: the
  * index types partition values exactly, so nothing is gained from
  * them, and bounds recorded in another type space could prune
  * unsoundly. Three outcomes:
  *
  *  - no file can match -> the subtree becomes an empty LocalRelation
  *    (PropagateEmptyRelation then collapses the union branch away);
  *  - some files can match -> the index narrows to them, its roots to
  *    the dirs still holding one;
  *  - every file can match -> untouched.
  *
  * Dirs without stats (pre-feature dirs, or a failed collection) are
  * never skipped by their data; scans over other indexes (external data, delete files)
  * are untouched. The rule runs in the operator-optimization fixed
  * point, so it sees the post-pushdown plan regardless of rule
  * ordering, and its output is a fixed point itself (kept files
  * re-evaluate to kept).
  */
object GraftStatsSkipRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l @ LogicalRelation(
        fsRel @ HadoopFsRelation(index: SnapshotFileIndex, _, _, _, _, _), _, _, false, _)) =>
      val partCols = fsRel.partitionSchema.fieldNames.toSet
      val (partConds, dataConds) = splitConjunctivePredicates(cond).partition(c =>
        c.references.nonEmpty && c.references.forall(a => partCols.contains(a.name)) &&
          c.deterministic && !SubqueryExpression.hasSubquery(c))
      val dataCond = dataConds.reduceOption(And).getOrElse(Literal(true))
      val emptyDirs = index.dirs.filter(d => index.stats.get(d).exists(st =>
        RangeStats.provesEmpty(dataCond, st.copy(cols = st.cols -- partCols)))).toSet
      // a partition conjunct that cannot be evaluated here (a cast that
      // fails on some value) keeps every file; the scan evaluates it
      val matching = scala.util.Try(index.matching(partConds)).getOrElse(index.files)
      val kept = matching.filterNot(file => emptyDirs.contains(file.dir))
      if (kept.size == index.files.size) f
      else if (kept.isEmpty) LocalRelation(l.output, Nil)
      else Filter(cond, l.copy(relation = fsRel.copy(location = index.narrow(kept))(fsRel.sparkSession)))
  }
}
