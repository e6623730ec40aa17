package graft.sink

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Action vocabulary for [[SnapshotTable.merge]] — the SQL MERGE
  * clause shapes (WHEN MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED
  * THEN INSERT), decoupled from the parser so the Scala API and the
  * SQL front door (`catalog.GraftDmlRule`) lower to the same engine
  * path.
  *
  * Assignment expressions reference the target row as `__t.<col>` and
  * the source row as `__s.<col>` — use [[Merge.t]] / [[Merge.s]].
  */
object Merge {

  sealed trait Matched
  /** UPDATE SET * : matched target rows adopt the source row's columns
    * (by name; columns the source lacks keep their target value). */
  case object UpdateAll extends Matched
  /** UPDATE SET col = expr, ... — values may reference [[t]]/[[s]]. */
  final case class Update(sets: Map[String, Column]) extends Matched
  /** WHEN MATCHED THEN DELETE. */
  case object Delete extends Matched
  /** No matched clause: matched rows stay untouched (no dir rewrite). */
  case object KeepMatched extends Matched

  sealed trait NotMatched
  /** INSERT * : unmatched source rows insert by name (source key
    * columns land in the target key columns; absent columns → null). */
  case object InsertAll extends NotMatched
  /** INSERT (cols) VALUES (exprs) — values may reference [[s]]. */
  final case class Insert(sets: Map[String, Column]) extends NotMatched
  /** No not-matched clause: unmatched source rows are ignored. */
  case object Ignore extends NotMatched

  /** One `WHEN MATCHED [AND cond] THEN <action>` clause. Clauses apply
    * first-true-wins in declaration order (SQL semantics: a matched row
    * takes the first clause whose condition is TRUE; a null/false
    * condition falls through to the next clause; no applicable clause
    * leaves the row untouched). `cond` may reference [[t]]/[[s]].
    * [[KeepMatched]] is not a clause action — express "no change" by
    * omitting the clause.
    */
  final case class WhenMatched(action: Matched, cond: Option[Column] = None) {
    require(action != KeepMatched, "KeepMatched is the absence of a clause, not an action")
  }

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT ...` clause —
    * first-true-wins like [[WhenMatched]]; `cond` may reference [[s]]
    * only (there is no target row).
    */
  final case class WhenNotMatched(action: NotMatched, cond: Option[Column] = None) {
    require(action != Ignore, "Ignore is the absence of a clause, not an action")
  }

  /** One `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE`
    * clause — acts on TARGET rows no source row matches (the third MERGE
    * arm: retire or restate rows absent from the delivery).
    * First-true-wins like the other clause lists; `cond` and assignment
    * values may reference [[t]] only — there is no source row, which is
    * also why [[UpdateAll]] (`UPDATE SET *`) is not expressible here.
    */
  final case class WhenNotMatchedBySource(action: Matched, cond: Option[Column] = None) {
    require(action != KeepMatched, "KeepMatched is the absence of a clause, not an action")
    require(action != UpdateAll,
      "UPDATE SET * needs a source row; NOT MATCHED BY SOURCE updates assign explicit values")
  }

  /** The target row's column, for use in [[Update]] assignments. */
  def t(name: String): Column = col(s"__t.$name")

  /** The source row's column, for use in [[Update]]/[[Insert]] values. */
  def s(name: String): Column = col(s"__s.$name")
}
