package graft.sink

import java.io.File
import java.nio.file.{Files, Paths}

import graft.governance.Audit
import graft.sink.MetadataJson.{JArr, JBool, JStr, JValue, num, obj, strObj, strs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-mode snapshot table: the Iceberg-semantics subset the engine
  * needs when no Iceberg catalog is available (this image carries no
  * Iceberg runtime jar — see SURVEY.md §7.4).
  *
  * Reproduces, on a plain filesystem, the reference's table behaviors:
  *  - atomic full-refresh overwrite (`resources/iceberg.py:59-105`) — data
  *    is written to a new immutable snapshot directory and the table's
  *    metadata pointer is swapped atomically (write-temp + atomic move),
  *    mirroring Iceberg's optimistic metadata-swap commit
  *    (`docs/deep-dive.md:66-69`);
  *  - append commits (event_stream pattern) — a new snapshot references the
  *    previous snapshot's directories plus the newly written one, so
  *    appends never rewrite old data (O(delta), not O(table), which is the
  *    property that matters at 100 TB);
  *  - snapshot history + time travel (`SELECT ... FOR SYSTEM_VERSION AS OF`,
  *    reference `aws/modules/athena/main.tf:48-67`);
  *  - snapshot expiration per `history_expire_max_snapshot_age_ms`
  *    (`table-templates/_schema.json:105-107`).
  *
  * Metadata format: one JSON file listing snapshots; each snapshot lists
  * the data directories it is composed of. Directories are immutable once
  * committed, each with sidecars recording its files (path, partition,
  * size, rows) and its typed columns.
  *
  * Reads plan from that recorded file list, as Iceberg plans a scan from
  * its manifests: a [[SnapshotFileIndex]] over exactly the snapshot's live
  * files, with the recorded data and partition types, so no read lists a
  * directory or infers a partition type from a path.
  */
final case class Snapshot(
    id: Long,
    committedAtMs: Long,
    // overwrite | append | replace (compaction) | overwrite_partitions
    operation: String,
    dataDirs: Seq[String],
    format: String = "parquet", // parquet | orc (per _schema.json:100-103)
    // total rows at this snapshot, recorded at commit time (Iceberg keeps
    // the same in the snapshot summary's total-records) so history
    // listings are pure metadata reads; -1 = unknown (pre-field metadata)
    rowCount: Long = -1L,
    // per-dir partition masks: partition rel-paths (e.g. "ts_day=2024-01-10")
    // a dynamic partition overwrite logically REMOVED from a carried dir.
    // Reads leave their files out of the scan — masked directories are
    // never opened. Stored per snapshot (self-contained), so expiring the
    // replacing snapshot can never resurrect replaced data.
    maskedDirs: Map[String, Seq[String]] = Map.empty,
    // write-audit-publish: a staged snapshot is fully committed data that
    // is NOT yet the table — reads skip it until publish() flips the flag
    // (Iceberg's WAP / branch staging workflow)
    staged: Boolean = false,
    // equality deletes (Iceberg v2 merge-on-read): each delete file masks
    // rows whose key columns match, in exactly the data dirs that existed
    // when the delete committed (`applies`) — data appended later is
    // untouched, the Iceberg sequence-number scoping realized at dir
    // granularity. Compaction applies deletes physically and drops them.
    deletes: Seq[EqualityDelete] = Nil,
    // published head this snapshot was committed against (0 = committed
    // onto an empty table; None = legacy metadata predating the field).
    // publish() compares THIS against the current head id — a dataDirs
    // comparison alone misses dir-preserving head moves (an equality
    // delete, a rollback to a same-dirs state), and flipping a staged
    // snapshot across one would silently restate the pre-delete counts
    // and drop the delete (GDPR-erased rows resurrected).
    parentId: Option[Long] = None,
    // table schema AT THIS SNAPSHOT: stable field ids + current names +
    // Spark DDL types (Iceberg's schema-per-snapshot). Reads project
    // every data dir to this schema — columns a dir predates backfill as
    // null, dropped columns disappear, renames resolve via the id. Nil =
    // legacy metadata predating schema tracking (reads fall back to the
    // strict by-name union).
    cols: Seq[TableColumn] = Nil,
    // Iceberg's last-column-id high-watermark, carried monotonically:
    // field ids are NEVER reused, so dropping a column and re-adding its
    // name yields a FRESH id and old dirs' data cannot resurrect — even
    // after history expiry erases every snapshot that knew the old id.
    lastColumnId: Int = 0,
    // free-form commit annotations (the Iceberg snapshot SUMMARY):
    // written atomically with the commit itself, so facts that must be
    // exactly-once-per-commit — the streaming (query-id, batch-id)
    // watermark behind idempotent foreachBatch appends — can never
    // drift from the data they describe. Surfaced via `$snapshots`.
    summary: Map[String, String] = Map.empty
)

/** One table column at a snapshot: a stable field id (never reused over
  * the table's lifetime), its current name, and its Spark DDL type.
  */
final case class TableColumn(id: Int, name: String, dataType: String)

/** One equality-delete file: `dir` holds the distinct key tuples,
  * `keys` names the equality columns, `applies` scopes it to the data
  * dirs present at delete time. `format` is the format the delete FILE
  * was written in — recorded per delete because the table's format can
  * change after the delete commits (a conflicting overwrite the delete
  * retried against, a future format-migrating rewrite) and the file
  * must always be read back as what it physically is. None = legacy
  * metadata predating the field (those files were written with their
  * snapshot's then-current format, which has never migrated — read
  * with `snap.format`). Reads know the file's schema without opening
  * it: an equality file's key types are recorded in a
  * `.graft-columns.json` beside it (files written before that sidecar
  * are inferred); a positional file has the fixed
  * [[SnapshotTable.PositionalDeleteSchema]].
  */
final case class EqualityDelete(
    dir: String, keys: Seq[String], applies: Seq[String], format: Option[String] = None,
    // Iceberg v2's SECOND delete-file flavor: a POSITIONAL delete. The
    // file holds (file_path, row_position) pairs instead of key tuples,
    // as Iceberg's position delete files do; reads anti-join on physical
    // row identity (parquet `_metadata.file_path` / `row_index`), so an
    // arbitrary-predicate point delete costs O(matched rows) — no key
    // semantics needed, no data file rewritten. `keys` is then the two
    // position column names, and `applies` the dirs of the named files.
    positional: Boolean = false)

/** A named reference into the snapshot history (Iceberg table refs,
  * spec §4 "Refs"): a `branch` is a movable head that branch writes
  * advance; a `tag` is an immutable bookmark. Both protect their target
  * snapshot (and its data dirs) from retention expiry — Iceberg's
  * ref-retention contract, which is what makes a tag a durable audit
  * pin rather than a name that silently dangles after
  * `expireSnapshots`. Snapshots here are self-contained (each lists
  * every data dir it is composed of), so protecting the TARGET alone is
  * sufficient — no ancestor chain needs to survive for reads.
  *
  * Per-ref retention (Iceberg's branch/tag retention policies):
  *  - `maxRefAgeMs` — the ref ITSELF expires during `expireSnapshots`
  *    once `now − committedAt(target) > maxRefAgeMs` (advancing a
  *    branch refreshes its age; Iceberg's `max-ref-age-ms`);
  *  - `minSnapshotsToKeep` (branches only) — at least this many
  *    snapshots of the branch's STAGED ancestor chain survive expiry
  *    regardless of age (`min-snapshots-to-keep`);
  *  - `maxSnapshotAgeMs` (branches only) — chain snapshots younger
  *    than this survive even past the table-level cutoff
  *    (`max-snapshot-age-ms`).
  * Published (main-lineage) history stays governed by the table-level
  * expiry arguments — branch policies scope to the history only the
  * branch can see, exactly the snapshots main retention cannot reason
  * about.
  */
final case class TableRef(name: String, kind: String, snapshotId: Long,
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None) {
  require(kind == "branch" || kind == "tag", s"ref kind must be branch|tag, got '$kind'")
  require(kind == "branch" || (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
    s"snapshot-retention fields apply to branches only; tag '$name' cannot carry them " +
      "(a tag pins exactly one snapshot — Iceberg rejects these there too)")
  require(maxRefAgeMs.forall(_ > 0) && minSnapshotsToKeep.forall(_ > 0) &&
    maxSnapshotAgeMs.forall(_ > 0),
    s"ref '$name' retention values must be positive")
}

/** A concurrent writer advanced the table between this commit's base
  * read and its metadata swap (the optimistic-commit conflict case).
  */
final case class CommitConflictException(
    table: String, expectedParent: Option[Long], actualParent: Option[Long])
  extends RuntimeException(
    s"Concurrent commit on $table: expected parent snapshot " +
      s"${expectedParent.getOrElse("<none>")}, found ${actualParent.getOrElse("<none>")}")

/** Optimistic commit gave up after exhausting `commit_num_retries`. */
final case class CommitFailedException(table: String, attempts: Int, last: CommitConflictException)
  extends RuntimeException(
    s"Commit to $table failed after $attempts attempts (commit_num_retries exhausted): " +
      last.getMessage, last)

/** The published head moved between stage and publish: publishing would
  * silently drop the rival commit's rows — restage on top of the new head.
  */
final case class PublishConflictException(table: String, snapshotId: Long)
  extends RuntimeException(
    s"Cannot publish staged snapshot $snapshotId of $table: the published head " +
      "advanced since it was staged; discard and restage on the current head")

final class SnapshotTable(val root: String, val fullName: String) {

  import SnapshotTable.Change

  private def metadataPath = Paths.get(root, "metadata.json")

  def exists: Boolean = Files.exists(metadataPath)

  /** The table has PUBLISHED state — what catalog VISIBILITY means.
    * Metadata holding only staged snapshots (an in-flight atomic CTAS's
    * data, crash debris of one) is not a visible table: per the DSv2
    * StagedTable contract no reader, lister or rival CREATE may observe
    * any state before commitStagedChanges publishes it.
    */
  def existsVisible: Boolean = snapshots.exists(s => !s.staged)

  def snapshots: Seq[Snapshot] = MetadataJson.read(metadataPath).map(parse).getOrElse(Nil)

  /** The table's published state: staged (write-audit-publish) snapshots
    * are invisible until published.
    */
  def currentSnapshot: Option[Snapshot] = metadata.head

  /** Read the table at its current snapshot. */
  def read(spark: SparkSession): DataFrame = readSnapshot(spark, requireCurrent.id)

  /** Time travel by timestamp (Iceberg/Athena `FOR SYSTEM_TIME AS OF`):
    * read the newest PUBLISHED snapshot committed at or before `tsMs`.
    * Commit times come from [[SnapshotTable.clockMs]] (wall clock in
    * production, injectable in tests for determinism).
    */
  def readAsOf(spark: SparkSession, tsMs: Long): DataFrame = {
    val eligible = snapshots.filterNot(_.staged).filter(_.committedAtMs <= tsMs)
    val snap = eligible.sortBy(s => (s.committedAtMs, s.id)).lastOption.getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot committed at or before $tsMs " +
          s"(earliest: ${snapshots.map(_.committedAtMs).minOption.getOrElse("<none>")})"))
    readSnapshot(spark, snap.id)
  }

  /** Time travel: read the table as of a snapshot id. The scan is
    * planned from the files the snapshot's metadata records — each
    * dir's files sidecar lists every file with its partition and size,
    * its typed columns sidecar gives the data and partition types — so
    * planning lists no directory, infers no partition type and runs no
    * Spark job, however long the history. A dir without a typed sidecar
    * (written before the types were recorded) infers its data schema.
    */
  def readSnapshot(spark: SparkSession, snapshotId: Long): DataFrame = {
    val snap = metadata.snapshot(snapshotId)
    if (snap.dataDirs.isEmpty) emptyWithSchema(spark, snap)
    else readDirs(spark, snap, snap.dataDirs.map(dirLayout))
  }

  /** The dirs of `layouts` at `snap`'s visibility (masks, schema
    * projection and deletes applied) — the one multi-dir view reads,
    * probes and rewrites go through. Plan size is bounded by the
    * table's layout epochs, not its commits: all dirs of one layout —
    * equal typed columns and partition columns, so one data schema,
    * partition schema and field mapping serve them — share ONE relation
    * over their live files, a masked partition being files left out.
    * Only a delete-scoped dir, or one without a typed sidecar, reads
    * alone. `rowId` adds the named `_metadata` fields as row-identity
    * columns ([[SnapshotTable.FileId]], [[SnapshotTable.RowId]]), so a
    * probe's hits name their files; deletes apply as in a normal read,
    * so a probe never re-matches an already-deleted row. `keep` leaves
    * out the files it rejects.
    */
  private def readDirs(
      spark: SparkSession, snap: Snapshot, layouts: Seq[DirLayout],
      rowId: Seq[(String, String)] = Nil,
      keep: SnapshotFileIndex.DataFile => Boolean = _ => true): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    def dels(l: DirLayout) = snap.deletes.filter(_.applies.contains(l.dir))
    val keyed = layouts.map(l => l.scanKey.filter(_ => dels(l).isEmpty).toRight(l.dir) -> l)
    val groups = keyed.groupMap(_._1)(_._2)
    keyed.map(_._1).distinct.map { k =>
      val ls = groups(k)
      val (posDels, eqDels) = dels(ls.head).partition(_.positional)
      // a positional delete anti-joins on (file, position): physical row
      // identity is read only where one is in scope or the caller asks
      val ids = if (posDels.nonEmpty) SnapshotTable.RowId else rowId
      val base = relation(spark, snap, ls, ls.flatMap(_.live(snap)).map(_.file).filter(keep))
      // schema evolution: project the dirs' PHYSICAL columns (resolved by
      // field id via the schema sidecar) to the snapshot schema — columns
      // a dir predates backfill as null, dropped columns vanish, renames
      // alias. Same-type projections are cast-free, so pushdown and
      // partition pruning are unaffected.
      val projected = projectTo(
        if (ids.isEmpty) base
        else base.select(col("*") +: ids.map { case (f, a) => col(s"_metadata.$f").as(a) }: _*),
        snap.cols, ls.head.mapping(snap.cols), extra = ids.map(i => col(i._2)))
      val afterPos = posDels.foldLeft(projected) { (df, del) =>
        df.join(broadcast(readDeleteFile(spark, del, snap.format)),
          SnapshotTable.RowId.map(_._2), "left_anti")
      }
      // equality deletes are key tuples (tiny, broadcast); data appended
      // after the delete is out of scope by construction. Delete keys
      // are delete-time column names; renaming an active delete's key
      // column is rejected, so they match current names.
      val unasked = ids.diff(rowId).map(_._2)
      eqDels.foldLeft(if (unasked.isEmpty) afterPos else afterPos.drop(unasked: _*)) { (df, del) =>
        df.join(broadcast(readDeleteFile(spark, del, snap.format)), del.keys, "left_anti")
      }
    }.reduce(_ unionByName _)
  }

  private def emptyWithSchema(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.cols.isEmpty) spark.emptyDataFrame
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(snap.cols.map(c =>
        org.apache.spark.sql.types.StructField(
          c.name, org.apache.spark.sql.types.DataType.fromDDL(c.dataType)))))

  /** Project `df` to the snapshot schema `cols`, resolving each field id
    * to its column of `df` via `mapping` (a dir's physical column, or a
    * changelog frame's name at its own snapshot). No-op for legacy snapshots
    * (empty cols). Same-type references skip the cast entirely so the
    * projection never blocks filter pushdown or partition pruning. Types
    * that differ only in nullability are the same type: every scan reads
    * nested fields nullable, and no cast adds a struct field's NOT NULL.
    */
  private def projectTo(
      df: DataFrame, cols: Seq[TableColumn], mapping: Map[Int, String],
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    if (cols.isEmpty) df
    else {
      import org.apache.spark.sql.catalyst.types.DataTypeUtils
      import org.apache.spark.sql.functions.{col, lit}
      val present = df.columns.toSet
      df.select(cols.map { c =>
        val t = org.apache.spark.sql.types.DataType.fromDDL(c.dataType)
        mapping.get(c.id).filter(present.contains) match {
          case Some(phys) =>
            val base = col(phys)
            val same = DataTypeUtils.equalsIgnoreNullability(df.schema(phys).dataType, t)
            (if (same) base else base.cast(t)).as(c.name)
          case None => lit(null).cast(t).as(c.name)
        }
      } ++ extra: _*)
    }

  /** Equality delete (Iceberg v2 merge-on-read) — the GDPR / right-to-be-
    * forgotten primitive a training-data lake needs: erase every row whose
    * key columns match `keys`, in O(|keys|) write cost, without rewriting
    * a single data file. The distinct key tuples are written as a delete
    * file; reads anti-join it (broadcast — delete files are small) against
    * exactly the data dirs that existed at delete time, so rows APPENDED
    * after the delete with the same key survive (re-registration after
    * erasure). [[compact]] applies deletes physically and drops them —
    * the merge-on-read debt is paid once, at maintenance time.
    *
    * The recorded row count is restated with one column-pruned semi-join
    * count over the applicable dirs (the only data touched; Iceberg
    * reports estimates here — we afford exactness because the count job
    * reads key columns only). The count is a per-attempt step of
    * [[withCommitRetries]]: data dirs are immutable, so it is stable for
    * a given base and concurrent appends never queue behind an
    * erasure's table scan.
    */
  def deleteWhere(
      keys: DataFrame, keyCols: Seq[String],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"delete keys frame must carry ${keyCols.mkString(", ")} (has: ${keys.columns.mkString(", ")})")
    val spark = keys.sparkSession
    val base = requireCurrent
    val delDir = freshDir("snap-del-")
    val keyRows = keys.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    keyRows.write.mode("overwrite").format(base.format).save(delDir)
    // the key frame's types are not the table's (the caller's literals),
    // so the delete file records them the way a data dir does: every
    // read of it then knows its schema
    val ids = base.cols.map(c => c.name -> c.id).toMap
    writeColumnsSidecar(delDir, keyRows.schema.fields.toSeq.map(f =>
      TableColumn(ids.getOrElse(f.name, 0), f.name, f.dataType.sql)))
    val delFile = EqualityDelete(delDir, keyCols, Nil, Some(base.format))

    withCommitRetries(numRetries, written = Seq(delDir)) { attempt =>
      val audit = Map("operation" -> "equality_delete", "mode" -> WriteMode.MergeOnRead.name,
        "attempts" -> (attempt + 1).toString)
      // a retry rebases onto the rival's head: its dirs enter the
      // delete's scope (the delete commits after the rival)
      val cur = if (attempt == 0) base else requireCurrent
      // restate the count unserialized: matching rows in the base head's
      // dirs, one key-columns-only job over that (immutable) merged view
      val removed =
        if (cur.rowCount < 0) -1L
        else readSnapshot(spark, cur.id)
          .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
          // the delete FILE was written once, with the original base
          // head's format — a conflict can move `cur` to a head whose
          // format differs (rival overwrite), but the file's bytes don't
          .join(org.apache.spark.sql.functions.broadcast(
            readDeleteFile(spark, delFile, base.format)), keyCols, "left_semi")
          .count()
      val total = if (cur.rowCount < 0 || removed < 0) -1L else cur.rowCount - removed
      Right(Swap(Some(cur.id), audit) { (_, _, id) =>
        // cur.copy: dirs, format, masks, SCHEMA and watermark all carry
        cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
          operation = "delete", rowCount = total, staged = false,
          summary = SnapshotTable.carriedSummary(cur.summary),
          deletes = cur.deletes :+ delFile.copy(applies = cur.dataDirs),
          parentId = Some(cur.id))
      })
    }
  }

  /** Consolidate the ACTIVE positional delete files into one (Iceberg's
    * `rewrite_position_deletes` maintenance action): trickle CDC leaves
    * one small delete file per commit, and every read of a scoped dir
    * pays one anti-join per file — this folds them into a single
    * broadcast without touching any data file. Sound because a
    * (file, position) pair can only ever match rows of exactly the
    * file it names — the pairs SELF-SCOPE — so the merged entry's dir
    * scope is simply the union of the originals' (intersected with the
    * current dirs). Logical content is identical, so the commit is a
    * layout-only 'replace' (the changelog skips it, like compaction).
    * Old delete files stay on disk for time travel; expiry reclaims
    * them with their snapshots. Fewer than two files is a no-op.
    */
  def consolidatePositionalDeletes(
      spark: SparkSession,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    withCommitRetries(numRetries) { _ =>
      val cur = requireCurrent
      val (pos, eq) = cur.deletes.partition(_.positional)
      if (pos.size < 2) Left(cur)
      else {
        val union = pos.map(readDeleteFile(spark, _, cur.format))
          .reduce(_ unionByName _).distinct()
        val delDir = freshDir("snap-posdel-")
        union.write.mode("overwrite").format(cur.format).save(delDir)
        val applies = pos.flatMap(_.applies).distinct.filter(cur.dataDirs.contains)
        Right(Swap(Some(cur.id), Map("operation" -> "rewrite_position_deletes"),
          dirs = Seq(delDir)) { (_, _, id) =>
          cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
            operation = "replace", staged = false,
            summary = SnapshotTable.carriedSummary(cur.summary),
            deletes = eq :+ positionalDelete(delDir, applies, cur.format),
            parentId = Some(cur.id))
        })
      }
    }

  // ------------------------------------------------------------------
  // row-level DELETE / UPDATE / MERGE: three verbs, one executor per
  // WriteMode
  // ------------------------------------------------------------------

  /** Row-level DELETE of the `rows` selection in the `mode` shape (see
    * [[WriteMode]]): SQL DELETE removes the rows where the condition is
    * TRUE. The companion of [[deleteWhere]], which stays the right tool
    * for key equality (O(|keys|), no probe).
    */
  def delete(
      spark: SparkSession,
      rows: Rows,
      mode: WriteMode = WriteMode.CopyOnWrite,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    rowLevel(spark, "delete", mode, numRetries) { _ =>
      RowLevel(Some(rows),
        rewrite = rows match {
          // a condition's closed-form complement; otherwise the exact
          // multiset complement — null- and NaN-safe, duplicate-exact
          case Rows.Where(cond) => _.filter(not(coalesce(cond, lit(false))))
          case _ => v => v.exceptAll(rows(v))
        },
        revise = v => (rowIds(rows(v)), None),
        observable = rows.isInstanceOf[Rows.Where])
    }
  }

  /** Row-level UPDATE of the `rows` selection in the `mode` shape (see
    * [[WriteMode]]). `sets` values may reference any table column (by
    * name) and are cast to the column's declared type (Iceberg
    * assignment-cast semantics).
    */
  def update(
      spark: SparkSession,
      rows: Rows,
      sets: Map[String, Column],
      mode: WriteMode = WriteMode.CopyOnWrite,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.{col, when}
    require(sets.nonEmpty, s"UPDATE on $fullName needs at least one assignment")
    rowLevel(spark, "update", mode, numRetries) { cur =>
      val schemaCols = snapshotSchema(spark, cur)
      val names = schemaCols.map(_._1)
      sets.keys.foreach(k => require(names.contains(k),
        s"UPDATE on $fullName assigns unknown column $k (columns: ${names.mkString(", ")})"))
      // every column, assigned where `hit` holds (everywhere for None)
      def assigned(hit: Option[Column]): Seq[Column] = schemaCols.map { case (n, t) =>
        sets.get(n).map(v => hit.fold(v.cast(t))(when(_, v.cast(t)).otherwise(col(n))).as(n))
          .getOrElse(col(n))
      }
      RowLevel(Some(rows),
        rewrite = rows match {
          case Rows.Where(cond) => _.select(assigned(Some(cond)): _*)
          case _ => v =>
            val matched = rows(v)
            v.exceptAll(matched).select(names.map(col): _*)
              .unionByName(matched.select(assigned(None): _*))
        },
        revise = v => {
          val matched = rows(v)
          (rowIds(matched), Some(matched.select(assigned(None): _*)))
        },
        keepsRowCount = true)
    }
  }

  /** MERGE INTO (SQL MERGE) in the `mode` shape (see [[WriteMode]]):
    * `source` joins the table on equality `keys` (target-key ->
    * source-key column pairs) and ordered `WHEN MATCHED [AND cond]` /
    * `WHEN NOT MATCHED [AND cond]` / `WHEN NOT MATCHED BY SOURCE [AND
    * cond]` clauses apply, each list first-true-wins per row (SQL
    * semantics). The SQL cardinality rule is enforced before any write.
    * Copy-on-write finds the touched files with one key-pruned broadcast
    * join — a semi-join for matched clauses, an anti-join plus the
    * clauses' target-only conditions for BY SOURCE ones — conservative
    * under clause conditions: it rewrites a detected file whose rows all
    * fail every condition byte-identical rather than run the full source
    * join up front. Cost is O(affected files + source).
    */
  def merge(
      sourceIn: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[Merge.WhenMatched],
      notMatched: Seq[Merge.WhenNotMatched],
      notMatchedBySource: Seq[Merge.WhenNotMatchedBySource] = Nil,
      mode: WriteMode = WriteMode.CopyOnWrite,
      numRetries: Int = SnapshotTable.DefaultCommitRetries,
      summary: Map[String, String] = Map.empty): Snapshot = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val source = materializeSource(sourceIn)
    val spark = source.sparkSession
    require(keys.nonEmpty, s"MERGE into $fullName needs at least one key pair")
    keys.foreach { case (_, sk) =>
      require(source.columns.contains(sk),
        s"MERGE source lacks key column $sk (has: ${source.columns.mkString(", ")})")
    }
    val keyNames = keys.map(_._1)
    // duplicated source keys — an error only if one of them MATCHES a
    // target row (the SQL cardinality rule: no target row may be
    // updated/deleted twice). Duplicate keys among not-matched rows are
    // legal — they all insert. Checked per attempt against the current
    // head; the common no-dups case costs one source-side job and never
    // touches the table.
    val dupKeys = source.groupBy(keys.map { case (_, sk) => col(sk) }: _*).count()
      .filter(col("count") > 1)
      .select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*)
    val hasDupKeys = dupKeys.limit(1).count() > 0L

    rowLevel(spark, "merge", mode, numRetries, summary) { cur =>
      val schemaCols = snapshotSchema(spark, cur)
      keyNames.foreach(tk => require(schemaCols.exists(_._1 == tk),
        s"MERGE into $fullName keys on unknown column $tk"))
      // the target's distinct key tuples: one column-pruned scan,
      // reused by the cardinality check and the insert anti-join
      lazy val tableKeys = readSnapshot(spark, cur.id).select(keyNames.map(col): _*).distinct()
      if (hasDupKeys)
        require(dupKeys.join(tableKeys, keyNames, "left_semi").limit(1).count() == 0L,
          s"MERGE into $fullName: multiple source rows share a key that matches a " +
            "target row — the SQL cardinality rule forbids updating one target row " +
            "twice (dedupe the source)")
      // touched-row shapes: matched clauses touch the key semi-join, BY
      // SOURCE clauses the anti-join rows some clause condition admits —
      // a delivery covering every key leaves untouched dirs untouched
      val srcKeys = broadcast(
        source.select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*).distinct())
      val bySourceCond = notMatchedBySource
        .map(c => coalesce(c.cond.getOrElse(lit(true)), lit(false))).reduceOption(_ || _)
      val shapes: Seq[DataFrame => DataFrame] =
        Option.when(matched.nonEmpty)((v: DataFrame) => v.join(srcKeys, keyNames, "left_semi")).toSeq ++
          bySourceCond.map(c => (v: DataFrame) =>
            v.join(srcKeys, keyNames, "left_anti").alias("__t").filter(c))

      val src = source.withColumn("__s_present", lit(true)).alias("__s")
      val joinCond = keys.map { case (tk, sk) => col(s"__t.$tk") === col(s"__s.$sk") }.reduce(_ && _)
      def joined(v: DataFrame) = v.alias("__t").join(src, joinCond, "left_outer")
      // matched clauses chain off the match predicate, BY SOURCE clauses
      // off its negation — two first-true-wins lists over disjoint rows
      val matchedCol = col("__s.__s_present").isNotNull
      val clauses = clausePreds(matchedCol, matched.map(_.cond)).zip(matched.map(_.action)) ++
        clausePreds(!matchedCol, notMatchedBySource.map(_.cond)).zip(notMatchedBySource.map(_.action))
      clauses.foreach {
        case (_, Merge.Update(sets)) => sets.keys.foreach(k => require(
          schemaCols.exists(_._1 == k), s"MERGE into $fullName assigns unknown column $k"))
        case _ => ()
      }
      val deleted = clauses.collect { case (p, Merge.Delete) => p }.reduceOption(_ || _)
        .getOrElse(lit(false))
      val revised = schemaCols.map { case (n, t) =>
        val keep = col(s"__t.$n")
        firstTrue(clauses.flatMap { case (p, action) =>
          (action match {
            case Merge.UpdateAll => Option.when(source.columns.contains(n))(col(s"__s.$n").cast(t))
            case Merge.Update(sets) => sets.get(n).map(_.cast(t))
            case _ => None // deleted rows are filtered out
          }).map(p -> _)
        }).map(_.otherwise(keep)).getOrElse(keep).as(n)
      }
      // unmatched source rows table-wide: an anti-join against the key
      // columns only (a column-pruned scan of the table)
      val inserts = Option.when(notMatched.nonEmpty) {
        val preds = clausePreds(lit(true), notMatched.map(_.cond))
        source.alias("__s").join(tableKeys.alias("__t"), joinCond, "left_anti")
          .filter(preds.reduce(_ || _))
          .select(schemaCols.map { case (n, t) =>
            // every surviving row satisfies some pred; the otherwise is
            // unreachable but keeps the column total
            firstTrue(preds.zip(notMatched.map(_.action match {
              case Merge.InsertAll =>
                keys.find(_._1 == n).map(_._2).orElse(Some(n).filter(source.columns.contains))
                  .map(sn => col(s"__s.$sn").cast(t)).getOrElse(lit(null).cast(t))
              case Merge.Insert(sets) => sets.get(n).map(_.cast(t)).getOrElse(lit(null).cast(t))
            }))).get.otherwise(lit(null).cast(t)).as(n)
          }: _*)
      }
      RowLevel(Option.when(shapes.nonEmpty)(Rows.Matching(v => shapes.map(_(v)).reduce(_ unionByName _))),
        rewrite = joined(_).filter(!deleted).select(revised: _*),
        revise = v => {
          val hit = joined(v).filter(clauses.map(_._1).reduce(_ || _))
          (rowIds(hit, "__t."), Some(hit.filter(!deleted).select(revised: _*)))
        },
        inserts = inserts)
    }
  }

  /** [[merge]] with at most one unconditional clause per side — the
    * single-action upsert shape: matched target rows update (from the
    * source row or explicit assignments) or delete, unmatched source
    * rows insert.
    */
  def mergeInto(
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Merge.Matched,
      notMatched: Merge.NotMatched,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    merge(source, keys,
      Seq(matched).filter(_ != Merge.KeepMatched).map(Merge.WhenMatched(_)),
      Seq(notMatched).filter(_ != Merge.Ignore).map(Merge.WhenNotMatched(_)),
      numRetries = numRetries)

  /** One attempt's row-level statement against its base snapshot, in the
    * terms both executors of [[rowLevel]] share: `touched` selects the
    * touched rows from a frame of table rows (None: the statement touches
    * none, an insert-only MERGE). Copy-on-write replaces every row of
    * the touched files by `rewrite` (untouched rows verbatim, deleted
    * rows dropped); merge-on-read maps a row-id probe of the table by
    * `revise` to the touched rows' ids and their surviving new versions.
    * `inserts` are new rows. Unless the statement `keepsRowCount`
    * (UPDATE), copy-on-write counts the rows it replaces by an
    * Observation on the rewrite write when `rewrite` reads its frame once
    * (`observable`), else by one count job.
    */
  private case class RowLevel(
      touched: Option[Rows],
      rewrite: DataFrame => DataFrame,
      revise: DataFrame => (DataFrame, Option[DataFrame]),
      inserts: Option[DataFrame] = None,
      keepsRowCount: Boolean = false,
      observable: Boolean = true)

  /** The one row-level commit path: every attempt of
    * [[withCommitRetries]] compiles the statement against the current
    * head (so a retry re-probes; positions denote rows of exactly that
    * snapshot's files, and a rival's rewrite must be re-observed, never
    * re-scoped) and runs the `mode`'s executor over the head's dirs. A
    * statement that touches no row and inserts none is a NO-OP:
    * committing would bloat history (the insert check is one limit-1
    * job). Each commit logs its operation, mode and attempt count.
    */
  private def rowLevel(
      spark: SparkSession, op: String, mode: WriteMode, numRetries: Int,
      summary: Map[String, String] = Map.empty)(compile: Snapshot => RowLevel): Snapshot =
    withCommitRetries(numRetries) { attempt =>
      val cur = requireCurrent
      require(mode == WriteMode.CopyOnWrite || cur.format == "parquet",
        s"${mode.name} ${op.toUpperCase} needs parquet row identity (_metadata.row_index); " +
          s"$fullName is ${cur.format} — use WriteMode.CopyOnWrite")
      val p = compile(cur)
      val audit = Map("operation" -> op, "mode" -> mode.name, "attempts" -> (attempt + 1).toString)
      lazy val noInserts = p.inserts.forall(_.isEmpty)
      val layouts = cur.dataDirs.map(dirLayout)
      // the table-wide probe view, with each row's identity
      def probe(rowId: Seq[(String, String)]): Option[DataFrame] =
        p.touched.filter(_ => layouts.nonEmpty).map(_ => readDirs(spark, cur, layouts, rowId))
      if (mode == WriteMode.CopyOnWrite)
        copyOnWrite(spark, cur, op, p, audit, layouts, probe(SnapshotTable.FileId), noInserts)
      else mergeOnRead(spark, cur, op, p, audit, summary, layouts, probe(SnapshotTable.RowId), noInserts)
    }

  /** Copy-on-write: ONE probe of the table finds the touched files, and
    * their dirs are the touched dirs. A touched dir that is CLEAN (no
    * partition mask, no delete scoped to it: a mask or delete carried at
    * file granularity would resurrect its rows) splits file by file —
    * its untouched files [[carry]] and only the touched files' rows are
    * rewritten, so a mutation of a few rows of a huge dir costs
    * O(touched files), never O(dir). A hit no recorded file resolves
    * leaves its dir unknown: every dir is then touched and none splits,
    * as misclassifying a touched file as carried would silently lose its
    * mutation. The rewritten rows plus the inserts are one new dir,
    * swapped for the touched dirs.
    */
  private def copyOnWrite(
      spark: SparkSession, cur: Snapshot, op: String, p: RowLevel,
      audit: Map[String, String], layouts: Seq[DirLayout], probe: Option[DataFrame],
      noInserts: => Boolean): Either[Snapshot, Swap] = {
    import org.apache.spark.sql.functions.{count, lit}
    val hits = probe.fold(Set.empty[String])(v => p.touched.get(v)
      .select(SnapshotTable.RowIdFileCol).distinct().collect()
      .map(r => SnapshotTable.fileUriToPath(r.getString(0))).toSet)
    val resolved = holding(layouts, hits)
    val touched = resolved.getOrElse(layouts)
    if (touched.isEmpty && noInserts) Left(cur)
    else {
      val carried = touched.filter(l => resolved.isDefined &&
        cur.maskedDirs.get(l.dir).forall(_.isEmpty) && !cur.deletes.exists(_.applies.contains(l.dir)))
        .map(l => l -> l.files.filterNot(f => hits(f.file.path))).filter(_._2.nonEmpty)
      val carryDirs = carried.map { case (l, fs) => carry(l, fs, cur.format) }
      val carriedFiles = carried.flatMap(_._2.map(_.file.path)).toSet
      // the rewrite reads ONLY the touched files
      val view = Option.when(touched.nonEmpty)(
        readDirs(spark, cur, touched, keep = f => !carriedFiles(f.path)))
      // the replaced-row count rides the rewrite write, never a separate
      // pass over the touched dirs; a lost metric reads -1
      val obs = Option.when(!p.keepsRowCount && p.observable && cur.rowCount >= 0)(
        org.apache.spark.sql.Observation(s"graft-affected-${java.util.UUID.randomUUID().toString.take(8)}"))
      val rewritten = view.map(v => p.rewrite(obs.fold(v)(v.observe(_, count(lit(1)).as("__affected")))))
      def replaced: Long = view.fold(0L)(v => obs.fold(v.count())(_.get.get("__affected") match {
        case Some(l: Long) => l
        case _ => -1L
      }))
      Right(rewriteDirs(cur, touched.map(_.dir), (rewritten.toSeq ++ p.inserts).reduce(_ unionByName _),
        op, audit, carryDirs) { written =>
        if (p.keepsRowCount) cur.rowCount
        else if (cur.rowCount < 0) -1L
        else { val r = replaced; if (r < 0) -1L else cur.rowCount - r + written }
      })
    }
  }

  /** The dirs of `layouts` holding the probe-hit `files` (local paths);
    * None when some hit names no file the layouts record.
    */
  private def holding(layouts: Seq[DirLayout], files: Set[String]): Option[Seq[DirLayout]] = {
    val dirOf = layouts.flatMap(_.files.map(f => f.file.path -> f.file.dir)).toMap
    Option.when(files.forall(dirOf.contains)) {
      val dirs = files.map(dirOf)
      layouts.filter(l => dirs(l.dir))
    }
  }

  /** Merge-on-read: map the row-id `probe` of the table to the touched
    * rows, write their positions as one delete file, and append their
    * surviving new versions plus the inserts in the same commit.
    */
  private def mergeOnRead(
      spark: SparkSession, cur: Snapshot, op: String, p: RowLevel,
      audit: Map[String, String], summary: Map[String, String],
      layouts: Seq[DirLayout], probe: Option[DataFrame],
      noInserts: => Boolean): Either[Snapshot, Swap] = {
    val touched = probe.map(p.revise)
    val del = touched.flatMap { case (ids, _) => writePositions(spark, cur, layouts, ids) }
    if (del.isEmpty && noInserts) Left(cur)
    else (touched.flatMap(_._2).toSeq ++ p.inserts).reduceOption(_ unionByName _) match {
      case None =>
        val (delDir, removed, applies) = del.get
        Right(Swap(Some(cur.id), audit, dirs = Seq(delDir)) { (_, _, id) =>
          cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
            operation = op, rowCount = if (cur.rowCount < 0) -1L else cur.rowCount - removed,
            staged = false, summary = SnapshotTable.carriedSummary(cur.summary),
            deletes = cur.deletes :+ positionalDelete(delDir, applies, cur.format),
            parentId = Some(cur.id))
        })
      case Some(rows) =>
        // the appended dir keeps the table's partition layout, so pruning
        // governs the revised and inserted rows too
        val w = writeDataDir(rows, partitionColumns.filter(rows.columns.contains),
          WriteSortOrder.sortCols(this), cur.format)
        Right(commitSwap(w, Some(cur.id), op, carryPrevious = true, cur.format, audit,
          dirs = del.map(_._1).toSeq :+ w.dir, summary = summary, posDelete = del))
    }
  }

  /** Write touched rows' (file, position) ids as one positional delete
    * file. One job over that small file, grouped by file, yields both
    * the removed count and the files, whose dirs of `layouts` the delete
    * scopes to — so the table-sized probe never runs again just to count,
    * and a one-row delete scopes to one dir. A file no layout records
    * scopes it to every probed dir, never to fewer. None, with the file
    * removed, if nothing matched.
    */
  private def writePositions(
      spark: SparkSession, cur: Snapshot, layouts: Seq[DirLayout],
      ids: DataFrame): Option[(String, Long, Seq[String])] = {
    val dir = freshDir("snap-posdel-")
    ids.write.mode("overwrite").format(cur.format).save(dir)
    val hits = load(spark, cur.format, Some(SnapshotTable.PositionalDeleteSchema), Seq(dir))
      .groupBy(SnapshotTable.RowIdFileCol).count().collect()
    val removed = hits.map(_.getLong(1)).sum
    if (removed == 0L) { deleteRecursively(new File(dir)); None }
    else Some((dir, removed, holding(layouts, hits.map(h => SnapshotTable.fileUriToPath(h.getString(0))).toSet)
      .getOrElse(layouts).map(_.dir)))
  }

  /** The positional delete entry for delete file `dir`, scoped to `applies`. */
  private def positionalDelete(dir: String, applies: Seq[String], format: String) =
    EqualityDelete(dir, SnapshotTable.RowId.map(_._2), applies, Some(format), positional = true)

  /** The row ids of a frame derived from a row-id probe; `q` qualifies
    * them inside a join.
    */
  private def rowIds(df: DataFrame, q: String = ""): DataFrame =
    df.select(SnapshotTable.RowId.map { case (_, c) => org.apache.spark.sql.functions.col(q + c).as(c) }: _*)

  /** First-true-wins clause predicates: pred_i = base && !c_0 && ... &&
    * !c_{i-1} && c_i, with a NULL condition treated as
    * not-applied-but-keep-looking (coalesce to false).
    */
  private def clausePreds(base: Column, conds: Seq[Option[Column]]): Seq[Column] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    var remaining = base
    conds.map { c =>
      val cTrue = coalesce(c.getOrElse(lit(true)), lit(false))
      val p = remaining && cTrue
      remaining = remaining && !cTrue
      p
    }
  }

  /** `CASE WHEN p_0 THEN v_0 WHEN p_1 THEN v_1 ...` over `cases`; None
    * when there are none.
    */
  private def firstTrue(cases: Seq[(Column, Column)]): Option[Column] =
    cases.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
      Some(acc.fold(org.apache.spark.sql.functions.when(p, v))(_.when(p, v)))
    }

  /** The table schema as (name, Spark DataType) at `snap` — from the
    * tracked snapshot schema, or one footer read for legacy tables.
    */
  private def snapshotSchema(
      spark: SparkSession, snap: Snapshot): Seq[(String, org.apache.spark.sql.types.DataType)] =
    if (snap.cols.nonEmpty)
      snap.cols.map(c => c.name -> org.apache.spark.sql.types.DataType.fromDDL(c.dataType))
    else readSnapshot(spark, snap.id).schema.fields.toSeq.map(f => f.name -> f.dataType)

  /** Carry `files` of the clean dir `d` byte-identical into a fresh
    * `snap-*-carry` dir as HARD links — same inode, zero data I/O, and
    * safe against the original dir's later expiry (a symlink would
    * dangle; an object-store port makes this a manifest reference /
    * server-side copy) — and return it. The carry dir inherits the
    * original's columns sidecar (same physical files), its files' recorded
    * rows (a legacy dir's unknown ones counted from the files), and the
    * original's column ranges as recorded, rows included: bounds over a
    * superset are conservative, and the null counts stay relative to the
    * rows they were counted over, so none proves the carry all null.
    * Cost: O(carried files) metadata.
    */
  private def carry(l: DirLayout, files: Seq[DirFile], format: String): String = {
    val d = l.dir
    val carryDir = Paths.get(root,
      s"snap-${java.util.UUID.randomUUID().toString.take(8)}-carry").toString
    val dBase = Paths.get(d).toAbsolutePath
    val carried = files.map { f =>
      val src = Paths.get(f.file.path)
      val target = Paths.get(carryDir, dBase.relativize(src).toString)
      Files.createDirectories(target.getParent)
      try Files.createLink(target, src): Unit
      catch { case _: java.io.IOException => Files.copy(src, target): Unit }
      f.copy(file = f.file.copy(path = target.toAbsolutePath.toString, dir = carryDir))
    }
    // columns sidecar: identical physical files, identical mapping
    if (Files.exists(columnsSidecarPath(d)))
      Files.copy(columnsSidecarPath(d), columnsSidecarPath(carryDir),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    writeFilesSidecar(carryDir, carried, format, l.ranges)
    carryDir
  }

  /** One copy-on-write commit attempt: write `replacement` as a new dir
    * through [[writeDataDir]] (the table's partition layout, bloom
    * filters and write distribution hold) and return the [[Swap]] to a
    * snapshot that drops `removedDirs` (and their masks / delete scopes —
    * the rewrite baked them in) and adds `carryDirs` (hard-linked sibling
    * files of split dirs) and the new dir, unless it holds no row.
    * `total` maps the written row count to the new snapshot's.
    */
  private def rewriteDirs(
      base: Snapshot,
      removedDirs: Seq[String],
      replacement: DataFrame,
      op: String,
      audit: Map[String, String],
      carryDirs: Seq[String] = Nil)(total: Long => Long): Swap = {
    val w = writeDataDir(replacement, partitionColumns.filter(replacement.columns.contains),
      WriteSortOrder.sortCols(this), base.format)
    if (!w.empty && base.cols.nonEmpty) writeColumnsSidecar(w.dir, base.cols)
    val newTotal = total(w.rows)
    Swap(Some(base.id), audit + ("rewritten_dirs" -> removedDirs.size.toString),
      dirs = carryDirs :+ w.dir) { (_, _, id) =>
      val removed = removedDirs.toSet
      base.copy(
        id = id, committedAtMs = SnapshotTable.clockMs(), operation = op,
        dataDirs = base.dataDirs.filterNot(removed) ++ carryDirs ++ Seq(w.dir).filterNot(_ => w.empty),
        rowCount = newTotal,
        maskedDirs = base.maskedDirs -- removed,
        staged = false,
        summary = SnapshotTable.carriedSummary(base.summary),
        deletes = base.deletes
          .map(d => d.copy(applies = d.applies.filterNot(removed)))
          .filter(_.applies.nonEmpty),
        parentId = Some(base.id))
    }
  }

  /** Incremental read: the rows ADDED between snapshot `fromId`
    * (exclusive) and snapshot `toId` (inclusive) — the changelog
    * consumption path that lets a downstream job (feature refresh,
    * training-corpus delta ingest) process only what is new instead of
    * re-scanning the table. Implemented as set difference over the two
    * snapshots' data-directory lists, so the scan I/O is O(delta)
    * regardless of table size — append commits reference the previous
    * dirs plus one new dir, and only the new dirs are read (Iceberg's
    * incremental append scan has the same contract). Only meaningful
    * along an append lineage: an intervening overwrite drops the old
    * dirs, so the "delta" is that snapshot's full rewritten state.
    * A dynamic partition overwrite's delta is its new dir (the rows it
    * ADDED); the rows it masked out of carried dirs are deletions, which
    * an additive changelog does not carry.
    */
  def readIncremental(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    val m = metadata
    require(fromId <= toId, s"fromId $fromId must be <= toId $toId")
    val from = m.snapshot(fromId).dataDirs.toSet
    val to = m.snapshot(toId)
    val delta = to.dataDirs.filterNot(from)
    // delta dirs read whole: no mask or delete of `to` applies to the
    // rows a commit added, so each is read as `to` without them
    def read(dirs: Seq[String]): DataFrame =
      readDirs(spark, to.copy(maskedDirs = Map.empty, deletes = Nil), dirs.map(dirLayout))
    if (delta.isEmpty)
      // the steady-state "no new data" case must still carry the TABLE
      // schema — a schema-less empty frame would crash downstream
      // consumers (select on named columns) instead of processing 0 rows
      to.dataDirs.headOption match {
        case Some(d) => read(Seq(d)).limit(0)
        case None => emptyWithSchema(spark, to) // table has never held data
      }
    else
      // each delta dir projected to the TO snapshot's schema, so the
      // changelog consumer sees one stable shape across evolution
      read(delta)
  }

  /** Batch CHANGELOG read (the Iceberg `table_changes` / Delta CDF
    * role): every row-level change across the published snapshots in
    * `(fromId, toId]`, as the table columns at the `to` schema plus
    * `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.
    * Step-by-step dir diff, so scan I/O is O(changed dirs), never
    * O(table):
    *
    *  - appended dirs -> 'insert' rows;
    *  - dropped dirs -> 'delete' rows AT THE PRIOR SNAPSHOT'S
    *    VISIBILITY (masks + equality deletes applied);
    *  - a dynamic overwrite's newly masked partitions -> 'delete' rows
    *    of exactly those partitions;
    *  - a new equality delete -> 'delete' rows = its keys semi-joined
    *    against the applicable dirs (the erased rows themselves, not
    *    just the keys);
    *  - copy-on-write rewrites (UPDATE/MERGE) surface as the rewritten
    *    dirs' deletes + the replacement dir's inserts — file-level
    *    granularity, exactly Iceberg's changelog contract for
    *    overwrites;
    *  - layout-only snapshots (compaction/z-order, operation
    *    'replace') emit NOTHING: the logical content is identical, and
    *    a changelog consumer must not see a full delete+reinsert of
    *    the table (Iceberg's changelog skips REPLACE the same way).
    */
  def readChangelog(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val m = metadata
    require(fromId <= toId, s"fromId $fromId must be <= toId $toId")
    m.snapshot(fromId): Unit
    val to = m.snapshot(toId)
    val chain = m.snapshots.filterNot(_.staged)
      .filter(s => s.id >= fromId && s.id <= toId).sortBy(_.id)

    // `df` is at `src`'s schema: its columns resolve to `to`'s by field
    // id, by name only for a legacy `src` that tracks no schema
    def stamp(df: DataFrame, src: Snapshot, tpe: String, commitId: Long): DataFrame =
      projectTo(df, to.cols, (if (src.cols.nonEmpty) src.cols else to.cols).map(c => c.id -> c.name).toMap)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(commitId))

    val parts: Seq[DataFrame] = chain.sliding(2).flatMap {
      case Seq(prev, cur) if cur.operation != "replace" =>
        val prevDirs = prev.dataDirs.toSet
        val curDirs = cur.dataDirs.toSet
        val added = cur.dataDirs.filterNot(prevDirs)
        val dropped = prev.dataDirs.filterNot(curDirs)
        val inserts = Option.when(added.nonEmpty)(
          stamp(readDirs(spark, cur, added.map(dirLayout)), cur, "insert", cur.id))
        val dirDeletes = Option.when(dropped.nonEmpty)(
          stamp(readDirs(spark, prev, dropped.map(dirLayout)), prev, "delete", cur.id))
        // a dynamic overwrite masks partitions of carried dirs instead
        // of dropping the dirs — the newly masked slices are deletes
        val maskDeletes = cur.maskedDirs.toSeq.sortBy(_._1).flatMap { case (d, curMask) =>
          if (!prevDirs.contains(d) || !curDirs.contains(d)) None
          else {
            val newly = curMask.filterNot(
              prev.maskedDirs.getOrElse(d, Seq.empty).toSet)
            if (newly.isEmpty) None
            else {
              val l = dirLayout(d)
              val files = l.files.collect { case f if newly.contains(f.partition) => f.file.path }.toSet
              Some(stamp(readDirs(spark, prev, Seq(l), keep = f => files(f.path)), prev, "delete", cur.id))
            }
          }
        }
        // new equality deletes: the erased ROWS (keys semi-joined over
        // the dirs the delete scopes to, at prior visibility)
        val prevDeleteDirs = prev.deletes.map(_.dir).toSet
        val keyDeletes = cur.deletes.filterNot(d => prevDeleteDirs.contains(d.dir))
          .flatMap { del =>
            val applicable = del.applies.filter(prevDirs.contains)
            // a POSITIONAL delete's "keys" are the physical row-identity
            // columns — they exist only on a row-id read; semi-join
            // there and drop the identity columns before stamping (the
            // changelog consumer sees table columns only). This also
            // makes a merge-on-read UPDATE/MERGE commit surface exactly
            // as Iceberg's changelog contract: erased old versions as
            // 'delete', the commit's new dir as 'insert'.
            Option.when(applicable.nonEmpty) {
              val rowId = if (del.positional) SnapshotTable.RowId else Nil
              val erased = readDirs(spark, prev, applicable.map(dirLayout), rowId)
                .join(broadcast(readDeleteFile(spark, del, prev.format)), del.keys, "left_semi")
              stamp(if (rowId.isEmpty) erased else erased.drop(rowId.map(_._2): _*),
                prev, "delete", cur.id)
            }
          }
        inserts.toSeq ++ dirDeletes ++ maskDeletes ++ keyDeletes
      case _ => Nil
    }.toSeq

    parts.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.functions.lit
      emptyWithSchema(spark, to)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_snapshot_id", lit(null).cast("long"))
        .limit(0)
    }
  }

  /** Changelog with UPDATE pairing (Delta CDF's `update_preimage` /
    * `update_postimage`; Iceberg's create_changelog_view "compute
    * updates"): within each commit, a delete row and an insert row
    * sharing the identifier key are two versions of ONE logical row —
    * re-stamped as an update pair instead of an unrelated
    * delete+insert. Keys default to the table's `identifier.fields`
    * property (Iceberg identifier fields, comma-separated). At most one
    * delete and one insert per (commit, key) — ambiguous multiplicity
    * raises an actionable error rather than pairing arbitrarily. Best
    * consumed over merge-on-read DML, whose commits erase exactly the
    * touched row versions; copy-on-write commits surface file-level
    * churn (carried rows pair as identity updates) — the artifact
    * Iceberg documents for COW changelogs too.
    *
    * Scale: one validation aggregate + one keyed window over the
    * changelog SLICE — O(changed rows), never O(table).
    */
  def readChangelogUpdates(spark: SparkSession, fromId: Long, toId: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keys =
      if (keyCols.nonEmpty) keyCols
      else properties.get("identifier.fields")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    require(keys.nonEmpty,
      s"readChangelogUpdates on $fullName needs identifier columns: pass " +
        "keyCols or set the 'identifier.fields' table property (Iceberg " +
        "identifier fields)")
    SnapshotTable.pairChangelogUpdates(
      readChangelog(spark, fromId, toId), keys, fullName)
  }

  /** MERGE evaluates its source several times — the cardinality check,
    * the broadcast touched-file probe, and the rewrite/append itself. A
    * source that is more than a simple deterministic scan is materialized
    * ONCE via a lazy local checkpoint (Delta's merge source materialization,
    * for the same two reasons): an expensive lineage would re-execute
    * per consumer, and a NON-DETERMINISTIC source could yield a delete
    * computed from one evaluation paired with an append from another —
    * silent corruption, not just waste. Simple scans (project/filter
    * over a leaf, all expressions deterministic) skip the checkpoint:
    * re-reading them is cheaper than materializing.
    */
  private def materializeSource(source: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def simple(p: LogicalPlan): Boolean = (p match {
      case _: LeafNode => true
      case Project(_, c) => simple(c)
      case Filter(_, c) => simple(c)
      case SubqueryAlias(_, c) => simple(c)
      case _ => false
    }) && p.expressions.forall(_.deterministic)
    if (simple(source.queryExecution.analyzed)) source
    else source.localCheckpoint(eager = false)
  }

  /** Full-refresh overwrite: write `df` as a brand-new snapshot. */
  def overwrite(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, sortCols, format, numRetries)

  /** CONDITIONAL full overwrite — a true compare-and-swap: the commit
    * lands only if the published head is still exactly `expectedHead`
    * (None = empty table) at swap time; any rival commit in between
    * fails it with [[CommitFailedException]] instead of blind-retrying
    * onto the moved head. This is the primitive for read-modify-write
    * callers (e.g. the quarantine drain) whose payload was COMPUTED
    * from `expectedHead`'s state: a blind retry would silently discard
    * whatever the rival wrote; the CAS forces the caller to recompute
    * from the new head.
    */
  def overwriteIf(df: DataFrame, expectedHead: Option[Long], partitionCols: Seq[String] = Nil, format: String = "parquet"): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, Nil, format,
      numRetries = 0, expectedBase = Some(expectedHead))

  /** Append: new snapshot = previous data dirs + newly written dir.
    * One rule serves every delta, a streaming microbatch or a backfill:
    * the write's jobs and no stats job (see [[writeDataDir]]), so the
    * per-trigger commit cost stays O(delta).
    */
  def append(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries, summary: Map[String, String] = Map.empty): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format, numRetries, summary = summary)

  /** Idempotent streaming append — the Iceberg exactly-once foreachBatch
    * contract: the (queryId, batchId) watermark rides in the snapshot
    * SUMMARY, written atomically with the commit itself, so a
    * re-delivered microbatch (Spark's foreachBatch is at-least-once —
    * a crash between the sink commit and the checkpoint advance replays
    * the batch on restart) is recognized and SKIPPED (`None`) instead
    * of double-appended. Skip rule is Iceberg's: `batchId <=` the max
    * batch id already committed for this query id. Spark delivers one
    * query's batches sequentially, so check-then-commit has no
    * concurrent same-batch race; rival writers (other queries, batch
    * jobs) go through the normal optimistic CAS.
    */
  def appendOnce(
      queryId: String, batchId: Long, df: DataFrame,
      partitionCols: Seq[String] = Nil,
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      format: String = "parquet",
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Option[Snapshot] =
    if (lastCommittedBatch(queryId).exists(_ >= batchId)) None
    else Some(commit(df, "append", carryPrevious = true, partitionCols, sortCols,
      format, numRetries, summary = Map(
        SnapshotTable.SummaryQueryId -> queryId,
        SnapshotTable.SummaryBatchId -> batchId.toString,
        // the durable per-query watermark — carried forward by every
        // later head, so it survives compaction + expiry
        s"${SnapshotTable.SummaryBatchPrefix}$queryId" -> batchId.toString)))

  /** A merge-on-read [[merge]] hardened against foreachBatch's at-least-once
    * delivery — the streaming CDC upsert commit. The (queryId, batchId)
    * watermark stamps into the merge's own snapshot summary atomically
    * with the rows, so a batch re-delivered after a crash between
    * commit and checkpoint advance is recognized and skipped (None).
    * A NO-OP batch commits nothing and stamps nothing — re-running a
    * no-op is idempotent by definition, so the watermark can lag
    * no-ops safely.
    */
  def mergeOnce(
      queryId: String, batchId: Long,
      source: DataFrame,
      keys: Seq[(String, String)],
      matchedClauses: Seq[Merge.WhenMatched],
      notMatchedClauses: Seq[Merge.WhenNotMatched],
      notMatchedBySourceClauses: Seq[Merge.WhenNotMatchedBySource] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Option[Snapshot] =
    if (lastCommittedBatch(queryId).exists(_ >= batchId)) None
    else Some(merge(source, keys, matchedClauses, notMatchedClauses,
      notMatchedBySourceClauses, WriteMode.MergeOnRead, numRetries, summary = Map(
        SnapshotTable.SummaryQueryId -> queryId,
        SnapshotTable.SummaryBatchId -> batchId.toString,
        s"${SnapshotTable.SummaryBatchPrefix}$queryId" -> batchId.toString)))

  /** Highest microbatch id committed by `queryId` — a pure metadata
    * read over the published snapshots' summaries (prefix-key unions
    * and legacy display pairs both count).
    */
  def lastCommittedBatch(queryId: String): Option[Long] =
    snapshots.filterNot(_.staged)
      .flatMap(s => SnapshotTable.watermarksOf(s).get(queryId))
      .maxOption

  /** Write-audit-publish, step 1 (Iceberg WAP): commit the batch as a
    * STAGED append — the data is fully written and snapshot-referenced,
    * but reads of the table do not see it. Audit the candidate state via
    * `readSnapshot(staged.id)` (e.g. with the Quality gate), then
    * [[publish]] to make it the table or [[discardStaged]] to drop it.
    * Bad data never transits through a published state.
    */
  def stageAppend(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format,
      numRetries, stageOnly = true)

  /** Staged full-refresh: the batch is written and snapshot-referenced
    * as an INVISIBLE overwrite — published state is untouched until
    * [[publish]] flips it (or [[discardStaged]] drops it). This is the
    * data half of atomic `REPLACE TABLE ... AS SELECT`
    * ([[graft.catalog.GraftStagedTable]]): a reader never observes the
    * half-written replacement, and an aborted one leaves the table
    * byte-identical. Operation records as "overwrite" (not "replace",
    * which the changelog skips as layout-only compaction): the dir-diff
    * correctly yields full delete+insert CDC rows for the swap.
    */
  def stageOverwrite(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, sortCols, format,
      numRetries, stageOnly = true)

  /** Zero-copy import of existing data files (the Iceberg `add_files`
    * / `snapshot` migration role, reference data layer
    * `docs/deep-dive.md:49-72`): commit a snapshot that REFERENCES the
    * source's files in place — no row is read for the import itself and
    * no byte of data is copied. The commit materializes an owned
    * manifest directory of per-file symlinks under the table root (our
    * realization of Iceberg's manifest list: an immutable, owned
    * listing that points at foreign data), so every downstream
    * mechanism — reads, sidecar stats, `$files`, expiry — works
    * unchanged, and table maintenance can only ever delete the LINKS:
    * the source files are never owned and never touched by
    * `expireSnapshots` / `removeOrphanFiles` / `discardStaged`.
    *
    * Import-time costs are the same class as Iceberg's: one distributed
    * footer walk for record counts (O(files), page-cached), which also
    * sums to the partition rows, one schema inference and one
    * range-stats pass. Schema
    * conformance is the normal append contract enforced at swap time
    * (same-name columns must match or promote losslessly; new columns
    * evolve in). Hive-style `col=value` path segments in the source
    * are preserved, so partition pruning governs imported dirs exactly
    * like written ones.
    */
  def addFiles(
      spark: SparkSession,
      sourcePath: String,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    val src = new File(sourcePath)
    require(src.exists,
      s"add_files to $fullName: source path $sourcePath does not exist")
    val srcCanon = src.getCanonicalPath
    val rootCanon = new File(root).getCanonicalPath
    require(srcCanon != rootCanon && !srcCanon.startsWith(rootCanon + File.separator),
      s"add_files to $fullName: source $sourcePath lies inside the table " +
        "root — those files are already table-managed (import would " +
        "double-reference them)")
    val format = currentSnapshot.map(_.format).getOrElse("parquet")
    require(format == "parquet",
      s"add_files to $fullName: zero-copy import supports parquet tables " +
        s"(table format is '$format'); rewrite via a normal append instead")
    val files: Seq[(File, String)] =
      if (src.isFile) Seq(src -> src.getName)
      else listDataFiles(src).map(f =>
        f -> src.toPath.relativize(f.toPath).toString)
    require(files.nonEmpty,
      s"add_files to $fullName: $sourcePath contains no data files")
    // partition layout carried by the source's own hive-style paths;
    // mixed layouts inside one import are a corrupt source, not a merge
    val segments = files.map(_._2.split("/").dropRight(1).toSeq)
    segments.flatten.find(!_.contains("=")).foreach { s =>
      throw new IllegalArgumentException(
        s"add_files to $fullName: source subdirectory '$s' is not a col=value partition")
    }
    val layouts = segments.map(_.map(_.split("=", 2)(0))).distinct
    require(layouts.size == 1,
      s"add_files to $fullName: source mixes partition layouts " +
        s"(${layouts.map(_.mkString("/")).mkString(" vs ")}); import each layout separately")
    // record counts from footers (no data rows read) via ONE
    // distributed job over the source file list — Iceberg's add_files
    // distributes manifest building the same way, so a million-file
    // onboarding costs O(files/parallelism) of page-cached metadata
    // I/O, never hours of single-threaded driver reads. An unreadable
    // footer fails the import whole — an importer must not commit a
    // snapshot whose rowCount it cannot state.
    val srcList: Seq[(String, String)] =
      files.map { case (f, rel) => (f.toPath.toAbsolutePath.toString, rel) }
    val slices = math.max(1, math.min(srcList.size,
      spark.sparkContext.defaultParallelism * 2))
    val relRows: Map[String, Long] =
      spark.sparkContext.parallelize(srcList, slices)
        .map { case (abs, rel) =>
          rel -> SnapshotTable.recordCount("parquet", new File(abs))
        }.collect().toMap
    relRows.find(_._2 < 0).foreach { case (rel, _) =>
      throw new IllegalArgumentException(
        s"add_files to $fullName: unreadable parquet footer in $sourcePath/$rel")
    }
    val newRows = relRows.values.sum
    val dataDir = Paths.get(root,
      s"snap-${java.util.UUID.randomUUID().toString.take(8)}-added").toString
    // any failure — a stats error, a schema-conformance reject at swap
    // time, conflict-retry exhaustion — cleans up the manifest dir: an
    // aborted import must not leave an orphaned snap-*-added dir for
    // the (age-gated) orphan sweep to chase
    try {
      // the manifest LISTING file first (the Iceberg manifest-list
      // role): one entry per imported file with source path, relative
      // path and record count. This file — not the link tree — is the
      // portable design artifact: an object-store port, where symlinks
      // don't exist, realizes the import by reading this listing.
      Files.createDirectories(Paths.get(dataDir))
      MetadataJson.write(Paths.get(dataDir, SnapshotTable.ImportManifestName),
        JArr(srcList.sortBy(_._2).map { case (abs, rel) =>
          obj("path" -> JStr(abs), "rel" -> JStr(rel), "rows" -> num(relRows(rel)))
        }))
      // local-FS realization of the manifest: one symlink per imported
      // file (metadata-only syscalls — no data I/O), partition subdirs
      // recreated as real directories so relative structure (and with
      // it dir-name pruning) is preserved byte-for-byte and the
      // unchanged dir-based read path / sidecars / expiry all apply
      files.foreach { case (f, rel) =>
        val target = Paths.get(dataDir, rel)
        Files.createDirectories(target.getParent)
        Files.createSymbolicLink(target, f.toPath.toAbsolutePath): Unit
      }
      // the imported files' schema is whatever their footers say: the
      // one read here infers it, and the dir's columns sidecar (written
      // at swap) records it for every later read
      val inferred = load(spark, format, None, Seq(dataDir))
      // the same files sidecar a written commit gets, every file's rows
      // known from its footer, column ranges from one stats pass — so
      // stats-skip and $partitions/$files treat imported dirs like any
      // other
      writeFilesSidecar(dataDir, files.map { case (f, rel) =>
        dirFile(dataDir, Paths.get(dataDir, rel).toAbsolutePath.toString, f.length(), relRows(rel))
      }, format, graft.plans.RangeStats.aggregate(inferred, newRows))
      val written = WrittenDir(dataDir, newRows,
        inferred.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
      withCommitRetries(numRetries) { _ =>
        Right(commitSwap(written, currentSnapshot.map(_.id), "append", carryPrevious = true,
          format, Map("operation" -> "add_files", "source" -> srcCanon,
            "files" -> files.size.toString),
          summary = Map(
            "added-files-source" -> srcCanon,
            "added-files" -> files.size.toString)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        deleteRecursively(new File(dataDir))
        throw e
    }
  }

  /** Write-audit-publish, step 3: make an audited staged snapshot the
    * table. O(1) metadata flip under the commit lock; conflicts (the
    * published head moved since staging) fail with
    * [[PublishConflictException]] instead of silently dropping the
    * rival's rows.
    */
  def publish(snapshotId: Long): Snapshot = transact { m =>
    val snap = m.snapshot(snapshotId)
    require(snap.staged, s"snapshot $snapshotId of $fullName is already published")
    val head = m.head
    // compare head IDS, not dirs: an equality delete or a rollback to a
    // same-dirs state advances the head WITHOUT changing dataDirs, and
    // flipping a snapshot staged before it would restate the stage-time
    // deletes/rowCount — silently undoing the delete. Legacy staged
    // metadata (no parent_id recorded) falls back to the dirs check.
    val conflicted = snap.parentId match {
      case Some(p) => head.map(_.id).getOrElse(0L) != p
      case None    => snap.dataDirs.dropRight(1) != head.map(_.dataDirs).getOrElse(Nil)
    }
    if (conflicted)
      throw PublishConflictException(fullName, snapshotId)
    // publish is the moment the data BECOMES the table: stamp a fresh
    // commit time (Iceberg's cherry-pick does the same), so timestamp
    // time travel for instants between stage and publish is stable —
    // readAsOf(t) answers from what was published at t, and a later
    // publish can never retroactively change a past answer
    val flipped = snap.copy(staged = false, committedAtMs = SnapshotTable.clockMs())
    Change(flipped,
      snapshots = Some((m.snapshots.filterNot(_.id == snapshotId) :+ flipped).sortBy(_.id)),
      audit = Seq(Map("operation" -> "publish", "snapshot_id" -> snapshotId.toString)))
  }

  /** Write-audit-publish, failed-audit path: drop a staged snapshot and
    * physically delete the data no surviving snapshot references.
    */
  def discardStaged(snapshotId: Long): Unit = {
    val (snap, kept) = transact { m =>
      val snap = m.snapshot(snapshotId)
      require(snap.staged,
        s"snapshot $snapshotId of $fullName is published; use expireSnapshots for history")
      val kept = m.snapshots.filterNot(_.id == snapshotId)
      Change((snap, kept), snapshots = Some(kept),
        audit = Seq(Map("operation" -> "stage_discard", "snapshot_id" -> snapshotId.toString)))
    }
    val liveDirs = kept.flatMap(_.dataDirs).toSet
    snap.dataDirs.filterNot(liveDirs.contains).foreach(d => deleteRecursively(new File(d)))
  }

  /** Commit an atomic CREATE or REPLACE TABLE [AS SELECT] (a DSv2 staged
    * table) as one transaction: make `staged` — the statement's staged
    * snapshot; None for plain DDL without AS SELECT, which Spark routes
    * through the staging catalog too — the table, then adopt the
    * statement's partition `spec` and properties `props`.
    *  - REPLACE publishes first (publish CAS-checks the head and throws
    *    on conflict without mutating anything) and only then adopts the
    *    new spec and replaces the properties wholesale, so a conflicted
    *    REPLACE never clobbers the untouched old table. Without staged
    *    data it commits an empty overwrite to `schema`, history kept.
    *  - CREATE is the table's birth: nothing was visible before it. A
    *    rival that PUBLISHED the name while the query ran (plain CREATE,
    *    or a rival CTAS that committed first) owns the table; this CTAS
    *    discards its stage and fails whole, leaving the rival
    *    byte-untouched. Rival STAGED snapshots (a CTAS still in flight)
    *    do not block it — the loser's own commit detects this one.
    *    Without staged data it creates the empty table unless one is
    *    visible.
    */
  def commitCreateOrReplace(
      staged: Option[Long], replace: Boolean, schema: org.apache.spark.sql.types.StructType,
      format: String, spec: Seq[graft.template.PartitionField],
      props: Map[String, String]): Unit = transact { m =>
    def adopt(): Unit = {
      if (replace) {
        DeclaredPartitionSpec.write(root, spec)
        val stale = properties.keys.toSeq
        if (stale.nonEmpty) unsetProperties(stale)
      } else if (spec.nonEmpty) DeclaredPartitionSpec.write(root, spec)
      if (props.nonEmpty) setProperties(props)
    }
    staged match {
      case Some(id) =>
        if (!replace && m.snapshots.exists(s => !s.staged && s.id != id)) {
          discardStaged(id)
          throw new IllegalStateException(
            s"CREATE TABLE $fullName AS SELECT lost the create race: the table was " +
              "created concurrently while the query ran; it remains untouched " +
              "(retry as INSERT or REPLACE TABLE)")
        }
        publish(id): Unit
        adopt()
      case None if replace =>
        val spark = SparkSession.active
        overwrite(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), format = format): Unit
        adopt()
      case None =>
        if (m.head.isEmpty) {
          create(schema.fields.toSeq.map(f => f.name -> f.dataType.sql), format): Unit
          adopt()
        }
    }
    Change(())
  }

  /** Abort what [[commitCreateOrReplace]] would have committed: drop
    * staged snapshot `staged` and its data; the published table was never
    * touched. Idempotent — a CTAS that lost the create race already
    * discarded its stage. A CREATE whose stage is the only state under
    * the root removes the root wholesale, so no trace remains; foreign
    * snapshots (a rival in-flight CTAS's stage, or a published table that
    * won the name) survive. One transaction, so the check and the removal
    * are atomic against a rival CTAS staging into the same root.
    */
  def abortCreateOrReplace(staged: Long, replace: Boolean): Unit = transact { m =>
    if (m.snapshots.exists(s => s.id == staged && s.staged)) {
      if (replace || m.snapshots.exists(_.id != staged)) discardStaged(staged)
      else deleteRecursively(new File(root))
    }
    Change(())
  }

  // ------------------------------------------------------------------
  // table properties (Iceberg table properties: free-form key/value
  // metadata — write config, retention policy, ownership — persisted
  // with the table, settable via SQL TBLPROPERTIES DDL)
  // ------------------------------------------------------------------

  private def propertiesPath = Paths.get(root, ".graft-properties.json")

  def properties: Map[String, String] =
    MetadataJson.read(propertiesPath)
      .map(_.asObj.map { case (k, v) => k -> v.asStr }).getOrElse(Map.empty)

  private def writeProperties(props: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(root))
    MetadataJson.write(propertiesPath, strObj(props))
  }

  /** Set (upsert) table properties — `ALTER TABLE ... SET TBLPROPERTIES`. */
  def setProperties(kv: Map[String, String]): Unit = transact { m =>
    require(kv.keys.forall(_.nonEmpty), "property keys must be non-empty")
    Change((), properties = Some(m.properties ++ kv), audit = Seq(Map(
      "operation" -> "set_properties", "keys" -> kv.keys.toSeq.sorted.mkString(","))))
  }

  /** Remove table properties — `ALTER TABLE ... UNSET TBLPROPERTIES`.
    * Unknown keys are ignored (SQL UNSET ... IF EXISTS semantics; Spark
    * passes plain UNSET through the same path).
    */
  def unsetProperties(keys: Seq[String]): Unit = transact { m =>
    Change((), properties = Some(m.properties -- keys), audit = Seq(Map(
      "operation" -> "unset_properties", "keys" -> keys.sorted.mkString(","))))
  }

  // ------------------------------------------------------------------
  // named refs: branches + tags (Iceberg table refs)
  // ------------------------------------------------------------------

  private def refsPath = Paths.get(root, "refs.json")

  /** All named refs. Absent file = no refs (tables predate the feature
    * or never branched); the published head is always implicitly "main"
    * and is never stored.
    */
  def refs: Seq[TableRef] =
    MetadataJson.read(refsPath).map(_.asArr.map { v =>
      val o = v.asObj
      // retention fields are optional — refs written before the
      // feature carry none and parse as policy-free
      TableRef(o("name").asStr, o("type").asStr, o("snapshot_id").asLong,
        maxRefAgeMs = o.get("max_ref_age_ms").map(_.asLong),
        minSnapshotsToKeep = o.get("min_snapshots_to_keep").map(_.asLong.toInt),
        maxSnapshotAgeMs = o.get("max_snapshot_age_ms").map(_.asLong))
    }).getOrElse(Nil)

  private def writeRefs(rs: Seq[TableRef]): Unit =
    MetadataJson.write(refsPath, JArr(rs.map { r =>
      obj(Seq("name" -> JStr(r.name), "type" -> JStr(r.kind), "snapshot_id" -> num(r.snapshotId)) ++
        r.maxRefAgeMs.map(v => "max_ref_age_ms" -> num(v)) ++
        r.minSnapshotsToKeep.map(v => "min_snapshots_to_keep" -> num(v.toLong)) ++
        r.maxSnapshotAgeMs.map(v => "max_snapshot_age_ms" -> num(v)): _*)
    }))

  private def createRef(name: String, kind: String, at: Option[Long],
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): TableRef = transact { m =>
    require(name.nonEmpty && name != "main",
      s"ref name '$name' is reserved ('main' is the published head)")
    require(!m.refs.exists(_.name == name),
      s"Table $fullName already has a ref named '$name'; refs are " +
        "create-once — dropRef first to repoint")
    val target = at.map(m.snapshot).getOrElse(m.head.getOrElse(
      throw new IllegalStateException(
        s"Table $fullName has no published snapshot to ref; write first")))
    val r = TableRef(name, kind, target.id,
      maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs)
    Change(r, refs = Some(m.refs :+ r), audit = Seq(Map(
      "operation" -> s"create_$kind", "ref" -> name, "snapshot_id" -> target.id.toString)))
  }

  /** Create a branch at `at` (default: the published head). Branch
    * appends ([[appendToBranch]]) advance it without touching the
    * published table; [[fastForward]] publishes it. Optional per-ref
    * retention (Iceberg branch retention): see [[TableRef]].
    */
  def createBranch(name: String, at: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): TableRef =
    createRef(name, "branch", at, maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs)

  /** Create an immutable tag at `at` (default: the published head).
    * The tagged snapshot — and its data — survives retention expiry
    * until the tag is dropped, or until the tag outlives its own
    * optional `maxRefAgeMs` (Iceberg tag retention).
    */
  def createTag(name: String, at: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): TableRef =
    createRef(name, "tag", at, maxRefAgeMs)

  /** Drop a branch or tag. Branch-only snapshots it pointed to stay in
    * metadata (staged, invisible) until retention expires them — same
    * lifecycle as an abandoned WAP stage.
    */
  def dropRef(name: String): Unit = transact { m =>
    require(m.refs.exists(_.name == name),
      s"Table $fullName has no ref '$name' " +
        s"(refs: ${m.refs.map(_.name).mkString(", ")})")
    Change((), refs = Some(m.refs.filterNot(_.name == name)),
      audit = Seq(Map("operation" -> "drop_ref", "ref" -> name)))
  }

  /** Read the table as of a named ref (branch head or tag target) —
    * the `VERSION AS OF 'ref-name'` read path.
    */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    val r = refs.find(_.name == name).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no ref '$name' " +
          s"(refs: ${refs.map(_.name).mkString(", ")})"))
    readSnapshot(spark, r.snapshotId)
  }

  /** Append onto a BRANCH head: like [[append]], but the commit base is
    * the branch ref's target, the committed snapshot stays invisible to
    * published reads (staged, like a WAP candidate), and the ref
    * advances atomically with the metadata swap.
    */
  def appendToBranch(branch: String, df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format,
      numRetries, branch = Some(branch))

  /** Publish a branch: if the published head is an ancestor of the
    * branch head (the branch holds ONLY commits made on top of the
    * current table), flip the branch-only snapshots to published —
    * O(branch-length) metadata, zero data movement (Iceberg's
    * `fast_forward`). A head that advanced past the branch base means
    * divergence: fail, so the rival's rows are never silently dropped;
    * re-branch from the new head (or cherry-pick) to resolve.
    */
  def fastForward(branch: String): Snapshot = transact { m =>
    val r = m.ref(branch, "branch")
    val mainHeadId = m.head.map(_.id).getOrElse(0L)
    if (r.snapshotId == mainHeadId) Change(m.snapshot(mainHeadId))
    else {
      var chain = List.empty[Snapshot]
      var curId = r.snapshotId
      while (curId != mainHeadId) {
        val s = m.snapshots.find(_.id == curId).getOrElse(
          throw new IllegalStateException(
            s"branch '$branch' of $fullName references missing snapshot $curId"))
        if (!s.staged)
          // walked onto a published snapshot that is NOT the head: the
          // head moved past the branch base — divergent, not fast-forwardable
          throw PublishConflictException(fullName, r.snapshotId)
        chain ::= s
        curId = s.parentId.getOrElse(0L)
        if (curId == 0L && mainHeadId != 0L)
          throw PublishConflictException(fullName, r.snapshotId)
      }
      // same restamp rule as publish(): this is the moment the branch
      // data BECOMES the table, so timestamp time travel stays stable
      val now = SnapshotTable.clockMs()
      val flipped = chain.map(_.id).toSet
      val next = m.snapshots.map(s =>
        if (flipped(s.id)) s.copy(staged = false, committedAtMs = now) else s)
      Change(next.find(_.id == r.snapshotId).get, snapshots = Some(next), audit = Seq(Map(
        "operation" -> "fast_forward", "ref" -> branch,
        "snapshot_id" -> r.snapshotId.toString,
        "published_count" -> chain.size.toString)))
    }
  }

  /** Cherry-pick: apply ONE append-shaped snapshot's delta onto the
    * published head as a new commit (Iceberg's `cherrypick_snapshot`).
    * This is the WAP resolution path [[publish]] refuses: when the head
    * advanced after staging, the staged snapshot's parent is stale, but
    * its DELTA (the dirs it added over its parent) is still appendable.
    * Only structurally append-shaped snapshots qualify — the target
    * must carry its parent's dirs unchanged (no masks added, no deletes
    * added, no dirs dropped); anything else (overwrite, delete, dynamic
    * overwrite) has semantics relative to its parent's state that do
    * not transplant.
    */
  def cherryPick(snapshotId: Long): Snapshot = transact { m =>
    val snap = m.snapshot(snapshotId)
    val parent = snap.parentId.flatMap(p => m.snapshots.find(_.id == p)).getOrElse(
      throw new IllegalStateException(
        s"cherry-pick of $snapshotId: parent snapshot " +
          s"${snap.parentId.getOrElse("<none>")} not found (expired?)"))
    val parentDirs = parent.dataDirs.toSet
    val deltaDirs = snap.dataDirs.filterNot(parentDirs)
    require(parent.dataDirs.forall(snap.dataDirs.contains) &&
      snap.deletes == parent.deletes && snap.maskedDirs == parent.maskedDirs,
      s"cherry-pick of $snapshotId (${snap.operation}): only append-shaped " +
        "snapshots transplant — the target must carry its parent's dirs, " +
        "masks and deletes unchanged")
    val head = m.head.getOrElse(
      throw new IllegalStateException(s"Table $fullName has no published snapshot"))
    require(head.format == snap.format || deltaDirs.isEmpty,
      s"cherry-pick of $snapshotId: delta format '${snap.format}' differs " +
        s"from table format '${head.format}'")
    val deltaRows =
      if (snap.rowCount < 0 || parent.rowCount < 0) -1L
      else snap.rowCount - parent.rowCount
    val total =
      if (head.rowCount < 0 || deltaRows < 0) -1L else head.rowCount + deltaRows
    val id = m.nextId
    // the picked delta's durable watermarks merge into the new head
    // (max per query — a watermark never regresses); the head's own
    // display pair is stripped, as on every head-copying commit
    val mergedWatermarks =
      (SnapshotTable.watermarksOf(head).toSeq ++ SnapshotTable.watermarksOf(snap).toSeq)
        .groupMapReduce(_._1)(_._2)(math.max)
        .map { case (q, b) => s"${SnapshotTable.SummaryBatchPrefix}$q" -> b.toString }
    val picked = head.copy(
      id = id, committedAtMs = SnapshotTable.clockMs(),
      operation = "cherry_pick",
      dataDirs = head.dataDirs ++ deltaDirs,
      rowCount = total,
      staged = false,
      summary = SnapshotTable.carriedSummary(head.summary) ++ mergedWatermarks,
      parentId = Some(head.id))
    Change(picked, snapshots = Some(m.snapshots :+ picked), audit = Seq(Map(
      "operation" -> "cherry_pick", "snapshot_id" -> id.toString,
      "source_snapshot_id" -> snapshotId.toString,
      "delta_dirs" -> deltaDirs.size.toString)))
  }

  /** Dynamic partition overwrite — Iceberg's `overwrite` with
    * partition-level replacement (Spark's
    * `partitionOverwriteMode=dynamic` semantics): exactly the partitions
    * PRESENT in `df` are replaced; everything else is untouched. The
    * batch is written as one new dir (O(delta), like an append) and the
    * replaced partitions are recorded as masks on every carried dir —
    * a pure metadata operation, no rewrite of existing data. Reads prune
    * the masked directories at planning; [[compact]] physically drops
    * them (it rewrites the masked view), and that is the mask GC.
    *
    * This is the restatement primitive a 100 TB pipeline needs: "day X
    * was re-delivered, swap it" must cost O(day), never O(table).
    */
  def overwritePartitions(
      df: DataFrame,
      partitionCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      format: String = "parquet",
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite requires declared partition columns " +
        "(an unpartitioned table has no partitions to replace — use overwrite)")
    commit(df, "overwrite_partitions", carryPrevious = true, partitionCols,
      sortCols, format, numRetries, dynamicReplace = true)
  }

  /** Small-file compaction — the Iceberg `rewrite_data_files` bin-pack
    * action. Appends accumulate one directory (with its own small files)
    * per commit; at 100 TB that degrades scans (per-file open/footer cost,
    * tiny row groups defeat the vectorized reader). Compaction rewrites
    * the CURRENT snapshot's rows into ~`targetFileBytes` output files and
    * commits the result as a new `replace` snapshot: same rows, fresh
    * physical layout. Each commit attempt reads and rewrites the head it
    * swaps against, so a concurrent append is recompacted on retry rather
    * than silently dropped; history is preserved (pre-compaction snapshots stay
    * time-travelable until expiry, and expiry then reclaims the
    * small-file dirs).
    *
    * Scale notes: for unpartitioned tables the rewrite is SHUFFLE-FREE —
    * `coalesce(n)` packs existing input splits into n writer tasks
    * (bin-packing concatenates; it never needs a cluster-wide exchange).
    * For partitioned tables the commit path's existing
    * repartition-by-partition-value clustering applies, which is the
    * exchange that guarantees O(1) files per partition directory.
    */
  def compact(
      spark: SparkSession,
      targetFileBytes: Long = SnapshotTable.DefaultTargetFileBytes,
      partitionCols: Seq[String] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil): Snapshot = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    // read and rewrite once per attempt: a retry recompacts the rival's
    // head, so a concurrent append's rows are never dropped
    withCommitRetries(numRetries) { attempt =>
      val snap = requireCurrent
      // derive the partition layout from the table itself when the caller
      // does not re-declare it: compacting a partitioned table must not
      // silently rewrite it as one unpartitioned dir (rows would survive
      // but partition pruning — the layout's whole point — would be lost).
      // A table with a DECLARED transform spec compacts under the CURRENT
      // spec, re-deriving every directory column from its source — this
      // is what migrates old partition epochs into the evolved layout
      // (Iceberg's rewrite_data_files after updateSpec does the same);
      // physical layouts without a declaration keep their established
      // columns.
      val declared = DeclaredPartitionSpec.read(root)
      val pCols =
        if (partitionCols.nonEmpty) partitionCols
        else if (declared.nonEmpty) declared.map(_.derivedName)
        else partitionColumns
      val nOut = math.max(1L, (dataBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df0 = readSnapshot(spark, snap.id)
      val df =
        if (partitionCols.isEmpty && declared.nonEmpty)
          declared.map(TableSink.transformColumn).foldLeft(df0) {
            case (d, (nm, c)) => d.withColumn(nm, c)
          }
        else df0
      // clustered rewrite (Iceberg sort/zorder strategy): range-partition on
      // the cluster key so each output file covers a contiguous key range —
      // with a z-value key (functions.ZOrder) that is a compact region in
      // EVERY clustered dimension, the layout that makes file/row-group
      // stat skipping work for predicates on any of them. One range
      // exchange, the price of re-clustering; plain bin-packing stays
      // shuffle-free via coalesce.
      val packed =
        if (clusterBy.nonEmpty) df.repartitionByRange(nOut, clusterBy: _*)
        else if (pCols.nonEmpty) df
        else df.coalesce(nOut)
      // a declared write.sort.order governs ANY rewrite of the table's
      // files: compaction must not undo the sorted-file contract (tight
      // range stats, cheap merge consumers) the property promises. An
      // explicit clusterBy wins — the caller asked for that layout.
      val sorts =
        if (clusterBy.nonEmpty) clusterBy else WriteSortOrder.sortCols(this)
      val w = writeDataDir(packed, pCols, sorts, snap.format)
      Right(commitSwap(w, Some(snap.id), "replace", carryPrevious = false, snap.format,
        Map("operation" -> "replace", "attempts" -> (attempt + 1).toString), dirs = Seq(w.dir)))
    }
  }

  /** Pay down merge-on-read debt WITHOUT a full compaction — the
    * Iceberg `rewrite_position_deletes`-shaped maintenance action for
    * this engine's equality deletes: rewrite ONLY the dirs some delete
    * file applies to (deletes and masks baked in), drop the delete
    * entries, and carry every untouched dir forward as-is. Reads then
    * stop paying the per-scan anti-join on those dirs. Cost is
    * O(delete-scoped dirs), never O(table) — on a 100 TB table with a
    * few GDPR deletes this rewrites the handful of old dirs the keys
    * landed in, where [[compact]] would rewrite everything.
    */
  def rewriteDeletes(
      spark: SparkSession,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    withCommitRetries(numRetries) { attempt =>
      val cur = requireCurrent
      val affected = cur.deletes.flatMap(_.applies).distinct
        .filter(cur.dataDirs.contains)
      if (affected.isEmpty) Left(cur) // no-op: nothing to pay down
      // the logical view of exactly those dirs (deletes + masks applied)
      else Right(rewriteDirs(cur, affected, readDirs(spark, cur, affected.map(dirLayout)),
        "rewrite_deletes", Map("operation" -> "rewrite_deletes",
          "mode" -> WriteMode.CopyOnWrite.name, "attempts" -> (attempt + 1).toString))(
        _ => cur.rowCount))
    }

  /** Partition columns of the current snapshot's physical layout,
    * UNIONED across every referenced dir's recorded files (pure metadata
    * — sidecars are tiny JSON). The union, not just the newest dir,
    * matters: an append written without re-declaring partitionCols
    * produces one flat dir, and deriving the layout from it alone would
    * make compact silently flatten the table and let rename/drop bypass
    * the partition-column guards while older dirs' paths and masks still
    * key by the name. Nil for unpartitioned tables.
    */
  def partitionColumns: Seq[String] =
    currentSnapshot.toSeq.flatMap(_.dataDirs).flatMap(dirLayout(_).partCols).distinct

  /** Live data files of the current snapshot, as `$files` lists them —
    * the signal compaction exists to shrink.
    */
  def dataFileCount: Long = liveFiles.size.toLong

  /** Total bytes of the current snapshot's live data files, as `$files`
    * records them (pure metadata — no data read).
    */
  def dataBytes: Long = liveFiles.map(_.file.bytes).sum

  private def liveFiles: Seq[DirFile] =
    currentSnapshot.toSeq.flatMap(s => s.dataDirs.flatMap(dirLayout(_).live(s)))

  /** Per-partition stats of the CURRENT snapshot — the Iceberg
    * `$partitions` metadata table (file count + row count per partition,
    * reference surfaces the same via Athena metadata queries,
    * `aws/modules/athena/main.tf:56-67`). A PURE metadata read: each
    * dir's files sidecar records every file's rows, so the listing sums
    * O(dirs) tiny JSON files and never opens a data file — the result
    * is a driver-local frame, same bound as Iceberg deriving $partitions
    * from manifest entries. `row_count` is -1 when any contributing
    * file's rows are unknown (unknown stays unknown rather than
    * inventing a number).
    */
  def partitionStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    snap.dataDirs.foreach { d =>
      // a dynamic overwrite's masked partitions are logically absent
      // from this dir — their stats must not count
      partitionRows(d, dirLayout(d).live(snap)).foreach {
        case (p, f, r) =>
          val (f0, r0) = merged.getOrElse(p, (0L, 0L))
          merged(p) = (f0 + f, if (r0 < 0 || r < 0) -1L else r0 + r)
      }
    }
    import spark.implicits._
    merged.toSeq.sortBy(_._1).map { case (p, (f, r)) => (p, f, r) }
      .toDF("partition_path", "file_count", "row_count")
  }

  /** Per-FILE listing of the current snapshot (the Iceberg `$files`
    * metadata-table role): path, owning data dir, partition rel-path,
    * size in bytes, record count. A PURE metadata read: every commit
    * wrote a per-file sidecar beside its (immutable) data dir — the
    * Iceberg manifest-entry role — so serving `$files` merges tiny JSON
    * sidecars and opens ZERO data files or parquet footers, the same
    * bound as `$partitions`. At 100 TB (millions of files) that is the
    * difference between a metadata query and minutes of single-threaded
    * driver footer I/O. Dirs written before the file sidecar existed
    * fall back to a walk + footer read, per dir. Files of
    * dynamically-masked partitions are excluded: physically present but
    * logically replaced, exactly like Iceberg's dead files awaiting
    * orphan cleanup.
    */
  def fileStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val rows = readManifest(snap.id).getOrElse(
      snap.dataDirs.flatMap(dirFileEntries(snap, _)))
    import spark.implicits._
    rows.toDF("file_path", "data_dir", "partition_path", "size_bytes", "record_count")
  }

  /** dir -> the PUBLISHED snapshot that first listed it (dirs are
    * immutable, so first appearance IS the add) — the lineage rule
    * `$manifests` and `$entries` share.
    */
  private def dirAddedSnapshotIds: Map[String, Long] =
    snapshots.filterNot(_.staged)
      .flatMap(s => s.dataDirs.map(_ -> s.id))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).min }

  /** Manifest listing of the current snapshot (the Iceberg `$manifests`
    * metadata-table role). The engine's manifest analog is the per-dir
    * files sidecar (one immutable JSON beside each immutable data dir),
    * so `$manifests` lists one row per data dir of the current
    * snapshot: sidecar path, owning dir, the snapshot that first
    * introduced the dir (`added_snapshot_id` — dirs are immutable, so
    * first appearance IS the add), whether the current snapshot added
    * it, and the dir's live file/row totals (masked partitions
    * excluded). Pure metadata: snapshot JSON + tiny sidecars, zero data
    * or footer I/O — same bound as `$files`/`$partitions`.
    */
  def manifestStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val firstSeen = dirAddedSnapshotIds
    import spark.implicits._
    snap.dataDirs.map { d =>
      val entries = dirFileEntries(snap, d)
      val rows = entries.map(_._5)
      val addedId = firstSeen.getOrElse(d, snap.id)
      (filesSidecarPath(d).toString, d, addedId, addedId == snap.id,
        entries.size.toLong,
        if (rows.exists(_ < 0)) -1L else rows.sum)
    }.toDF("manifest_path", "data_dir", "added_snapshot_id",
      "added_by_current", "file_count", "row_count")
  }

  /** Manifest-entry listing of the current snapshot (the Iceberg
    * `$entries` metadata-table role): one row per data file with its
    * lifecycle status against the current commit — 1 = ADDED (its dir
    * first appears in the current snapshot), 0 = EXISTING (carried from
    * an earlier commit; `snapshot_id` is the adding commit), 2 = DELETED
    * (the file's dir was live in the parent snapshot and the current
    * commit removed it; `snapshot_id` is the removing commit — the
    * audit row Iceberg keeps so a reader can see what a commit
    * retired). Pure metadata: snapshot JSON + per-dir sidecars, zero
    * data or footer I/O at any table size.
    */
  def entryStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val firstSeen = dirAddedSnapshotIds
    val live = snap.dataDirs.flatMap { d =>
      val addedId = firstSeen.getOrElse(d, snap.id)
      dirFileEntries(snap, d).map { case (path, dir, part, bytes, rows) =>
        (if (addedId == snap.id) 1 else 0, addedId, path, dir, part, bytes, rows)
      }
    }
    val removed = snap.parentId.filter(_ != 0L)
      .flatMap(pid => snapshots.find(_.id == pid)).toSeq
      .flatMap { p =>
        p.dataDirs.filterNot(snap.dataDirs.contains).flatMap { d =>
          dirFileEntries(p, d).map { case (path, dir, part, bytes, rows) =>
            (2, snap.id, path, dir, part, bytes, rows)
          }
        }
      }
    import spark.implicits._
    (live ++ removed).toDF("status", "snapshot_id", "file_path", "data_dir",
      "partition_path", "size_bytes", "record_count")
  }

  /** One dir's $files entries, masked partitions excluded. A file of
    * unknown rows (a dir written before its files' rows were recorded)
    * is counted from its own metadata.
    */
  private def dirFileEntries(
      snap: Snapshot, d: String): Seq[(String, String, String, Long, Long)] =
    dirLayout(d).live(snap).map { case DirFile(f, partition, rows) =>
      (f.path, d, partition, f.bytes,
        if (rows < 0) SnapshotTable.recordCount(snap.format, new File(f.path)) else rows)
    }

  private def manifestFilePath(snapshotId: Long) =
    Paths.get(root, s"manifest-$snapshotId.json")

  /** Consolidated manifest for exactly this snapshot id, if one was
    * rewritten: the whole $files listing in ONE metadata open instead
    * of one sidecar per dir. Paths are stored root-relative (the
    * object-store-portable form).
    */
  private def readManifest(snapshotId: Long): Option[Seq[(String, String, String, Long, Long)]] =
    // rewriteManifests deletes stale manifests under the commit lock,
    // which readers don't take — a concurrent lister that loses that
    // race reads None and falls back to the per-dir sidecars
    MetadataJson.read(manifestFilePath(snapshotId)).map { json =>
      SnapshotTable.manifestReads.inc(root)
      json.asArr.map { v =>
        val o = v.asObj
        val dir = Paths.get(root, o("dir").asStr).toString
        (new File(dir, o("file").asStr).getAbsolutePath,
          dir, o("partition").asStr, o("bytes").asLong, o("rows").asLong)
      }
    }

  /** Iceberg's `rewrite_manifests`: consolidate the per-dir file
    * sidecars of the CURRENT snapshot into one root-level manifest
    * listing, so a $files query on a 10,000-commit table opens ONE
    * metadata file instead of one per dir — at object-store latency,
    * the difference between a metadata query and 10,000 sequential
    * GETs. Pure metadata (the data layout is untouched); keyed by
    * snapshot id, so any later commit naturally bypasses it (falls back
    * to per-dir sidecars) until the next rewrite; stale manifests of
    * earlier snapshots are dropped with the write. Returns
    * (data_dirs, data_files) consolidated.
    */
  def rewriteManifests(): (Int, Int) = transact { m =>
    val snap = m.requireHead
    val entries = snap.dataDirs.flatMap(dirFileEntries(snap, _))
    // absolute on both sides: dirFileEntries returns absolute FILE
    // paths, and relativize throws on mixed absolute/relative inputs
    // (a relative warehouse root is legal)
    val rootPath = Paths.get(root).toAbsolutePath
    MetadataJson.write(manifestFilePath(snap.id), JArr(entries.map {
      case (abs, d, part, bytes, rows) =>
        val dirPath = Paths.get(d).toAbsolutePath
        obj("dir" -> JStr(rootPath.relativize(dirPath).toString),
          "file" -> JStr(dirPath.relativize(Paths.get(abs)).toString),
          "partition" -> JStr(part), "bytes" -> num(bytes), "rows" -> num(rows))
    }))
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".json") &&
        f.getName != s"manifest-${snap.id}.json")
      .foreach(f => f.delete(): Unit)
    Change((snap.dataDirs.size, entries.size), audit = Seq(Map(
      "operation" -> "rewrite_manifests",
      "data_dirs" -> snap.dataDirs.size.toString,
      "data_files" -> entries.size.toString)))
  }

  /** Roll the table back to an earlier snapshot's state (Iceberg
    * `rollback_to_snapshot`) — the bad-load undo: a NEW snapshot is
    * committed that references the target's exact state (dirs, masks,
    * deletes, row count), so the rollback is itself history (auditable,
    * time-travelable, re-rollbackable) and costs zero data I/O. The bad
    * snapshots stay readable by id until expiry reclaims them.
    */
  def rollback(snapshotId: Long): Snapshot = transact { m =>
    val target = m.snapshot(snapshotId)
    require(!target.staged,
      s"snapshot $snapshotId of $fullName is staged; publish or discard it instead")
    val id = m.nextId
    // parent = the rollback TARGET, not the abandoned head: the new
    // snapshot's STATE derives from the target, and the $history
    // parent chain (is_current_ancestor) must mark the bad lineage
    // abandoned — exactly what Iceberg's rollback does by repointing
    val snap = target.copy(
      id = id, committedAtMs = SnapshotTable.clockMs(),
      operation = "rollback",
      summary = SnapshotTable.carriedSummary(target.summary),
      parentId = Some(snapshotId))
    Change(snap, snapshots = Some(m.snapshots :+ snap), audit = Seq(Map(
      "operation" -> "rollback", "snapshot_id" -> id.toString,
      "target_snapshot_id" -> snapshotId.toString)))
  }

  /** Drop snapshots older than `olderThanMs` (never the current one) and
    * delete data directories no surviving snapshot references.
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Seq[Long] = {
    // a transaction like every commit: maintenance must not interleave
    // with an in-flight append's read-modify-write of the metadata
    val (expired, liveDirs) = transact { m =>
      val all = m.snapshots
      // never expire the published head; aged STAGED snapshots do expire
      // (an audit abandoned past the retention window is dead weight) —
      // UNLESS a named ref pins them: tag targets and branch heads (and
      // their data) survive until the ref is dropped, Iceberg's
      // ref-retention contract. Targets alone suffice: snapshots are
      // self-contained, no ancestor chain is needed to read one.
      val now = SnapshotTable.clockMs()
      // per-ref retention, pass 1: a ref older than its own max-ref-age-ms
      // expires WITH this maintenance run (Iceberg's max-ref-age-ms; age =
      // now − committedAt of the ref's CURRENT target, so advancing a
      // branch refreshes its age). Its target then competes for survival
      // like any unprotected snapshot.
      val (agedOut, liveRefs) = m.refs.partition(r =>
        r.maxRefAgeMs.exists(maxAge =>
          all.find(_.id == r.snapshotId).exists(s => now - s.committedAtMs > maxAge)))
      val currentOpt = m.head
      // per-ref retention, pass 2: a branch with min-snapshots-to-keep /
      // max-snapshot-age-ms protects that many (or that young) a prefix of
      // its STAGED ancestor chain — the history only the branch can see,
      // which the table-level arguments cannot reason about. Published
      // ancestors stay governed by olderThanMs/retainLast (the walk stops
      // at the first published snapshot), and the head itself is already
      // protected as the ref target.
      val chainProtected: Set[Long] = liveRefs
        .filter(r => r.kind == "branch" &&
          (r.minSnapshotsToKeep.isDefined || r.maxSnapshotAgeMs.isDefined))
        .flatMap { r =>
          val chain = scala.collection.mutable.ListBuffer.empty[Snapshot]
          var curId: Option[Long] = Some(r.snapshotId)
          var walking = true
          while (walking && curId.isDefined) {
            all.find(_.id == curId.get) match {
              case Some(s) if s.staged || chain.isEmpty =>
                chain += s; curId = s.parentId
              case _ => walking = false
            }
          }
          val minKeep = r.minSnapshotsToKeep.getOrElse(1)
          chain.zipWithIndex.collect {
            case (s, i) if i < minKeep ||
              r.maxSnapshotAgeMs.exists(a => now - s.committedAtMs <= a) => s.id
          }
        }.toSet
      val refIds = liveRefs.map(_.snapshotId).toSet ++ chainProtected
      // retain_last (Iceberg expire_snapshots): the newest N PUBLISHED
      // snapshots survive regardless of age — a rollback window is a
      // count guarantee, not an age guarantee, under bursty commit rates
      val retained = all.filterNot(_.staged).takeRight(math.max(1, retainLast))
        .map(_.id).toSet
      val (expired, kept0) =
        all.filterNot(currentOpt.contains)
          .partition(s => s.committedAtMs < olderThanMs && !refIds.contains(s.id) &&
            !retained.contains(s.id))
      val kept = (kept0 ++ currentOpt).sortBy(_.id)
      // an empty table sweeps nothing
      val live = Option.when(all.nonEmpty)(kept.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir)).toSet)
      Change((expired, live),
        snapshots = Option.when(expired.nonEmpty)(kept),
        refs = Option.when(agedOut.nonEmpty)(liveRefs),
        audit = agedOut.map(r =>
          Map("operation" -> "expire_ref", "ref" -> r.name, "kind" -> r.kind)))
    }
    // no snapshot names the dirs only expired snapshots referenced any
    // more: they go, then aged orphans
    liveDirs.foreach { live =>
      expired.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir))
        .distinct.filterNot(live.contains).foreach(d => deleteRecursively(new File(d)))
      sweepOrphans(live, olderThanMs): Unit
    }
    expired.map(_.id)
  }

  /** Delete snap-* dirs no snapshot references — the residue of a commit
    * whose process died between data write and swap (the in-process
    * retry-exhaustion path already cleans up after itself). An in-flight
    * commit's dir is written OUTSIDE the commit lock, so recency is the
    * only signal distinguishing "being committed right now" from
    * "abandoned" — and the sweep cutoff is therefore clamped to the
    * fixed [[SnapshotTable.orphanSafetyAgeMs]], independent of the
    * snapshot-expiry cutoff: expireSnapshots(now) is a legal
    * retain-only-current call, and sweeping at that cutoff would delete
    * a concurrent commit's freshly written dir in its write-to-swap
    * window (the commit then succeeds referencing deleted data). Table
    * formats decouple orphan-file age from snapshot expiry for exactly
    * this reason.
    */
  private def sweepOrphans(liveDirs: Set[String], olderThanMs: Long): Seq[String] = {
    val cutoff = math.min(
      olderThanMs, System.currentTimeMillis() - SnapshotTable.orphanSafetyAgeMs)
    val rootFile = new File(root)
    val dead = Option(rootFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .filterNot(f => liveDirs.contains(f.getPath) || liveDirs.contains(f.getAbsolutePath))
      .filter(_.lastModified() < cutoff)
    dead.foreach(deleteRecursively)
    dead.map(_.getPath).toSeq
  }

  /** Remove data directories no snapshot (published OR staged)
    * references — the residue of commits whose process died between
    * data write and metadata swap (Iceberg's `remove_orphan_files`
    * action, exposed standalone so storage hygiene does not have to
    * ride along with snapshot expiry). The same recency clamp as
    * [[sweepOrphans]] applies: a dir younger than the safety age is
    * never touched, because an in-flight commit's dir is written
    * OUTSIDE the commit lock and recency is the only signal separating
    * "being committed right now" from "abandoned". Returns the removed
    * dir paths. O(#dirs) filesystem metadata — no data is read.
    */
  def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis()): Seq[String] =
    transact { m =>
      val live = m.snapshots.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir)).toSet
      val removed = sweepOrphans(live, olderThanMs)
      Change(removed, audit = Option.when(removed.nonEmpty)(Map(
        "operation" -> "remove_orphan_files", "removed_dirs" -> removed.size.toString)).toSeq)
    }

  /** A fresh unique dir path under the table root: the final snapshot id
    * is unknown until the swap wins, and two optimistic writers must never
    * share a path.
    */
  private def freshDir(prefix: String): String =
    Paths.get(root, s"$prefix${java.util.UUID.randomUUID().toString.take(8)}").toString

  private def requireCurrent: Snapshot = metadata.requireHead

  /** The table's metadata: the snapshots of `metadata.json`, the refs of
    * `refs.json` and the properties of `.graft-properties.json`. Each
    * part is read from its file once, on first use, so a lock-free reader
    * opens only the file it needs.
    */
  private final class TableMetadata(
      readSnapshots: => Seq[Snapshot],
      readRefs: => Seq[TableRef],
      readProperties: => Map[String, String]) {
    lazy val snapshots: Seq[Snapshot] = readSnapshots
    lazy val refs: Seq[TableRef] = readRefs
    lazy val properties: Map[String, String] = readProperties

    /** The published head: staged snapshots are not the table. */
    def head: Option[Snapshot] = snapshots.filterNot(_.staged).lastOption

    def requireHead: Snapshot = head.getOrElse(
      throw new RuntimeException(
        s"Table $fullName is not registered in the warehouse. " +
          "Create it first (Pipeline.ensureTable / DDL) before reading or writing - " +
          "the equivalent of the reference's 'run terraform apply' remediation."))

    /** The id the next snapshot takes. */
    def nextId: Long = snapshots.map(_.id).maxOption.getOrElse(0L) + 1

    def snapshot(id: Long): Snapshot = snapshots.find(_.id == id).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot $id (available: ${snapshots.map(_.id).mkString(", ")})"))

    def ref(name: String, kind: String): TableRef =
      refs.find(r => r.name == name && r.kind == kind).getOrElse(
        throw new NoSuchElementException(
          s"Table $fullName has no $kind '$name' " +
            s"(refs: ${refs.map(r => s"${r.name}[${r.kind}]").mkString(", ")})"))

    /** The snapshot branch `name` points at. */
    def branchHead(name: String): Snapshot = {
      val r = ref(name, "branch")
      snapshots.find(_.id == r.snapshotId).getOrElse(
        throw new IllegalStateException(
          s"branch '$name' of $fullName references missing snapshot ${r.snapshotId}"))
    }
  }

  private def metadata = new TableMetadata(snapshots, refs, properties)

  /** The commit protocol: every change to the table's metadata is one
    * transaction. Under the per-table lock `f` reads the
    * [[TableMetadata]] and returns its [[SnapshotTable.Change]]; the file
    * of each part it replaces is then written atomically
    * ([[MetadataJson.write]]), its audit records are logged and its
    * result returned. A change that throws writes none of its parts;
    * readers take no lock and always see whole files.
    *
    * The lock serializes one JVM's writers (cross-PROCESS writers would
    * need the compare-and-swap in a real catalog), so a writer that read
    * the metadata outside a transaction checks inside one that it is
    * still current ([[swap]]).
    *
    * No ref ever names a snapshot `metadata.json` lacks: a change that
    * shrinks the snapshot list writes `refs.json` first, any other
    * `metadata.json` first; properties go last.
    *
    * Transactions nest (the lock is reentrant): a change may run other
    * operations of this table, so a compound statement commits with no
    * rival writer between its steps; such an outer change replaces no
    * part itself. Data a transaction unreferences is deleted after it,
    * outside the lock: no snapshot names it, so no later change can.
    */
  private def transact[A](f: TableMetadata => Change[A]): A =
    SnapshotTable.commitLock(root).synchronized {
      val m = metadata
      val c = f(m)
      val refsFirst = c.snapshots.exists(_.size < m.snapshots.size)
      val writes = c.snapshots.map(s => () => writeMetadata(s)).toSeq ++
        c.refs.map(r => () => writeRefs(r))
      (if (refsFirst) writes.reverse else writes).foreach(_())
      c.properties.foreach(writeProperties)
      c.audit.foreach(Audit.log("table_write", fullName, _))
      c.result
    }

  /** A metadata swap one commit attempt prepared for
    * [[withCommitRetries]]: `base` is the published head (or the
    * `branch` ref's target) the attempt was computed from, `dirs` are
    * what the attempt wrote (deleted when it does not land), `audit` the
    * operation's table_write fields besides the snapshot id, and `build`
    * makes the new snapshot from (all snapshots, the base snapshot, the
    * allocated id) inside the [[transact]]ion.
    */
  private case class Swap(
      base: Option[Long],
      audit: Map[String, String],
      dirs: Seq[String] = Nil,
      branch: Option[String] = None)(
      val build: (Seq[Snapshot], Option[Snapshot], Long) => Snapshot)

  /** Optimistic commit retries, mirroring Iceberg's (reference:
    * per-table `commit_num_retries`, `table-templates/_schema.json:109-111`;
    * bounded exponential backoff as in the catalog-connect retry,
    * `dagster/lakehouse/resources/iceberg.py:46`). Every retrying write
    * of the table commits through here:
    *
    *  1. `attemptOnce(attempt)` reads its base snapshot outside any
    *     transaction and does the expensive work unserialized — probes,
    *     counts, data and delete-file writes to unique immutable paths —
    *     so concurrent writers overlap on the cluster instead of
    *     queueing. It returns the [[Swap]] to make, or Left(snapshot)
    *     when there is nothing to commit;
    *  2. [[swap]] commits it IF the base is still current;
    *  3. a concurrent commit in the window loses the swap: the attempt's
    *     dirs are deleted and, after a [[SnapshotTable.backoffSleepMs]]
    *     wait, the next attempt re-reads the base and redoes its work.
    *     Work done once before the loop (a [[commit]]'s data dir, an
    *     equality-delete file) is passed as `written` and reused, so
    *     for it only the O(1) swap is retried;
    *  4. after `numRetries` conflicts, raise CommitFailedException.
    *
    * Any failure — exhaustion, a swap-time reject, an error — deletes
    * `written` and the failed attempt's dirs: an aborted commit leaves
    * no unreferenced `snap-*` dir behind.
    */
  private def withCommitRetries(numRetries: Int, written: Seq[String] = Nil)(
      attemptOnce: Int => Either[Snapshot, Swap]): Snapshot = {
    var attempt = 0
    var inFlight = Seq.empty[String]
    var result = Option.empty[Snapshot]
    try {
      while (result.isEmpty) attemptOnce(attempt) match {
        case Left(unchanged) => result = Some(unchanged)
        case Right(s) =>
          inFlight = s.dirs
          SnapshotTable.beforeSwapHook(this, attempt)
          swap(s) match {
            case Right(snap) => result = Some(snap)
            case Left(conflict) =>
              inFlight.foreach(d => deleteRecursively(new File(d)))
              inFlight = Nil
              if (attempt >= numRetries)
                throw CommitFailedException(fullName, attempt + 1, conflict)
              Thread.sleep(SnapshotTable.backoffSleepMs(attempt))
              attempt += 1
          }
      }
      result.get
    } catch {
      case scala.util.control.NonFatal(e) =>
        (written ++ inFlight).foreach(d => deleteRecursively(new File(d)))
        throw e
    }
  }

  /** The compare-and-swap of a [[withCommitRetries]] attempt, one
    * [[transact]]ion: check that `s.base` is still the published head
    * (or the branch ref's target), then add the snapshot `s.build` makes
    * under the next id and advance the branch ref in the same
    * transaction. Left when a rival commit moved the base.
    */
  private def swap(s: Swap): Either[CommitConflictException, Snapshot] = transact { m =>
    // commits CAS against (and carry from) the PUBLISHED head: staged
    // snapshots are invisible to the table and must not parent rivals.
    // Branch appends CAS against (and carry from) the branch ref's
    // target instead — concurrent branch writers conflict on the REF.
    val head = s.branch.map(m.branchHead).orElse(m.head)
    if (head.map(_.id) != s.base)
      Change(Left(CommitConflictException(fullName, s.base, head.map(_.id))))
    else {
      val id = m.nextId
      val snap = s.build(m.snapshots, head, id)
      Change(Right(snap), snapshots = Some(m.snapshots :+ snap),
        refs = s.branch.map(b => m.refs.map(r =>
          if (r.name == b && r.kind == "branch") r.copy(snapshotId = id) else r)),
        audit = Seq(s.audit + ("snapshot_id" -> id.toString)))
    }
  }

  /** A batch [[writeDataDir]] wrote: its dir and row count, the written
    * schema (name -> DDL type, resolved to field ids at swap time —
    * the head may change across retries), whether it holds no rows
    * (then the dir is already gone and no snapshot references it), and
    * the partitions a dynamic overwrite replaces.
    */
  private case class WrittenDir(
      dir: String, rows: Long, schema: Seq[(String, String)],
      empty: Boolean = false, replaced: Seq[String] = Nil)

  /** Write `df` once as a new data dir, then commit it through
    * [[withCommitRetries]] retrying only the swap: a retried append
    * carries the rival's data forward (Iceberg's fast-append semantics).
    */
  private def commit(
      df: DataFrame,
      op: String,
      carryPrevious: Boolean,
      partitionCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column],
      format: String,
      numRetries: Int,
      dynamicReplace: Boolean = false,
      stageOnly: Boolean = false,
      branch: Option[String] = None,
      summary: Map[String, String] = Map.empty,
      // Some(head) pins the commit base for CAS semantics (overwriteIf):
      // the caller computed its payload FROM that head, so pair it with
      // numRetries = 0 — a conflict must surface, not blind-retry
      expectedBase: Option[Option[Long]] = None): Snapshot = {
    // the commit BASE: the caller's CAS pin when given, else the branch
    // ref's target for branch appends, else the published head
    def currentBase = branch match {
      case Some(b) => Some(metadata.ref(b, "branch").snapshotId)
      case None => currentSnapshot.map(_.id)
    }
    val base = expectedBase.getOrElse(currentBase)
    val w = writeDataDir(df, partitionCols, sortCols, format, dynamicReplace)
    withCommitRetries(numRetries, written = Seq(w.dir)) { attempt =>
      Right(commitSwap(w, if (attempt == 0) base else currentBase, op, carryPrevious,
        format, Map("operation" -> op, "attempts" -> (attempt + 1).toString),
        stageOnly = stageOnly, branch = branch, summary = summary))
    }
  }

  /** Write `df` as a new data dir with its stats sidecars — the
    * unserialized O(delta) step of a commit.
    */
  private def writeDataDir(
      df: DataFrame,
      partitionCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column],
      format: String,
      dynamicReplace: Boolean = false): WrittenDir = {
    // dispatch per the template vocabulary (parquet|orc|avro,
    // `table-templates/_schema.json:100-103`). avro is served by
    // graft.source.GraftAvroFileFormat (avro-core-backed; this
    // distribution ships avro-1.12.1 but not the spark-avro module).
    require(SnapshotTable.SupportedFormats.contains(format),
      s"Unknown write_format '$format' for $fullName " +
        s"(supported: ${SnapshotTable.SupportedFormats.mkString(", ")})")
    val dataDir = freshDir("snap-")
    // cluster rows per the declared write.distribution-mode before a
    // partitioned write (default hash-by-partition-key: without it every
    // task writes a file into every partition directory — tasks x
    // partitions small files, the classic explosion; `range` spreads hot
    // partition values over balanced tasks instead; `none` trusts the
    // caller's layout). See WriteDistribution.
    val clustered = WriteDistribution.cluster(this, df, partitionCols, sortCols)
    val sorted = if (sortCols.nonEmpty) clustered.sortWithinPartitions(sortCols: _*) else clustered
    // Row count + column range stats ride along with the WRITE itself
    // (Dataset.observe → CollectMetrics inside the write job): min/max/
    // null per column and the row count are aggregated by the write
    // tasks, so neither a footer-count pass nor a stats re-read pass
    // over the fresh dir exists. (Iceberg collects the same stats inside
    // its writers; observe is the Spark-native equivalent.)
    val fields = sorted.schema.fields.toSeq
    val obs = org.apache.spark.sql.Observation(
      s"graft-stats-${java.util.UUID.randomUUID().toString.take(8)}")
    val statAggs = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("__rows") +:
      graft.plans.RangeStats.rangeAggs(fields)
    // operative parquet bloom filters (Iceberg's
    // `write.parquet.bloom-filter-enabled.column.<col>` table property):
    // declared per-column filters are written into every parquet file's
    // footer, so point lookups on high-cardinality non-sort columns
    // skip row groups the min/max stats can't rule out. Properties are
    // a tiny sidecar read; unknown columns are simply ignored by the
    // parquet writer (declaring a filter never breaks a write).
    val bloomOpts: Map[String, String] =
      if (format != "parquet") Map.empty
      else properties.collect {
        case (k, v) if k.startsWith(SnapshotTable.BloomEnabledPrefix) =>
          s"parquet.bloom.filter.enabled#${k.stripPrefix(SnapshotTable.BloomEnabledPrefix)}" -> v
        case (k, v) if k.startsWith(SnapshotTable.BloomNdvPrefix) =>
          s"parquet.bloom.filter.expected.ndv#${k.stripPrefix(SnapshotTable.BloomNdvPrefix)}" -> v
      }
    val writer = sorted.observe(obs, statAggs.head, statAggs.tail: _*)
      .write.mode("overwrite").format(format).options(bloomOpts)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .save(dataDir)
    val metrics: Map[String, Any] =
      try obs.get catch { case scala.util.control.NonFatal(_) => Map.empty }
    // what the write put in the files: every read-back below knows it
    val written =
      SnapshotTable.storedSchema(format, fields.filterNot(f => partitionCols.contains(f.name)))
    def writtenDir = load(df.sparkSession, format, Some(written), Seq(dataDir))
    // the dir's files, listed once: the dir is immutable across swap
    // retries, and its sidecars and replaced partitions come from this
    val listed = walk(dataDir)
    // row count of the NEW dir, recorded into snapshot metadata so
    // history listings never rescan data. Normally free (observed during
    // the write); the fallback footer count is O(files), not O(rows).
    val newRows =
      if (listed.isEmpty) 0L
      else metrics.get("__rows") match {
        case Some(l: Long) => l
        case _ => writtenDir.count()
      }
    // an EMPTY batch (zero rows — whether it wrote nothing at all or a
    // handful of 0-row part files, which some plans emit) commits
    // METADATA-ONLY: the dir is never referenced (a file-less dir would
    // fail schema inference on later reads; 0-row files are dead weight)
    // and the stats jobs are skipped, but the commit itself still
    // happens, so carried state and the SUMMARY advance exactly like a
    // non-empty append (the streaming exactly-once watermark must move
    // on empty microbatches too, or a replay after one would
    // double-deliver). TRUNCATE TABLE rides this same path.
    val wroteFiles = listed.nonEmpty && newRows > 0L
    // every file's rows (Iceberg's manifest-entry record_count), which
    // `$partitions` and the dynamic-overwrite restatement sum: a dir of
    // one file takes the observed count, every other file its own,
    // read on the driver from the file's metadata — O(files in this
    // delta), no Spark job. Beside them, the dir's column ranges (the
    // Iceberg manifest min/max role), from the observed metrics or, when
    // those were lost, one read-back aggregate.
    if (wroteFiles)
      writeFilesSidecar(dataDir, if (listed.size == 1) listed.map(_.copy(rows = newRows)) else listed,
        format,
        if (metrics.nonEmpty) Some(graft.plans.RangeStats.fromMetrics(fields, newRows, metrics))
        else graft.plans.RangeStats.aggregate(writtenDir, newRows))
    // partitions the batch REPLACES = the partitions it wrote (dynamic
    // overwrite semantics)
    val replaced: Seq[String] =
      if (dynamicReplace && wroteFiles) listed.map(_.partition).filter(_.nonEmpty).distinct.sorted
      else Nil
    // the file-less dir of an empty batch is never referenced — remove
    // it now rather than leaving _SUCCESS litter
    if (!wroteFiles) deleteRecursively(new File(dataDir))
    WrittenDir(dataDir, newRows, df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql),
      empty = !wroteFiles, replaced = replaced)
  }

  /** The [[Swap]] that adds written batch `w` to the table. Carry-forward,
    * format compatibility and the schema resolve against the head at
    * swap time, so a retried append carries a rival's data forward.
    */
  private def commitSwap(
      w: WrittenDir,
      base: Option[Long],
      op: String,
      carryPrevious: Boolean,
      format: String,
      audit: Map[String, String],
      dirs: Seq[String] = Nil,
      stageOnly: Boolean = false,
      branch: Option[String] = None,
      summary: Map[String, String] = Map.empty,
      // (delete-file dir, rows it removes, dirs it scopes to): a
      // POSITIONAL delete riding the same snapshot as the data write —
      // the merge-on-read UPDATE/MERGE shape (delete old positions +
      // append new rows, one atomic commit). The scope is the matched
      // files' dirs only; `base` must be the head the positions were
      // probed against.
      posDelete: Option[(String, Long, Seq[String])] = None): Swap =
    Swap(base, audit, dirs, branch) { (prev, head, id) =>
      head.filter(_.dataDirs.nonEmpty).foreach { last =>
        if (carryPrevious)
          require(last.format == format,
            s"Append format '$format' differs from table format '${last.format}' for " +
              s"$fullName; carried snapshot dirs must stay one format")
      }
      val carryForward =
        if (carryPrevious) head.map(_.dataDirs).getOrElse(Nil) else Nil
      val prevMasks =
        if (carryPrevious) head.map(_.maskedDirs).getOrElse(Map.empty)
        else Map.empty[String, Seq[String]]
      // a plain append carries masks forward untouched; a dynamic
      // overwrite additionally masks the replaced partitions on every
      // carried dir (resolved against the CURRENT state, like the dirs)
      val masks =
        if (w.replaced.isEmpty) prevMasks
        else carryForward.map { d =>
          d -> (prevMasks.getOrElse(d, Nil) ++ w.replaced).distinct
        }.toMap
      // carried total resolves against the CURRENT state (a retried
      // append counts the rival's rows too); an unknown (-1) carried
      // count stays unknown rather than inventing a number. A dynamic
      // overwrite subtracts the newly masked rows, resolved from the
      // carried dirs' stats sidecars (pure metadata).
      val carriedRows =
        if (carryPrevious) head.map(_.rowCount).getOrElse(0L) else 0L
      val carriedDeletes0 =
        if (carryPrevious) head.map(_.deletes).getOrElse(Nil) else Nil
      val removedRows: Long =
        if (w.replaced.isEmpty || carriedRows < 0) 0L
        else {
          val perDir = carryForward.map { d =>
            val already = prevMasks.getOrElse(d, Nil).toSet
            val newMask = w.replaced.filterNot(already)
            if (newMask.isEmpty) 0L
            // recorded rows are commit-time PHYSICAL counts; rows an
            // equality delete later removed are still in them, and the
            // carried total was already restated after the delete —
            // subtracting the raw recorded count would double-count
            // those rows. Unknown beats understated (the $snapshots
            // listing and volume sensor consume this number).
            else if (carriedDeletes0.exists(_.applies.contains(d))) -1L
            else {
              val byPart = partitionRows(d, dirLayout(d).files).map(e => e._1 -> e._3).toMap
              val rows = newMask.map(p => byPart.getOrElse(p, 0L))
              if (rows.exists(_ < 0)) -1L else rows.sum
            }
          }
          if (perDir.exists(_ < 0)) -1L else perDir.sum
        }
      val posRemoved = posDelete.map(_._2).getOrElse(0L)
      val total =
        if (carriedRows < 0 || removedRows < 0 || posRemoved < 0) -1L
        else carriedRows - removedRows - posRemoved + w.rows
      // schema continuity (Iceberg field ids): columns resolve ids by
      // NAME against the head; genuinely new columns draw fresh ids
      // from the never-reused watermark. An append MERGES the head
      // schema with the batch's (new columns evolve in, columns the
      // batch omits stay — old dirs backfill null either way) and
      // REQUIRES same-name batch columns to conform to the table type
      // (equal, or an Iceberg-legal narrower type that upcasts
      // losslessly on read — int into a promoted long column); a wider
      // batch is rejected (promote the column first via
      // updateColumnType, or the read path would silently truncate).
      // An overwrite/replace adopts the batch's schema outright, ids
      // kept stable for surviving names.
      val headCols = head.map(_.cols).getOrElse(Nil)
      val watermark0 = (Seq(head.map(_.lastColumnId).getOrElse(0)) ++
        prev.flatMap(_.cols.map(_.id))).max
      var nextId = watermark0
      val byName = headCols.map(c => c.name -> c).toMap
      val dfCols: Seq[TableColumn] = w.schema.map { case (n, t) =>
        byName.get(n) match {
          case Some(c) if carryPrevious =>
            val batchT = org.apache.spark.sql.types.DataType.fromDDL(t)
            val colT = org.apache.spark.sql.types.DataType.fromDDL(c.dataType)
            require(batchT == colT || SnapshotTable.isSafePromotion(batchT, colT),
              s"append to $fullName: column $n is ${c.dataType} but the batch " +
                s"writes $t — a lossy read-time cast; widen the column first " +
                "(updateColumnType) or conform the batch")
            TableColumn(c.id, n, c.dataType)
          case Some(c) =>
            // overwrite adopts the batch's type; the id survives by name
            TableColumn(c.id, n, t)
          case None => nextId += 1; TableColumn(nextId, n, t)
        }
      }
      val cols =
        if (!carryPrevious || headCols.isEmpty) dfCols
        else headCols ++ dfCols.filterNot(c => byName.contains(c.name))
      // the dir's sidecar records what was PHYSICALLY written: the
      // batch's columns (and the batch's TYPES — which can lag the
      // table type after a promotion) under the ids just resolved.
      // An empty write references no dir, so there is none to annotate.
      if (!w.empty)
        writeColumnsSidecar(w.dir,
          dfCols.zip(w.schema).map { case (c, (_, t)) => TableColumn(c.id, c.name, t) })
      // deletes carry forward with their dirs: dropping one on append
      // would resurrect erased rows. The new dir is NOT in any delete's
      // applies set — appended data is out of the deletes' scope (a
      // riding positional delete scopes to the HEAD's dirs only, so a
      // merge-on-read UPDATE's own re-inserted rows survive it).
      Snapshot(id, SnapshotTable.clockMs(), op,
        if (w.empty) carryForward else carryForward :+ w.dir, format, total, masks,
        // branch commits stay invisible to published reads until
        // fastForward flips them — the same mechanism as a WAP stage
        staged = stageOnly || branch.isDefined,
        deletes = carriedDeletes0 ++ posDelete.map { case (delDir, _, scope) =>
          positionalDelete(delDir, scope.filter(head.map(_.dataDirs).getOrElse(Nil).contains), format)
        },
        parentId = Some(head.map(_.id).getOrElse(0L)),
        cols = cols,
        lastColumnId = math.max(watermark0, nextId),
        // every new head carries the UNION of its parent's per-query
        // streaming watermarks (as durable prefix keys) under this
        // commit's own annotations — so compaction and expiry can
        // collapse history to one snapshot without ever regressing
        // the exactly-once guarantee. Per-query max wins on conflict.
        summary = {
          val inherited = head.map(SnapshotTable.watermarksOf).getOrElse(Map.empty)
          val ownMarks = SnapshotTable.watermarksOf(
            Snapshot(0L, 0L, "probe", Nil, summary = summary))
          val merged = (inherited.keySet ++ ownMarks.keySet).map { q =>
            s"${SnapshotTable.SummaryBatchPrefix}$q" ->
              math.max(inherited.getOrElse(q, Long.MinValue),
                ownMarks.getOrElse(q, Long.MinValue)).toString
          }.toMap
          summary ++ merged
        })
    }

  /** Partition-spec EVOLUTION (Iceberg `updateSpec().commit()`):
    * metadata-only — the new transforms govern FUTURE writes; dirs
    * written under the old layout keep it and reads prune each epoch
    * with its own transforms (the hidden-partitioning rule checks
    * per-dir applicability). [[compact]] rewrites old epochs into the
    * current layout when the owner chooses. At 100 TB this is the only
    * viable contract: re-partitioning a table eagerly would be a full
    * rewrite of everything.
    */
  def updatePartitionSpec(spec: Seq[graft.template.PartitionField]): Unit = transact { m =>
    m.requireHead: Unit
    val old = DeclaredPartitionSpec.read(root)
    DeclaredPartitionSpec.evolve(root, spec)
    Change((), audit = Seq(Map(
      "operation" -> "update_partition_spec",
      "old_spec" -> old.map(p => s"${p.transform}(${p.column})").mkString(","),
      "new_spec" -> spec.map(p => s"${p.transform}(${p.column})").mkString(","))))
  }

  // ------------------------------------------------------------------
  // schema evolution (Iceberg metadata-only add / rename / drop)
  // ------------------------------------------------------------------

  /** Table schema at the published head (field id, name, DDL type).
    * Nil for a legacy table that predates schema tracking.
    */
  def schema: Seq[TableColumn] = requireCurrent.cols

  /** Register an EMPTY table with a declared schema (the DDL
    * `CREATE TABLE` primitive): one metadata-only snapshot with field
    * ids 1..n and no data dirs. Reads return zero rows with the
    * declared schema; the first write commits on top, resolving its
    * column ids by name against this schema.
    */
  def create(colsDdl: Seq[(String, String)], format: String = "parquet"): Snapshot = {
    require(colsDdl.nonEmpty, s"cannot create $fullName with no columns")
    colsDdl.foreach { case (_, t) =>
      org.apache.spark.sql.types.DataType.fromDDL(t): Unit // validate early
    }
    transact { m =>
      // staged-only metadata (crash debris of an aborted atomic CTAS, or
      // a rival CTAS still in flight) is not a visible table — CREATE
      // wins by publishing first; the in-flight rival's own commit then
      // detects the foreign published state and fails its CTAS
      require(m.head.isEmpty, s"table $fullName already exists")
      val id = m.nextId
      val cols = colsDdl.zipWithIndex.map { case ((n, t), i) => TableColumn(i + 1, n, t) }
      val snap = Snapshot(id, SnapshotTable.clockMs(), "create", Nil, format,
        rowCount = 0L, parentId = Some(0L), cols = cols, lastColumnId = cols.size)
      Change(snap, snapshots = Some(m.snapshots :+ snap),
        audit = Seq(Map("operation" -> "create", "snapshot_id" -> id.toString)))
    }
  }

  /** Add a column as a METADATA-ONLY commit: no data file is touched,
    * existing rows read back null in the new column (Iceberg
    * `ALTER TABLE ADD COLUMN` semantics). The id is fresh — never
    * recycled — per the last-column-id watermark.
    */
  def addColumn(spark: SparkSession, name: String, dataTypeDdl: String): Snapshot = {
    org.apache.spark.sql.types.DataType.fromDDL(dataTypeDdl) // validate early
    schemaCommit(spark) { (cols, nextId) =>
      require(!cols.exists(_.name == name),
        s"column $name already exists on $fullName")
      cols :+ TableColumn(nextId, name, dataTypeDdl)
    }
  }

  /** Rename a column, metadata-only: the field id is stable, so every
    * existing dir keeps serving its physical column under the new name.
    * Rejected for physical partition columns (their directory paths and
    * masks carry the name) and for key columns of active equality
    * deletes (delete files store key NAMES; compact first).
    */
  def renameColumn(spark: SparkSession, from: String, to: String): Snapshot =
    schemaCommit(spark) { (cols, _) =>
      require(cols.exists(_.name == from), s"no column $from on $fullName")
      require(!cols.exists(_.name == to),
        s"column $to already exists on $fullName")
      require(!partitionColumns.contains(from),
        s"cannot rename partition column $from of $fullName: partition " +
          "directory paths and masks are keyed by name")
      require(!currentSnapshot.exists(_.deletes.exists(_.keys.contains(from))),
        s"column $from keys an active equality delete on $fullName; " +
          "compact (which applies deletes physically) before renaming")
      cols.map(c => if (c.name == from) c.copy(name = to) else c)
    }

  /** Widen a column's type, metadata-only (Iceberg type promotion):
    * `int -> long`, `float -> double`, or decimal precision growth at
    * fixed scale. No data file is touched — existing dirs keep their
    * physical (narrower) type, recorded in their sidecars, and the read
    * path upcasts losslessly; subsequent appends may write either the
    * promoted type or the legacy narrower one. Narrowing (and any other
    * conversion) is rejected: it would corrupt existing data at read
    * time.
    */
  def updateColumnType(spark: SparkSession, name: String, newTypeDdl: String): Snapshot = {
    val to = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
    schemaCommit(spark) { (cols, _) =>
      val cur = cols.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $fullName"))
      val from = org.apache.spark.sql.types.DataType.fromDDL(cur.dataType)
      require(SnapshotTable.isSafePromotion(from, to),
        s"cannot change column $name of $fullName from ${cur.dataType} to " +
          s"$newTypeDdl: only widening promotions are allowed " +
          "(int -> long, float -> double, decimal precision growth)")
      cols.map(c => if (c.name == name) c.copy(dataType = newTypeDdl) else c)
    }
  }

  /** Drop a column, metadata-only: data files keep the bytes, reads stop
    * projecting them. Re-adding the same NAME later yields a fresh field
    * id, so the old bytes can never resurrect under the new column.
    */
  def dropColumn(spark: SparkSession, name: String): Snapshot =
    schemaCommit(spark) { (cols, _) =>
      require(cols.exists(_.name == name), s"no column $name on $fullName")
      require(cols.size > 1, s"cannot drop the last column of $fullName")
      require(!partitionColumns.contains(name),
        s"cannot drop partition column $name of $fullName: the physical " +
          "layout is keyed by it (rewrite via compact with a new layout)")
      cols.filterNot(_.name == name)
    }

  /** One metadata-only schema commit, one [[transact]]ion: resolve the
    * head's columns (deriving ids once for a legacy table), apply `f`,
    * append an `operation = "schema"` snapshot carrying the head's data
    * unchanged. Zero data I/O.
    */
  private def schemaCommit(spark: SparkSession)(
      f: (Seq[TableColumn], Int) => Seq[TableColumn]): Snapshot = transact { m =>
    val cur = m.requireHead
    val base =
      if (cur.cols.nonEmpty) cur.cols
      else {
        // legacy table: derive ids 1..n from the current merged schema
        // (one driver-side footer read)
        val derived = readSnapshot(spark, cur.id).schema.fields.zipWithIndex.map {
          case (fld, i) => TableColumn(i + 1, fld.name, fld.dataType.sql)
        }.toSeq
        // pin the derived mapping onto every legacy dir AS A SIDECAR
        // while the names are still pre-change: without it, a dir
        // without a sidecar resolves ids by CURRENT name, so a later
        // rename would silently stop matching the dir's physical
        // column and read existing data back as null. Recorded per
        // dir with the dir's own physical columns/types (one footer
        // read each — a one-time upgrade cost, under the table lock).
        val byName = derived.map(c => c.name -> c.id).toMap
        cur.dataDirs.filterNot(d => Files.exists(columnsSidecarPath(d))).foreach { d =>
          val phys = load(spark, cur.format, None, Seq(d)).schema.fields.toSeq
          writeColumnsSidecar(d, phys.flatMap(f =>
            byName.get(f.name).map(id => TableColumn(id, f.name, f.dataType.sql))))
        }
        derived
      }
    val watermark = (Seq(cur.lastColumnId) ++ base.map(_.id) ++
      m.snapshots.flatMap(_.cols.map(_.id))).max
    val updated = f(base, watermark + 1)
    val id = m.nextId
    val snap = cur.copy(
      id = id, committedAtMs = SnapshotTable.clockMs(), operation = "schema",
      staged = false, parentId = Some(cur.id), cols = updated,
      summary = SnapshotTable.carriedSummary(cur.summary),
      lastColumnId = (watermark +: updated.map(_.id)).max)
    Change(snap, snapshots = Some(m.snapshots :+ snap),
      audit = Seq(Map("operation" -> "schema", "snapshot_id" -> id.toString)))
  }

  private def columnsSidecarPath(dataDir: String) =
    Paths.get(dataDir, ".graft-columns.json")

  /** Record the field-id -> physical-(name, type) mapping of a freshly
    * written dir (the Iceberg name-mapping role), beside the immutable
    * data. The TYPE is the physically-written one — after a column
    * promotion it can be narrower than the table type, and reads never
    * share one relation across dirs whose physical types differ.
    */
  private def writeColumnsSidecar(dataDir: String, cols: Seq[TableColumn]): Unit =
    MetadataJson.write(columnsSidecarPath(dataDir), columnsJson(cols))

  private def columnsJson(cols: Seq[TableColumn]): JArr = JArr(cols.map(c =>
    obj("id" -> num(c.id.toLong), "name" -> JStr(c.name), "type" -> JStr(c.dataType))))

  /** The columns sidecar of `dataDir` as (field id, physical name,
    * physical DDL type) entries; None when the dir predates the sidecar.
    * Sidecars written before the type field parse with no type.
    */
  private def readColumnsSidecar(dataDir: String): Option[Seq[(Int, String, Option[String])]] =
    MetadataJson.read(columnsSidecarPath(dataDir)).map(_.asArr.map { v =>
      val o = v.asObj
      (o("id").asLong.toInt, o("name").asStr, o.get("type").map(_.asStr))
    })

  /** One file a data dir records: its scan entry, its partition rel-path
    * (unescaped; "" unpartitioned) and its record count (-1 unknown).
    */
  private case class DirFile(file: SnapshotFileIndex.DataFile, partition: String, rows: Long)

  /** What one data dir records, read once per read: its partition
    * columns, every file (masks not applied) and its column ranges —
    * from the files sidecar, or a walk for a dir written before it — and,
    * when asked, its columns sidecar. The one reader of a dir's file
    * listing.
    */
  private case class DirLayout(
      dir: String, partCols: Seq[String], files: Seq[DirFile],
      ranges: Option[graft.plans.RangeStats.DirStats]) {

    lazy val cols: Option[Seq[(Int, String, Option[String])]] = readColumnsSidecar(dir)

    /** Every entry carries its physical type: the dir's files have a
      * known schema, and equal `typedCols` mean equal physical files.
      */
    def typedCols: Option[Seq[(Int, String, String)]] =
      cols.filter(cs => cs.nonEmpty && cs.forall(_._3.isDefined))
        .map(_.map { case (id, n, t) => (id, n, t.get) })

    /** What dirs that share one relation have equal: None for a dir whose
      * types are not all recorded, which reads alone.
      */
    def scanKey: Option[(Seq[(Int, String, String)], Seq[String])] =
      typedCols.filter(cs => partCols.forall(p => cs.exists(_._2 == p))).map(_ -> partCols)

    /** Field id -> physical column name; a dir predating the sidecar
      * resolves every id by its CURRENT name (legacy by-name semantics).
      */
    def mapping(snapCols: Seq[TableColumn]): Map[Int, String] =
      if (snapCols.isEmpty) Map.empty
      else cols.fold(snapCols.map(c => c.id -> c.name).toMap)(_.map(e => e._1 -> e._2).toMap)

    /** The files live at `snap`: its masked partitions left out. */
    def live(snap: Snapshot): Seq[DirFile] = {
      val masked = snap.maskedDirs.getOrElse(dir, Nil).toSet
      files.filterNot(f => masked(f.partition))
    }

    /** The dir's (data, partition) schemas as `format` stores them, as
      * its typed sidecar records them; None for a dir without one.
      */
    def recordedSchemas(format: String): Option[(StructType, StructType)] =
      scanKey.flatMap { case (cs, ps) =>
        scala.util.Try {
          val fields = cs.map { case (_, n, t) =>
            org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DataType.fromDDL(t))
          }
          (SnapshotTable.storedSchema(format, fields.filterNot(f => ps.contains(f.name))),
            StructType(ps.map(p => fields.find(_.name == p).get)))
        }.toOption
      }

    /** [[recordedSchemas]], or for a dir without a typed sidecar its data
      * schema inferred from a footer, its partition columns typed by
      * `snapCols` through the mapping (by the path when the snapshot does
      * not know them).
      */
    def schemas(
        spark: SparkSession, format: String, snapCols: Seq[TableColumn]): (StructType, StructType) = {
      import org.apache.spark.sql.types.{DataType, StructField}
      recordedSchemas(format).getOrElse {
        val inferred = load(spark, format, None, Seq(dir)).schema
        val known = mapping(snapCols).map { case (id, n) => n -> id }
        (StructType(inferred.filterNot(f => partCols.contains(f.name))),
          StructType(partCols.map { p =>
            known.get(p).flatMap(id => snapCols.find(_.id == id))
              .fold(inferred(p))(c => StructField(p, DataType.fromDDL(c.dataType)))
          }))
      }
    }
  }

  /** `dataDir`'s layout; its partition columns are the `col=value`
    * segments of its files' paths. A dir whose files sidecar predates
    * the recorded ranges (a bare array of files), or which has none,
    * keeps its ranges in `.graft-ranges.json` — read only then, and
    * never written any more; a malformed one means no stats.
    */
  private def dirLayout(dataDir: String): DirLayout = {
    val (listed, ranges) = MetadataJson.read(filesSidecarPath(dataDir)) match {
      case Some(MetadataJson.JObj(o)) => (Some(o("files").asArr), o.get("ranges"))
      case legacy => (legacy.map(_.asArr),
        scala.util.Try(MetadataJson.read(Paths.get(dataDir, ".graft-ranges.json"))).toOption.flatten)
    }
    if (listed.isDefined) SnapshotTable.sidecarReads.inc(root)
    val files = listed.fold(walk(dataDir))(_.map { v =>
      val o = v.asObj
      dirFile(dataDir, new File(dataDir, o("file").asStr).getAbsolutePath, o("bytes").asLong,
        o("rows").asLong)
    })
    DirLayout(dataDir, files.headOption.fold(Seq.empty[String])(f =>
      partitionSegments(dataDir, f.file.path).map(s => unescapePath(s.split("=", 2)(0)))), files,
      ranges.flatMap(graft.plans.RangeStats.parse))
  }

  /** The files under `dataDir` as a walk finds them, rows unknown: a
    * fresh dir before its sidecars are written, or a dir written before
    * them.
    */
  private def walk(dataDir: String): Seq[DirFile] =
    listDataFiles(new File(dataDir)).map(f => dirFile(dataDir, f.getAbsolutePath, f.length(), -1L))

  private def listDataFiles(dir: File): Seq[File] = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
    children.filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) listDataFiles(f) else Seq(f))
  }

  /** The file at absolute `path` under `dataDir`: its partition values
    * are the `col=value` segments of its path.
    */
  private def dirFile(dataDir: String, path: String, bytes: Long, rows: Long): DirFile = {
    val segs = partitionSegments(dataDir, path)
    DirFile(SnapshotFileIndex.DataFile(path, dataDir, bytes, segs.map(_.split("=", 2)(1))),
      unescapePath(segs.mkString("/")), rows)
  }

  /** The dir segments of absolute `path` below `dataDir`, still escaped. */
  private def partitionSegments(dataDir: String, path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Paths.get(dataDir).toAbsolutePath.relativize(Paths.get(path)).asScala.toSeq.init.map(_.toString)
  }

  /** ONE relation over `files` of the dirs of `layouts`, which share
    * their typed columns and partition columns: a [[SnapshotFileIndex]]
    * built from the metadata, so planning it lists and infers nothing.
    * Physical column names; callers project to the snapshot schema.
    */
  private def relation(
      spark: SparkSession, snap: Snapshot, layouts: Seq[DirLayout],
      files: Seq[SnapshotFileIndex.DataFile]): DataFrame = {
    // nullable, as a reader given a schema makes it: no scan type is
    // NOT NULL, even where the table type of a struct field is
    val (data, parts) = layouts.head.schemas(spark, snap.format, snap.cols) match {
      case (d, p) => (d.toNullable, p.toNullable)
    }
    val index = SnapshotFileIndex(layouts.map(_.dir), files, parts,
      spark.conf.get(org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key),
      layouts.flatMap(l => l.ranges.map(l.dir -> _)).toMap,
      if (parts.isEmpty) Nil else DeclaredPartitionSpec.readAll(root))
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, parts, data, None, SnapshotTable.fileFormat(snap.format), Map.empty)(spark))
  }

  /** The reader of the files the engine writes before the metadata names
    * them — fresh data dirs and delete files — and of foreign files.
    * `schema` is the files' schema when the caller knows it, so no
    * footer is opened to infer it (a Spark job per call); None infers it,
    * for files the engine did not write and dirs whose sidecars predate
    * the types.
    */
  private def load(
      spark: SparkSession, format: String, schema: Option[StructType],
      paths: Seq[String]): DataFrame = {
    val r = spark.read.format(format)
    schema.fold(r)(r.schema).load(paths: _*)
  }

  /** A delete file of `del`, read with its known schema: the fixed
    * row-identity schema for a positional file, the columns sidecar
    * beside the keys for an equality file (inferred for files written
    * before that sidecar).
    */
  private def readDeleteFile(spark: SparkSession, del: EqualityDelete, snapFormat: String): DataFrame = {
    val format = del.format.getOrElse(snapFormat)
    load(spark, format,
      if (del.positional) Some(SnapshotTable.PositionalDeleteSchema)
      else DirLayout(del.dir, Nil, Nil, None).recordedSchemas(format).map(_._1),
      Seq(del.dir))
  }

  /** Record `files` of `dataDir` and the dir's column `ranges` in its
    * files sidecar (the manifest-entry role) — the one per-dir record a
    * scan plans from, so `$files`, `$partitions`, every read plan and
    * its pruning come from metadata, with zero data or footer I/O at
    * query time. A file of unknown rows is counted from its own metadata
    * ([[SnapshotTable.recordCount]]) — O(files in this delta), the same
    * class as Iceberg writing its manifest. No `ranges` (a failed
    * collection) leaves the dir unskippable.
    */
  private def writeFilesSidecar(
      dataDir: String, files: Seq[DirFile], format: String,
      ranges: Option[graft.plans.RangeStats.DirStats]): Unit = {
    val base = Paths.get(dataDir).toAbsolutePath
    MetadataJson.write(filesSidecarPath(dataDir), obj(Seq("files" -> JArr(
      files.sortBy(f => (f.partition, Paths.get(f.file.path).getFileName.toString)).map {
        case DirFile(f, p, known) =>
          obj("file" -> JStr(base.relativize(Paths.get(f.path)).toString),
            "partition" -> JStr(p), "bytes" -> num(f.bytes),
            "rows" -> num(if (known >= 0) known else SnapshotTable.recordCount(format, new File(f.path))))
      })) ++ ranges.map("ranges" -> graft.plans.RangeStats.render(_)): _*))
  }

  private def filesSidecarPath(dataDir: String) =
    Paths.get(dataDir, ".graft-files.json")

  /** (partition, files, rows) of `files` of `dataDir`: a partition's
    * rows are the sum of its files' recorded rows. A dir written before
    * every file's rows were recorded (an orc or avro partition of
    * several files) takes them from the partitions sidecar it was
    * written with — read only then, and never written any more — else
    * they are unknown (-1).
    */
  private def partitionRows(dataDir: String, files: Seq[DirFile]): Seq[(String, Long, Long)] = {
    lazy val legacy: Map[String, Long] =
      MetadataJson.read(Paths.get(dataDir, ".graft-partitions.json")).fold(Map.empty[String, Long])(
        _.asArr.map { v => val o = v.asObj; o("partition").asStr -> o("rows").asLong }.toMap)
    files.groupBy(_.partition).toSeq.map { case (p, fs) =>
      (p, fs.size.toLong, if (fs.forall(_.rows >= 0)) fs.map(_.rows).sum else legacy.getOrElse(p, -1L))
    }
  }

  /** Reverse Hive-style %XX partition-dir escaping (dates, months, hours
    * and buckets never need it; string partition values with spaces or
    * slashes do).
    */
  private def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  private[sink] def writeMetadata(snaps: Seq[Snapshot]): Unit = {
    Files.createDirectories(Paths.get(root))
    // atomic metadata swap: temp file + atomic move, the commit point.
    MetadataJson.write(metadataPath, JArr(snaps.map { s =>
      val masked = s.maskedDirs.toSeq.sortBy(_._1).filter(_._2.nonEmpty)
      val fields: Seq[Option[(String, JValue)]] = Seq(
        Some("id" -> num(s.id)),
        Some("committed_at_ms" -> num(s.committedAtMs)),
        Some("operation" -> JStr(s.operation)),
        Some("format" -> JStr(s.format)),
        Some("row_count" -> num(s.rowCount)),
        s.parentId.map("parent_id" -> num(_)),
        Option.when(s.lastColumnId > 0)("last_column_id" -> num(s.lastColumnId.toLong)),
        Option.when(s.cols.nonEmpty)("cols" -> columnsJson(s.cols)),
        Option.when(s.staged)("staged" -> JBool(true)),
        Option.when(s.summary.nonEmpty)("summary" -> strObj(s.summary)),
        Option.when(masked.nonEmpty)("masked_dirs" ->
          obj(masked.map { case (d, ps) => d -> strs(ps) }: _*)),
        Option.when(s.deletes.nonEmpty)("deletes" -> JArr(s.deletes.map { d =>
          obj(Seq("dir" -> JStr(d.dir), "keys" -> strs(d.keys), "applies" -> strs(d.applies)) ++
            d.format.map("fmt" -> JStr(_)) ++
            Option.when(d.positional)("pos" -> JBool(true)): _*)
        })),
        Some("data_dirs" -> strs(s.dataDirs)))
      obj(fields.flatten: _*)
    }))
  }

  /** Parse the snapshots metadata through [[MetadataJson]] (a real
    * tokenizer, not a shape regex: correct for ALL legal JSON, and
    * corrupted metadata fails loudly with an offset instead of silently
    * dropping snapshots). "format", "row_count" and "masked_dirs" are
    * optional on read: metadata written before each field existed
    * defaults to parquet / unknown (-1) / no masks.
    */
  private[sink] def parse(json: JValue): Seq[Snapshot] =
    json.asArr.map { v =>
      val o = v.asObj
      def optLong(k: String) = o.get(k).map(_.asLong)
      val cols = o.get("cols").map(_.asArr.map { cv =>
        val c = cv.asObj
        TableColumn(c("id").asLong.toInt, c("name").asStr, c("type").asStr)
      }).getOrElse(Nil)
      val summary = o.get("summary")
        .map(_.asObj.map { case (k, sv) => k -> sv.asStr }).getOrElse(Map.empty[String, String])
      val masked = o.get("masked_dirs")
        .map(_.asObj.map { case (k, mv) => k -> mv.asArr.map(_.asStr) })
        .getOrElse(Map.empty[String, Seq[String]])
      val deletes = o.get("deletes").map(_.asArr.map { dv =>
        val d = dv.asObj
        EqualityDelete(d("dir").asStr, d("keys").asArr.map(_.asStr),
          d("applies").asArr.map(_.asStr), d.get("fmt").map(_.asStr),
          positional = d.get("pos").exists(_.asBool))
      }).getOrElse(Nil)
      Snapshot(o("id").asLong, o("committed_at_ms").asLong, o("operation").asStr,
        o("data_dirs").asArr.map(_.asStr),
        o.get("format").map(_.asStr).getOrElse("parquet"),
        optLong("row_count").getOrElse(-1L),
        masked,
        staged = o.get("staged").exists(_.asBool),
        deletes = deletes,
        parentId = optLong("parent_id"),
        cols = cols,
        lastColumnId = optLong("last_column_id").map(_.toInt).getOrElse(0),
        summary = summary)
    }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}

object SnapshotTable {

  /** The update-pairing core of [[SnapshotTable.readChangelogUpdates]],
    * static so the STREAMING changelog path can apply it per microbatch
    * (a foreachBatch body sees a plain DataFrame with the same
    * `_change_type` / `_commit_snapshot_id` columns). Within each
    * commit, a delete row and an insert row sharing the identifier key
    * re-stamp as `update_preimage` / `update_postimage`; ambiguous
    * multiplicity per (commit, key) raises — IN-PLAN via `assert_true`
    * riding the same keyed window that pairs, so the changelog slice
    * executes exactly ONCE (a separate validation aggregate would scan
    * the whole multi-dir union twice). The error therefore surfaces at
    * the consuming action, wrapped in Spark's task failure.
    */
  def pairChangelogUpdates(
      cl: org.apache.spark.sql.DataFrame, keys: Seq[String],
      tableName: String = "<changelog>"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, col, lit, sum, when}
    require(keys.nonEmpty, s"pairChangelogUpdates on $tableName needs identifier columns")
    keys.foreach(k => require(cl.columns.contains(k),
      s"identifier column $k is not in the changelog schema " +
        s"(${cl.columns.mkString(", ")})"))
    val groupCols = (keys :+ "_commit_snapshot_id").map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols: _*)
    val msg = s"changelog of $tableName has a commit with multiple rows per " +
      s"identifier (${keys.mkString(", ")}): identifier fields must be " +
      "unique per commit side to pair updates — fix the keys or read the " +
      "raw changelog"
    cl.withColumn("_nd",
        sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(w))
      .withColumn("_ni",
        sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        // assert_true returns NULL when the check holds (and throws per
        // offending row otherwise); referencing it INSIDE the kept
        // expression stops column pruning from optimizing the check away
        when(assert_true(col("_nd") <= 1 && col("_ni") <= 1, lit(msg)).isNull &&
          col("_nd") === 1 && col("_ni") === 1,
          when(col("_change_type") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change_type")))
      .drop("_nd", "_ni")
  }

  /** Snapshot-summary keys of the exactly-once streaming watermark.
    * The per-query key (`SummaryBatchPrefix` + queryId) is the DURABLE
    * watermark: every new published head carries the union of its
    * parent's per-query watermarks forward (commitSwap; head-copying
    * commits inherit via `copy`), so maintenance that collapses history
    * — compaction + expiry down to one snapshot — can never regress the
    * exactly-once guarantee. The query-id/batch-id pair is display
    * metadata describing which batch THIS commit was.
    */
  /** Column names carrying a row's physical identity through a probe or
    * a positional-delete read (`_metadata.file_path` /
    * `_metadata.row_index`, re-aliased so they survive the snapshot-
    * schema projection and cannot collide with user columns).
    */
  val RowIdFileCol = "__graft_pd_file"
  val RowIdPosCol = "__graft_pd_pos"

  /** The row-identity columns a probe reads, as (`_metadata` field,
    * column): `FileId` names each row's data file, on every format —
    * the copy-on-write probe's; `RowId` adds its position in the file,
    * parquet only — merge-on-read's, and a positional delete's keys.
    */
  private[sink] val FileId: Seq[(String, String)] = Seq("file_path" -> RowIdFileCol)
  private[sink] val RowId: Seq[(String, String)] = FileId :+ ("row_index" -> RowIdPosCol)

  /** The fixed schema of a positional delete file: (data file path, row
    * position), as Iceberg's position delete files hold them. Files
    * written with a third column (the data dir) read unchanged: a read
    * with this schema ignores it.
    */
  val PositionalDeleteSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    new StructType().add(RowIdFileCol, StringType).add(RowIdPosCol, LongType)
  }

  /** `fields` as `format` stores them, i.e. the schema a footer read
    * infers: avro has no 8- or 16-bit integer, so those columns read
    * back as int.
    */
  private def storedSchema(
      format: String, fields: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def stored(dt: DataType): DataType = dt match {
      case ByteType | ShortType => IntegerType
      case ArrayType(e, n) => ArrayType(stored(e), n)
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = stored(f.dataType))))
      case other => other
    }
    StructType(if (format != "avro") fields
      else fields.map(f => f.copy(dataType = stored(f.dataType))))
  }

  /** The file format a snapshot stored as `format` reads with. */
  private def fileFormat(format: String): org.apache.spark.sql.execution.datasources.FileFormat =
    format match {
      case "parquet" => new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      case "avro" => new graft.source.GraftAvroFileFormat
      case other => throw new IllegalArgumentException(
        s"unknown table format '$other' (supported: ${SupportedFormats.mkString(", ")})")
    }

  val SummaryQueryId = "streaming.query-id"
  val SummaryBatchId = "streaming.batch-id"
  val SummaryBatchPrefix = "streaming.batch-id."

  /** The per-query watermarks a snapshot carries: durable prefix keys
    * plus the legacy display-pair form (pre-prefix metadata).
    */
  private[graft] def watermarksOf(s: Snapshot): Map[String, Long] = {
    val prefixed = s.summary.collect {
      case (k, v) if k.startsWith(SummaryBatchPrefix) &&
        v.toLongOption.isDefined =>
        k.stripPrefix(SummaryBatchPrefix) -> v.toLong
    }
    val legacy = for {
      q <- s.summary.get(SummaryQueryId)
      b <- s.summary.get(SummaryBatchId).flatMap(_.toLongOption)
    } yield q -> b
    // prefix form wins (it is the carried union; legacy is this commit's own)
    legacy.toMap ++ prefixed
  }

  /** Summary a head-COPYING metadata commit (rollback, cherry-pick,
    * schema change, delete, rewrite) inherits from its source snapshot:
    * the durable per-query watermark prefix keys carry forward, but the
    * source's OWN display pair (which microbatch THAT commit was) does
    * not — an ADD COLUMN or rollback is not a streaming microbatch, and
    * reporting it as one in `$snapshots` misleads. Mirrors what commitSwap
    * does for fresh commits.
    */
  private[graft] def carriedSummary(summary: Map[String, String]): Map[String, String] =
    summary - SummaryQueryId - SummaryBatchId

  /** Table-property prefixes declaring per-column parquet bloom filters
    * (Iceberg's write properties; value for the enabled prefix is
    * "true"/"false", for the ndv prefix the expected distinct count).
    */
  val BloomEnabledPrefix = "write.parquet.bloom-filter-enabled.column."
  val BloomNdvPrefix = "write.parquet.bloom-filter-expected-ndv.column."


  /** Write formats this engine can materialize (avro is declared by the
    * template vocabulary but needs the external spark-avro module).
    */
  val SupportedFormats: Set[String] = Set("parquet", "orc", "avro")

  /** Default `commit_num_retries` when the template declares none
    * (Iceberg's own `commit.retry.num-retries` default).
    */
  val DefaultCommitRetries: Int = 4

  /** Iceberg-legal lossless type promotions (the evolution spec's
    * widening set): int -> long, float -> double, decimal precision
    * growth at fixed scale. Everything else — narrowing, scale change,
    * cross-family casts — is lossy or value-changing and rejected.
    */
  def isSafePromotion(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        f.scale == t.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Default compaction target file size — Iceberg's
    * `write.target-file-size-bytes` default (512 MB).
    */
  val DefaultTargetFileBytes: Long = 512L * 1024 * 1024

  /** Commit-time clock — wall clock in production, injectable in tests
    * and fixtures so `committedAtMs` (and thus [[SnapshotTable.readAsOf]]
    * time travel) is deterministic.
    */
  @volatile private[graft] var clockMs: () => Long = () => System.currentTimeMillis()

  /** Exponential-backoff base between conflicting swap attempts
    * (wait = min(base << attempt, base*10), the tenacity
    * `wait_exponential(multiplier=1, max=10)` shape at base = 1 s).
    * Test-tunable so conflict specs don't sleep for real seconds.
    */
  @volatile private[sink] var backoffBaseMs: Long = 1000L

  /** Count of footer opens — the spec's evidence that the `$files`
    * SERVING path is sidecar-only (footer reads happen at commit time
    * and in legacy fallback, never when listing a sidecar-backed table).
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Footer opens ON THE CURRENT THREAD — the concurrency-immune form
    * of the zero-footer serving-path pins: a sidecar fallback would
    * read footers on the CALLING (driver) thread, so an equality pin
    * on this counter cannot be perturbed by concurrent queries or
    * executor-side footer walks on other threads.
    */
  private[graft] val footerReadsLocal = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private[graft] def footerReadsOnThread: Long = footerReadsLocal.get()

  /** Metadata-I/O counters of the $files serving paths — per-dir file
    * sidecars vs a consolidated manifest — so specs and in-query pins
    * can prove WHICH path served a listing (the scale contract of
    * rewrite_manifests is exactly "one open instead of one per dir").
    */
  private[graft] val sidecarReads = new PerRootCounter
  private[graft] val manifestReads = new PerRootCounter

  /** Diagnostic read counter SCOPED PER TABLE ROOT: a pin on one
    * table's serving path must not be perturbed by concurrent queries
    * touching other tables' sidecars (suites and the bench run
    * queries in parallel).
    */
  final class PerRootCounter {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def inc(root: String): Unit =
      m.computeIfAbsent(root, _ => new java.util.concurrent.atomic.AtomicLong(0L))
        .incrementAndGet(): Unit
    def get(root: String): Long = Option(m.get(root)).map(_.get()).getOrElse(0L)
  }

  /** Footer opens made on a NON-executor (driver) thread — the spec's
    * evidence that bulk import (`addFiles`) distributes its footer walk
    * as a Spark job instead of a driver-side per-file loop. Local-mode
    * executor task threads are named "Executor task launch worker-*".
    */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `_metadata.file_path` is the scanned file's URI (`file:/…`,
    * possibly URL-encoded); normalize to a local filesystem path for
    * comparison against the paths the files sidecars record. Non-URI
    * strings pass through unchanged.
    */
  private[sink] def fileUriToPath(u: String): String =
    if (u.startsWith("file:"))
      try java.nio.file.Paths.get(java.net.URI.create(u)).toString
      catch { case scala.util.control.NonFatal(_) => u.stripPrefix("file:") }
    else u

  /** Name of the import manifest listing file [[SnapshotTable.addFiles]]
    * writes into its snap-*-added dir (the Iceberg manifest-list role):
    * one JSON entry per imported file — absolute source path, relative
    * path, footer record count. Underscore-prefixed so Spark's file
    * listing and [[listDataFiles]] both skip it. The symlink tree
    * beside it is the local-FS *realization* of this listing; on object
    * storage (no symlinks) a port reads the manifest itself.
    */
  val ImportManifestName = "_import_manifest.json"

  /** One shared Hadoop conf for footer reads: Configuration construction
    * parses the default XML resources (~10 ms), which a per-file fresh
    * instance would pay on every footer of a commit-time sidecar walk.
    * Used read-only.
    */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** A `format` data file's record count from its own metadata — a
    * parquet or orc FOOTER, an avro container's block counts — with no
    * record decoded (-1 when unreadable).
    */
  private[sink] def recordCount(format: String, f: File): Long =
    try {
      footerReads.incrementAndGet(): Unit
      footerReadsLocal.set(footerReadsLocal.get() + 1L)
      if (!Thread.currentThread().getName.startsWith("Executor task launch"))
        driverFooterReads.incrementAndGet(): Unit
      val path = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      format match {
        case "parquet" =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, footerConf))
          try r.getRecordCount finally r.close()
        case "orc" =>
          val r = org.apache.orc.OrcFile.createReader(path, org.apache.orc.OrcFile.readerOptions(footerConf))
          try r.getNumberOfRows finally r.close()
        case "avro" => graft.source.GraftAvroFileFormat.recordCount(path, footerConf)
      }
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Wait before swap attempt `attempt+1` — tenacity
    * wait_exponential(multiplier=1, max=10) shape, scaled by the
    * test-tunable base. The shift is clamped: `commit_num_retries` is
    * template-controlled and unbounded, and `base << 53+` overflows Long
    * into a negative Thread.sleep argument; min(base<<4, base*10) =
    * base*10, so the clamp never changes an in-range wait.
    */
  private[sink] def backoffMs(attempt: Int): Long =
    math.min(backoffBaseMs << math.min(attempt, 4), backoffBaseMs * 10)

  /** The sleep before swap attempt `attempt+1`: uniform in [d/2, d] for
    * d = [[backoffMs]], so rival writers that conflicted together do not
    * retry in lockstep. d bounds it, and a zero base never sleeps.
    */
  private[sink] def backoffSleepMs(attempt: Int): Long = {
    val d = backoffMs(attempt)
    java.util.concurrent.ThreadLocalRandom.current().nextLong(d / 2, d + 1)
  }

  /** Minimum age an unreferenced snap-* dir must reach before the
    * orphan sweep may delete it, independent of the snapshot-expiry
    * cutoff (Iceberg's remove-orphan-files action defaults to 3 days
    * for the same reason). Conservative default; test-tunable.
    */
  @volatile private[sink] var orphanSafetyAgeMs: Long = 24L * 3600 * 1000

  /** Test seam: invoked immediately before every swap attempt (table,
    * attempt index) so specs can inject a concurrent commit into the
    * conflict window deterministically. No-op in production.
    */
  @volatile private[graft] var beforeSwapHook: (SnapshotTable, Int) => Unit = (_, _) => ()

  /** What a metadata transaction changes: the parts it replaces (None
    * leaves a part's file unwritten), the `table_write` audit records it
    * logs, and the caller's result.
    */
  private final case class Change[+A](
      result: A,
      snapshots: Option[Seq[Snapshot]] = None,
      refs: Option[Seq[TableRef]] = None,
      properties: Option[Map[String, String]] = None,
      audit: Seq[Map[String, String]] = Nil)

  private val commitLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** One lock object per table root, held by [[SnapshotTable]]'s
    * metadata transactions (JVM-wide writer serialization).
    */
  private def commitLock(root: String): Object =
    commitLocks.getOrElseUpdate(new java.io.File(root).getAbsolutePath, new Object)

  /** Warehouse layout: `<warehouse>/<namespace>.<name>/`. */
  def apply(warehouse: String, namespace: String, name: String): SnapshotTable =
    new SnapshotTable(Paths.get(warehouse, s"$namespace.$name").toString, s"$namespace.$name")
}
