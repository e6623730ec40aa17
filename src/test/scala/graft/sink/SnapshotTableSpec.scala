package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import graft.template.TemplateLoader

class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  def freshTable(): SnapshotTable =
    SnapshotTable(Files.createTempDirectory("graft_snap").toString, "ns", "t")

  test("overwrite then append: snapshots accumulate, appends are O(delta)") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    t.append(Seq(4, 5).toDF("v"))
    val snaps = t.snapshots
    assert(snaps.map(_.operation) == Seq("overwrite", "append"))
    // append snapshot references the previous dirs + one new dir
    assert(snaps(1).dataDirs.startsWith(snaps(0).dataDirs))
    assert(snaps(1).dataDirs.size == snaps(0).dataDirs.size + 1)
    assert(t.read(spark).count() == 5)
  }

  test("time travel reads the table as of an older snapshot") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    t.append(Seq(4, 5).toDF("v"))
    assert(t.readSnapshot(spark, 1L).count() == 3)
    assert(t.readSnapshot(spark, 2L).count() == 5)
    val e = intercept[NoSuchElementException](t.readSnapshot(spark, 99L))
    assert(e.getMessage.contains("no snapshot 99"))
  }

  test("overwrite replaces content atomically (old snapshot still readable)") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    t.overwrite(Seq(9).toDF("v"))
    assert(t.read(spark).count() == 1)
    assert(t.readSnapshot(spark, 1L).count() == 3) // until expired
  }

  test("expireSnapshots drops old history but never the current snapshot") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    t.overwrite(Seq(2).toDF("v"))
    val expired = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 60000)
    assert(expired == Seq(1L))
    assert(t.snapshots.map(_.id) == Seq(2L))
    assert(t.read(spark).as[Int].collect().toSeq == Seq(2))
  }

  test("reading an unregistered table raises the remediation error") {
    val t = freshTable()
    val e = intercept[RuntimeException](t.read(spark))
    assert(e.getMessage.contains("not registered"))
  }

  test("orc write format round-trips through the snapshot machinery") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), format = "orc")
    t.append(Seq((3L, "c")).toDF("id", "s"), format = "orc")
    assert(t.snapshots.forall(_.format == "orc"))
    assert(t.read(spark).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // and the data files really are ORC, not parquet with an orc label
    val dir = t.snapshots.head.dataDirs.head
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".orc")))
  }

  test("append in a different format than the table is refused") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"), format = "orc")
    val e = intercept[IllegalArgumentException](t.append(Seq(2).toDF("v")))
    assert(e.getMessage.contains("orc"))
  }

  test("avro write format is served by the avro-core FileFormat; unknown formats rejected") {
    val t = freshTable()
    // previously env-blocked (no spark-avro module): now a real write
    // through graft.source.GraftAvroFileFormat — full round-trip is
    // AvroFormatSpec's job, this pins the engine dispatch
    t.overwrite(Seq(1, 2).toDF("v"), format = "avro")
    assert(t.currentSnapshot.get.format == "avro")
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2))
    val u = intercept[IllegalArgumentException](
      freshTable().overwrite(Seq(1).toDF("v"), format = "feather"))
    assert(u.getMessage.contains("feather"))
  }

  test("rewriteManifests consolidates $files serving; later commits bypass it") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "day"), partitionCols = Seq("day"))
    t.append(Seq((3L, "a")).toDF("id", "day"), partitionCols = Seq("day"))
    val (dirs, files) = t.rewriteManifests()
    assert(dirs == 2 && files >= 2)
    def stats() = t.fileStats(spark).select("partition_path", "record_count")
      .as[(String, Long)].collect().sorted.toSeq
    val viaSidecars = Seq(("day=a", 1L), ("day=a", 1L), ("day=b", 1L))
    val (s0, m0) = (SnapshotTable.sidecarReads.get(t.root), SnapshotTable.manifestReads.get(t.root))
    assert(stats() == viaSidecars)
    assert(SnapshotTable.sidecarReads.get(t.root) == s0 && SnapshotTable.manifestReads.get(t.root) > m0,
      "the consolidated manifest must serve, zero per-dir sidecar opens")
    // a NEW commit changes the snapshot id: the stale manifest is
    // bypassed (correctness first) and the sidecar path serves again
    t.append(Seq((4L, "c")).toDF("id", "day"), partitionCols = Seq("day"))
    val s1 = SnapshotTable.sidecarReads.get(t.root)
    assert(stats() == viaSidecars :+ (("day=c", 1L)))
    assert(SnapshotTable.sidecarReads.get(t.root) > s1, "stale manifest must be bypassed")
    // re-rewriting adopts the new head and drops the stale manifest file
    t.rewriteManifests(): Unit
    val manifests = Option(new java.io.File(t.root).listFiles()).get
      .filter(_.getName.startsWith("manifest-"))
    assert(manifests.length == 1,
      s"exactly one manifest may remain: ${manifests.map(_.getName).toSeq}")
  }

  test("TableSink.overwrite enforces the declared schema before writing") {
    val tpl = TemplateLoader.get("/root/repo/templates", "events")
    val t = freshTable()
    val bad = Seq((1L, "x")).toDF("event_id", "rogue")
    val e = intercept[IllegalArgumentException](TableSink.overwrite(bad, tpl, t))
    assert(e.getMessage.contains("rogue"))
    assert(e.getMessage.contains("Missing columns"))
    assert(!t.exists) // nothing was committed
  }

  /** Run `body` with a competing append injected into the swap window
    * of the first `conflicts` attempts (see [[ConflictInjection]]).
    */
  private def withInjectedConflicts[A](t: SnapshotTable, conflicts: Int)(body: => A): A =
    ConflictInjection.withInjectedConflicts(t, conflicts)(
      t.append(Seq(-1).toDF("v"), numRetries = 0))(body)

  test("optimistic commit retries the metadata swap on conflict and carries the rival's data") {
    val t = freshTable()
    t.overwrite(Seq(1, 2).toDF("v"))
    // two rivals land between our base read and our swap; budget of 4
    // (event_stream's declared commit_num_retries) absorbs them
    val snap = withInjectedConflicts(t, conflicts = 2) {
      t.append(Seq(3).toDF("v"), numRetries = 4)
    }
    // our append carried forward the CURRENT state incl. both rival
    // appends (fast-append semantics): 2 rivals + base + ours
    assert(t.snapshots.size == 4)
    assert(snap.id == 4L)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(-1, -1, 1, 2, 3))
  }

  test("commit fails with a structured error once commit_num_retries is exhausted") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    val e = intercept[CommitFailedException] {
      withInjectedConflicts(t, conflicts = 3) {
        t.append(Seq(2).toDF("v"), numRetries = 2)
      }
    }
    assert(e.attempts == 3)
    assert(e.getMessage.contains("commit_num_retries exhausted"))
    assert(e.last.isInstanceOf[CommitConflictException])
    // the failed writer's data never became visible
    assert(!t.read(spark).as[Int].collect().contains(2))
    // ...and its already-written data dir was deleted, not orphaned: every
    // snap-* dir on disk is referenced by a surviving snapshot
    val referenced = t.snapshots.flatMap(_.dataDirs)
      .map(d => new java.io.File(d).getName).toSet
    val onDisk = new java.io.File(t.root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName).toSet
    assert(onDisk == referenced, s"orphaned dirs: ${onDisk -- referenced}")
  }

  test("expireSnapshots sweeps aged orphan dirs but spares fresh (in-flight) ones") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    // an abandoned commit's residue (process died between write and swap)
    val aged = new java.io.File(t.root, "snap-deadbeef")
    assert(aged.mkdir() && new java.io.File(aged, "part-0.parquet").createNewFile())
    assert(aged.setLastModified(System.currentTimeMillis() - 120000))
    // a commit in flight RIGHT NOW: dir written (outside the lock), swap pending
    val fresh = new java.io.File(t.root, "snap-cafebabe")
    assert(fresh.mkdir())
    val saved = SnapshotTable.orphanSafetyAgeMs
    SnapshotTable.orphanSafetyAgeMs = 90000L
    try t.expireSnapshots(olderThanMs = System.currentTimeMillis() - 60000): Unit
    finally SnapshotTable.orphanSafetyAgeMs = saved
    assert(!aged.exists(), "aged orphan should be swept")
    assert(fresh.exists(), "fresh dir may belong to an in-flight commit - must survive")
    assert(t.read(spark).as[Int].collect().toSeq == Seq(1)) // live data untouched
  }

  test("orphan sweep is clamped by the safety age, not the expiry cutoff") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    // a concurrent commit mid-flight: data dir written 2 minutes ago,
    // metadata swap pending. retain-only-current is a LEGAL call whose
    // cutoff (now) postdates the dir - only the safety clamp saves it.
    val inflight = new java.io.File(t.root, "snap-11111111")
    assert(inflight.mkdir() && new java.io.File(inflight, "part-0.parquet").createNewFile())
    assert(inflight.setLastModified(System.currentTimeMillis() - 120000))
    t.expireSnapshots(olderThanMs = System.currentTimeMillis()): Unit
    assert(inflight.exists(),
      "dir younger than the safety age must survive expireSnapshots(now)")
  }

  test("incremental read returns only appended deltas; overwrite resets lineage") {
    val t = freshTable()
    t.overwrite(Seq(1, 2).toDF("v"))
    t.append(Seq(3).toDF("v"))
    t.append(Seq(4, 5).toDF("v"))
    // delta from the base snapshot = both appends, never the base rows
    assert(t.readIncremental(spark, 1L, 3L).as[Int].collect().sorted.toSeq == Seq(3, 4, 5))
    assert(t.readIncremental(spark, 2L, 3L).as[Int].collect().sorted.toSeq == Seq(4, 5))
    // from == to: nothing new
    assert(t.readIncremental(spark, 3L, 3L).isEmpty)
    // an overwrite drops prior dirs: the "delta" is the full new state
    t.overwrite(Seq(9).toDF("v"))
    assert(t.readIncremental(spark, 3L, 4L).as[Int].collect().toSeq == Seq(9))
    intercept[NoSuchElementException] { t.readIncremental(spark, 1L, 99L) }
    intercept[IllegalArgumentException] { t.readIncremental(spark, 3L, 1L) }
  }

  test("row counts are recorded in snapshot metadata at commit time") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    t.append(Seq(4, 5).toDF("v"))
    t.overwrite(Seq(9).toDF("v"))
    // totals accumulate along the append lineage and reset on overwrite —
    // and LISTING them touches no data files (pure metadata read)
    assert(t.snapshots.map(_.rowCount) == Seq(3L, 5L, 1L))
    // survives the metadata JSON round-trip (fresh handle re-parses)
    val reloaded = new SnapshotTable(t.root, t.fullName)
    assert(reloaded.snapshots.map(_.rowCount) == Seq(3L, 5L, 1L))
  }

  test("pre-rowCount metadata reads as unknown (-1) and appends stay unknown") {
    val t = freshTable()
    // metadata written by an older engine version: no row_count field
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t.root))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t.root, "metadata.json"),
      """[{"id":1,"committed_at_ms":123,"operation":"overwrite","format":"parquet","data_dirs":[]}]"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(t.snapshots.map(_.rowCount) == Seq(-1L))
    // an append onto an unknown total must stay unknown, not invent a number
    t.append(Seq(7).toDF("v"))
    assert(t.snapshots.map(_.rowCount) == Seq(-1L, -1L))
  }

  test("empty incremental delta still carries the table schema") {
    val t = freshTable()
    t.overwrite(Seq((1, "a")).toDF("id", "name"))
    // steady-state no-new-data read: 0 rows, but downstream consumers
    // must be able to select the table's columns without crashing
    val empty = t.readIncremental(spark, 1L, 1L)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq == Seq("id", "name"))
    assert(empty.select("id", "name").count() == 0) // named select works
  }

  test("backoff wait is clamped: huge attempt counts never go negative") {
    assert(SnapshotTable.backoffMs(0) == SnapshotTable.backoffBaseMs)
    assert(SnapshotTable.backoffMs(3) == SnapshotTable.backoffBaseMs * 8)
    // pre-clamp, base << 60 overflowed Long and Thread.sleep threw
    for (attempt <- Seq(4, 10, 53, 60, Int.MaxValue)) {
      val w = SnapshotTable.backoffMs(attempt)
      assert(w == SnapshotTable.backoffBaseMs * 10, s"attempt=$attempt gave $w")
    }
  }

  test("six genuinely concurrent appenders all land; no commit is lost") {
    val t = freshTable()
    t.overwrite(Seq(0).toDF("v"))
    SnapshotTable.backoffBaseMs = 1L
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 6).map { i =>
        new Thread(() => {
          try t.append(Seq(i).toDF("v"), numRetries = 10): Unit
          catch { case e: Throwable => errors.add(e): Unit }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"concurrent append failed: ${errors.peek()}")
      // every commit landed: base overwrite + 6 appends, monotone ids,
      // and the table contains every appended row exactly once
      assert(t.snapshots.size == 7)
      assert(t.snapshots.map(_.id) == (1L to 7L))
      assert(t.read(spark).as[Int].collect().sorted.toSeq == (0 to 6))
    } finally SnapshotTable.backoffBaseMs = 1000L
  }

  test("commit_num_retries is read from the table template") {
    val tpl = TemplateLoader.get("/root/repo/templates", "event_stream")
    assert(tpl.commitNumRetries == 4) // declared in the template yaml
    val undeclared = TemplateLoader.get("/root/repo/templates", "events")
    assert(undeclared.commitNumRetries == SnapshotTable.DefaultCommitRetries)
  }

  test("compact bin-packs small files into a replace snapshot, preserving rows + history") {
    val t = freshTable()
    // 5 appends x 4 files each = fragmented layout
    (0 until 5).foreach { i =>
      t.append(spark.range(i * 100, (i + 1) * 100).toDF("v").repartition(4)): Unit
    }
    val before = t.dataFileCount
    assert(before >= 20)
    val snap = t.compact(spark)
    assert(snap.operation == "replace")
    assert(snap.rowCount == 500)
    assert(t.dataFileCount < before)
    assert(t.read(spark).as[Long].collect().sorted.toSeq == (0L until 500L))
    // history preserved: the pre-compaction snapshot is still readable...
    assert(t.snapshots.size == 6)
    assert(t.readSnapshot(spark, 5L).count() == 500)
    // ...until expiry reclaims the small-file dirs the replace dropped
    val expired = t.expireSnapshots(System.currentTimeMillis() + 1)
    assert(expired == (1L to 5L))
    assert(t.read(spark).count() == 500)
    // the small-file dirs are physically reclaimed: only the replace
    // snapshot's dirs remain on disk
    val liveDirs = t.currentSnapshot.get.dataDirs.toSet
    val onDisk = Option(new java.io.File(t.root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getPath).toSet
    assert(onDisk == liveDirs)
  }

  test("compact conflicts with a concurrent append instead of dropping its rows") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v").repartition(3))
    // inject a rival append into compaction's write-to-swap window; the
    // CAS must fail, and with no retry left compaction must EXHAUST
    // rather than commit a snapshot that silently drops the rival's rows
    val e = intercept[CommitFailedException](
      ConflictInjection.withInjectedConflicts(t, conflicts = 1)(t.append(Seq(4).toDF("v"))) {
        t.compact(spark, numRetries = 0)
      })
    assert(e.attempts == 1)
    // the table still holds every row, including the rival append's
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("compact with a retry left recompacts on top of a concurrent append") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v").repartition(3))
    val snap = ConflictInjection.withInjectedConflicts(t, conflicts = 1)(
      t.append(Seq(4).toDF("v"))) {
      t.compact(spark, numRetries = 1)
    }
    assert(snap.operation == "replace")
    assert(t.currentSnapshot.map(_.id).contains(snap.id))
    // the retry re-read the rival's head: its row is compacted, not lost
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(snap.rowCount == 4L)
    assert(snap.dataDirs.size == 1, "one compacted dir")
    assert(ConflictInjection.unreferencedDirs(t).isEmpty)
  }

  test("partitionStats merges commit-time sidecars across dirs without scanning data") {
    val t = freshTable()
    val df1 = Seq((1, "a"), (2, "a"), (3, "b")).toDF("v", "k")
    val df2 = Seq((4, "b"), (5, "c")).toDF("v", "k")
    t.overwrite(df1, partitionCols = Seq("k"))
    t.append(df2, partitionCols = Seq("k"))
    val stats = t.partitionStats(spark)
      .select("partition_path", "file_count", "row_count")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(stats.map(s => (s._1, s._3)) == Seq(("k=a", 2L), ("k=b", 2L), ("k=c", 1L)))
    assert(stats.forall(_._2 >= 1)) // at least one file per partition dir
    // unpartitioned tables report a single root partition
    val u = freshTable()
    u.overwrite(Seq(1, 2, 3).toDF("v"))
    val uStats = u.partitionStats(spark)
      .as[(String, Long, Long)].collect().toSeq
    assert(uStats.map(s => (s._1, s._3)) == Seq(("", 3L)))
  }

  test("partitionStats falls back to unknown rows for dirs predating the sidecar") {
    val t = freshTable()
    t.overwrite(Seq(1, 2).toDF("v"))
    // a dir predating both sidecars: its files are walked, rows unknown
    Seq(".graft-partitions.json", ".graft-files.json").foreach { name =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t.currentSnapshot.get.dataDirs.head, name)): Unit
    }
    val stats = t.partitionStats(spark).as[(String, Long, Long)].collect().toSeq
    assert(stats.map(_._3) == Seq(-1L)) // unknown stays unknown
    assert(stats.map(_._2).forall(_ >= 1)) // file counts still walkable
  }

  test("dynamic partition overwrite replaces exactly the batch's partitions") {
    val t = freshTable()
    val base = Seq((1, "a", "v1"), (2, "a", "v1"), (3, "b", "v1"), (4, "c", "v1"))
      .toDF("id", "k", "payload")
    t.overwrite(base, partitionCols = Seq("k"))
    // restate partition a only; b and c untouched
    val batch = Seq((10, "a", "v2")).toDF("id", "k", "payload")
    val snap = t.overwritePartitions(batch, partitionCols = Seq("k"))
    assert(snap.operation == "overwrite_partitions")
    val rows = t.read(spark).select("id", "k", "payload")
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    assert(rows == Seq((3, "b", "v1"), (4, "c", "v1"), (10, "a", "v2")))
    // row count restated from metadata alone: 4 - 2 masked + 1 new
    assert(snap.rowCount == 3)
    // time travel still sees the pre-restatement state
    assert(t.readSnapshot(spark, 1L).count() == 4)
    // partition stats exclude the masked rows and include the new dir's
    val stats = t.partitionStats(spark)
      .select("partition_path", "row_count").as[(String, Long)].collect().toMap
    assert(stats == Map("k=a" -> 1L, "k=b" -> 1L, "k=c" -> 1L))

    // a second restatement of the SAME partition accrues masks correctly
    val snap3 = t.overwritePartitions(Seq((20, "a", "v3")).toDF("id", "k", "payload"),
      partitionCols = Seq("k"))
    assert(snap3.rowCount == 3)
    val v3 = t.read(spark).filter($"k" === "a")
      .select("payload").as[String].collect().toSeq
    assert(v3 == Seq("v3"))
  }

  test("masked partitions are pruned at planning, not scanned-and-filtered") {
    val t = freshTable()
    t.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "k"),
      partitionCols = Seq("k"))
    val full = t.read(spark)
    t.overwritePartitions(Seq((9, "a")).toDF("id", "k"), partitionCols = Seq("k"))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    assert(scannedFiles(full) == 3) // one file per partition dir
    val masked = t.read(spark)
    // base dir drops k=a at planning (-1), the new dir adds one file (+1)
    assert(scannedFiles(masked) == 3)
    val plan = masked.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    // the sharpest pin: reading only the restated partition touches ONE
    // file — the new dir's; the base dir's k=a file is mask-pruned, and
    // without pruning this would be 2 (scan-then-filter)
    assert(scannedFiles(masked.filter($"k" === "a")) == 1)
    assert(masked.count() == 3)
  }

  test("masks prune DATE-typed partition dirs too (the hidden-partitioning case)") {
    import java.sql.Date
    val t = freshTable()
    val d = (s: String) => Date.valueOf(s)
    t.overwrite(Seq((1, d("2024-01-01")), (2, d("2024-01-02")), (3, d("2024-01-03")))
      .toDF("id", "day"), partitionCols = Seq("day"))
    t.overwritePartitions(Seq((9, d("2024-01-02"))).toDF("id", "day"),
      partitionCols = Seq("day"))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    // the mask predicate casts the DateType partition column to string;
    // planning must still resolve it against the partition spec: reading
    // the restated day touches ONLY the new dir's file
    assert(scannedFiles(t.read(spark).filter($"day" === d("2024-01-02"))) == 1)
    val rows = t.read(spark).select("id").as[Int].collect().sorted.toSeq
    assert(rows == Seq(1, 3, 9))
  }

  test("dynamic overwrite on an unpartitioned table is rejected") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    val e = intercept[IllegalArgumentException](
      t.overwritePartitions(Seq(2).toDF("v"), partitionCols = Nil))
    assert(e.getMessage.contains("partition"))
  }

  test("write-audit-publish: staged snapshots are invisible until published") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    val staged = t.stageAppend(Seq(4, 5).toDF("v"))
    assert(staged.staged)
    // the table does not see staged data; the audit path does
    assert(t.read(spark).count() == 3)
    assert(t.currentSnapshot.get.id == 1L)
    assert(t.readSnapshot(spark, staged.id).count() == 5)
    // metadata round-trips the staged flag (fresh parse from disk)
    assert(t.snapshots.find(_.id == staged.id).get.staged)
    val published = t.publish(staged.id)
    assert(!published.staged && published.rowCount == 5)
    assert(t.read(spark).count() == 5)
    assert(t.currentSnapshot.get.id == staged.id)
    // double publish is rejected
    intercept[IllegalArgumentException](t.publish(staged.id))
  }

  test("publish conflicts when the published head advanced since staging") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    val staged = t.stageAppend(Seq(2).toDF("v"))
    // a rival append lands AFTER staging: it CASes against the published
    // head (not the staged snapshot) and wins
    t.append(Seq(3).toDF("v"))
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 3))
    val e = intercept[PublishConflictException](t.publish(staged.id))
    assert(e.snapshotId == staged.id)
    // the rival's rows were never dropped; the staged snapshot restages
    t.discardStaged(staged.id)
    val again = t.stageAppend(Seq(2).toDF("v"))
    t.publish(again.id): Unit
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("discarding a failed-audit stage deletes its data dir") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    val staged = t.stageAppend(Seq(99).toDF("v"))
    val stagedDir = staged.dataDirs.last
    assert(new java.io.File(stagedDir).exists)
    t.discardStaged(staged.id)
    assert(!new java.io.File(stagedDir).exists, "discard must reclaim the staged dir")
    assert(t.snapshots.map(_.id) == Seq(1L))
    assert(t.read(spark).count() == 1)
    // published snapshots cannot be discarded through the staging path
    intercept[IllegalArgumentException](t.discardStaged(1L))
  }

  test("equality deletes erase matching rows without rewriting data files") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("id", "u"))
    val filesBefore = t.dataFileCount
    val snap = t.deleteWhere(Seq("a").toDF("u"), Seq("u"))
    assert(snap.operation == "delete")
    assert(t.dataFileCount == filesBefore) // merge-on-read: layout untouched
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // row count restated exactly from the key-columns-only job
    assert(snap.rowCount == 2)
    // time travel still sees the pre-delete state
    assert(t.readSnapshot(spark, 1L).count() == 4)
  }

  test("rows appended after a delete survive it; compaction pays the debt") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "u"))
    t.deleteWhere(Seq("a").toDF("u"), Seq("u"))
    // re-registration after erasure: same key, NEW data — out of the
    // delete's dir scope, must survive
    t.append(Seq((9L, "a")).toDF("id", "u"))
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 9L))
    assert(t.currentSnapshot.get.rowCount == 2)
    assert(t.currentSnapshot.get.deletes.size == 1) // carried by the append
    // compaction applies the delete physically and drops it
    val compacted = t.compact(spark)
    assert(compacted.deletes.isEmpty)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 9L))
    // after expiry the delete file itself is reclaimed
    val delDir = t.snapshots.flatMap(_.deletes).map(_.dir).head
    assert(new java.io.File(delDir).exists)
    t.expireSnapshots(System.currentTimeMillis() + 1)
    assert(!new java.io.File(delDir).exists, "expired delete file must be reclaimed")
    assert(t.read(spark).count() == 2)
  }

  test("deletes round-trip metadata and second deletes compose") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "u", "v"))
    t.deleteWhere(Seq("a").toDF("u"), Seq("u"))
    t.deleteWhere(Seq(20).toDF("v"), Seq("v")) // different key column
    val parsed = t.currentSnapshot.get
    assert(parsed.deletes.map(_.keys) == Seq(Seq("u"), Seq("v")))
    assert(parsed.rowCount == 1)
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("rollback restores an earlier state as new auditable history") {
    val t = freshTable()
    t.overwrite(Seq(1, 2, 3).toDF("v"))
    t.append(Seq(4).toDF("v"))
    t.overwrite(Seq(99).toDF("v")) // the bad load
    val snap = t.rollback(2L)
    assert(snap.operation == "rollback" && snap.id == 4L)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    // the bad load stays time-travelable; expiry then reclaims it
    assert(t.readSnapshot(spark, 3L).as[Int].collect().toSeq == Seq(99))
    t.expireSnapshots(System.currentTimeMillis() + 1)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    intercept[NoSuchElementException](t.readSnapshot(spark, 3L))
    // a staged snapshot cannot be rolled back to
    val staged = t.stageAppend(Seq(7).toDF("v"))
    intercept[IllegalArgumentException](t.rollback(staged.id))
  }

  test("publish conflicts on a dir-preserving head move (equality delete between stage and publish)") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "u"))
    val staged = t.stageAppend(Seq((4L, "c")).toDF("id", "u"))
    // an equality delete advances the published head WITHOUT changing its
    // dataDirs — a dirs-equality conflict check cannot see it, and the
    // flipped snapshot would carry the stage-time (pre-delete) deletes
    // list and rowCount: GDPR-erased rows resurrected as published state
    t.deleteWhere(Seq("a").toDF("u"), Seq("u"))
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(2L))
    val e = intercept[PublishConflictException](t.publish(staged.id))
    assert(e.snapshotId == staged.id)
    // erased rows stay erased; restaging on the new head then publishes
    t.discardStaged(staged.id)
    val again = t.stageAppend(Seq((4L, "c")).toDF("id", "u"))
    t.publish(again.id): Unit
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    assert(t.currentSnapshot.get.deletes.size == 1)
  }

  test("publish conflicts on a rollback to a same-dirs state between stage and publish") {
    val t = freshTable()
    t.overwrite(Seq(1, 2).toDF("v"))
    t.append(Seq(3).toDF("v"))
    val staged = t.stageAppend(Seq(4).toDF("v"))
    t.rollback(1L) // head moves; dirs of the head are a prefix — stage-time
    // parent (id 2) is gone from the published line
    intercept[PublishConflictException](t.publish(staged.id))
  }

  test("parent id round-trips metadata; legacy metadata parses with none") {
    val t = freshTable()
    t.overwrite(Seq(1).toDF("v"))
    t.append(Seq(2).toDF("v"))
    val reloaded = new SnapshotTable(t.root, t.fullName)
    assert(reloaded.snapshots.map(_.parentId) == Seq(Some(0L), Some(1L)))
    // legacy metadata predating parent_id still parses (None)
    val legacy = freshTable()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(legacy.root))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacy.root, "metadata.json"),
      """[{"id":1,"committed_at_ms":123,"operation":"overwrite","format":"parquet","row_count":0,"data_dirs":[]}]"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(legacy.snapshots.map(_.parentId) == Seq(None))
  }

  test("deleteWhere counts outside the lock; a conflicting append is recounted, not lost") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "u"))
    // the hook fires AFTER the unserialized count job, BEFORE the swap:
    // inject a rival append (with a matching key!) into exactly that
    // window — the CAS must fail, the count must be recomputed against
    // the new head (whose dirs enter the delete's scope), and the final
    // restated count must reflect both the rival's row and its deletion
    val snap = ConflictInjection.withInjectedConflicts(t, conflicts = 1)(
        t.append(Seq((9L, "a"), (10L, "c")).toDF("id", "u"))) {
      t.deleteWhere(Seq("a").toDF("u"), Seq("u"), numRetries = 2)
    }
    // base had 3 rows +2 appended = 5; keys 'a' remove ids 1, 3 AND the
    // rival's 9 (the delete committed after the append, so the rival's
    // dir is in scope — Iceberg sequence ordering)
    assert(snap.rowCount == 2)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 10L))
  }

  test("dynamic overwrite over delete-restated dirs records unknown, not understated, counts") {
    val t = freshTable()
    t.overwrite(Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "k"), partitionCols = Seq("k"))
    // the delete restates the total (3 -> 2: id=1 erased)
    t.deleteWhere(Seq(1).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.rowCount == 2)
    // a dynamic overwrite of partition a masks it on the carried dir; the
    // sidecar says k=a holds 2 PHYSICAL rows, but one was already removed
    // from the carried total by the delete — subtracting the sidecar
    // count would record 2 - 2 + 1 = 1 (understating: k=b's row + the new
    // row = 2). Unknown (-1) is the honest answer.
    val snap = t.overwritePartitions(Seq((9, "a")).toDF("id", "k"), partitionCols = Seq("k"))
    assert(snap.rowCount == -1L, s"expected unknown rowCount, got ${snap.rowCount}")
    // the DATA stays correct regardless
    assert(t.read(spark).select("id").as[Int].collect().sorted.toSeq == Seq(3, 9))
  }

  test("timestamp-partitioned sidecars key by Spark's dir rendering (no split entries)") {
    import java.sql.Timestamp
    val t = freshTable()
    val ts = (s: String) => Timestamp.valueOf(s)
    // java.sql.Timestamp.toString renders '…00:00:00.0'; the partition
    // DIRECTORY is '…00%3A00%3A00' (no fractional part) — keys must use
    // Spark's own rendering or stats split into files-only/rows-only rows
    t.overwrite(Seq((1L, ts("2024-01-10 00:00:00")), (2L, ts("2024-01-10 00:00:00")),
      (3L, ts("2024-01-11 12:30:00"))).toDF("id", "h"), partitionCols = Seq("h"))
    val stats = t.partitionStats(spark)
      .select("partition_path", "file_count", "row_count")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(stats.size == 2, s"split sidecar entries: $stats")
    assert(stats.map(_._3) == Seq(2L, 1L), s"unknown row counts: $stats")
    assert(stats.forall(_._2 >= 1), s"file-less entries: $stats")
    assert(stats.map(_._1) == Seq("h=2024-01-10 00:00:00", "h=2024-01-11 12:30:00"))
  }

  test("compact derives the partition layout when the caller omits it") {
    val t = freshTable()
    (0 until 3).foreach { i =>
      t.append(Seq((i * 2, "a"), (i * 2 + 1, "b")).toDF("id", "k"),
        partitionCols = Seq("k")): Unit
    }
    assert(t.partitionColumns == Seq("k"))
    val before = t.dataFileCount
    t.compact(spark) // no partitionCols passed — must not flatten the layout
    assert(t.dataFileCount < before)
    // layout survives: partition stats still key by k, and a partition
    // filter prunes to that partition's files only
    val stats = t.partitionStats(spark)
      .select("partition_path", "row_count").as[(String, Long)].collect().toMap
    assert(stats == Map("k=a" -> 3L, "k=b" -> 3L))
    val scanned = t.read(spark).filter($"k" === "a").queryExecution.executedPlan
      .collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    assert(scanned == t.dataFileCount / 2,
      s"partition filter should prune to half the files, scanned $scanned")
    // unpartitioned tables still bin-pack via coalesce
    val u = freshTable()
    u.overwrite(Seq(1, 2, 3).toDF("v").repartition(3))
    assert(u.partitionColumns.isEmpty)
    u.compact(spark)
    assert(u.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("readAsOf resolves the newest published snapshot at or before the timestamp") {
    val t = freshTable()
    val saved = SnapshotTable.clockMs
    try {
      SnapshotTable.clockMs = () => 1000L
      t.overwrite(Seq(1).toDF("v"))
      SnapshotTable.clockMs = () => 2000L
      t.append(Seq(2).toDF("v"))
      SnapshotTable.clockMs = () => 3000L
      t.stageAppend(Seq(99).toDF("v")): Unit // staged: invisible to time travel
      assert(t.readAsOf(spark, 1000L).as[Int].collect().toSeq == Seq(1))
      assert(t.readAsOf(spark, 1500L).as[Int].collect().toSeq == Seq(1))
      assert(t.readAsOf(spark, 2000L).as[Int].collect().sorted.toSeq == Seq(1, 2))
      assert(t.readAsOf(spark, 9999L).as[Int].collect().sorted.toSeq == Seq(1, 2))
      val e = intercept[NoSuchElementException](t.readAsOf(spark, 999L))
      assert(e.getMessage.contains("at or before 999"))
    } finally SnapshotTable.clockMs = saved
  }

  test("equality deletes survive a format-preserving compaction and format is per-table") {
    // delete files are written and read with the table's format
    // (SnapshotTable reads them via snap.format): pin that an orc table's
    // deletes apply correctly and that compaction — which materializes
    // the merged view — pays the delete debt in the same format
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "u"), format = "orc")
    t.deleteWhere(Seq("a").toDF("u"), Seq("u"))
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(2L))
    val snap = t.compact(spark)
    assert(snap.format == "orc" && snap.deletes.isEmpty)
    assert(t.read(spark).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("appendOnce: replayed batch ids are skipped, the watermark rides the summary") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    // batch 0 commits; its watermark is in the snapshot summary
    val s0 = t.appendOnce("q1", 0L, Seq((2L, "b")).toDF("id", "v"))
    assert(s0.isDefined)
    assert(s0.get.summary == Map(
      SnapshotTable.SummaryQueryId -> "q1", SnapshotTable.SummaryBatchId -> "0",
      s"${SnapshotTable.SummaryBatchPrefix}q1" -> "0"))
    // the watermark survives the metadata round trip
    assert(t.lastCommittedBatch("q1").contains(0L))
    // same batch re-delivered -> skipped, table unchanged
    val head = t.currentSnapshot.get.id
    assert(t.appendOnce("q1", 0L, Seq((2L, "b")).toDF("id", "v")).isEmpty)
    assert(t.currentSnapshot.get.id == head)
    // progress, then an OLD batch replayed after progress -> still skipped
    assert(t.appendOnce("q1", 1L, Seq((3L, "c")).toDF("id", "v")).isDefined)
    assert(t.appendOnce("q1", 0L, Seq((2L, "b")).toDF("id", "v")).isEmpty)
    assert(t.lastCommittedBatch("q1").contains(1L))
    // a DIFFERENT query id has its own watermark
    assert(t.appendOnce("q2", 0L, Seq((4L, "d")).toDF("id", "v")).isDefined)
    assert(t.lastCommittedBatch("q2").contains(0L))
    assert(t.read(spark).count() == 4)
    // plain commits carry no display annotations of their own, but DO
    // carry the per-query watermark union forward (expiry safety)
    val plain = t.append(Seq((5L, "e")).toDF("id", "v")).summary
    assert(!plain.contains(SnapshotTable.SummaryQueryId))
    assert(plain.get(s"${SnapshotTable.SummaryBatchPrefix}q1").contains("1"))
    assert(plain.get(s"${SnapshotTable.SummaryBatchPrefix}q2").contains("0"))
  }

  test("$files serves from commit-time sidecars: zero query-time footer reads") {
    val t = freshTable()
    val df = (1 to 100).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "part")
    t.overwrite(df, partitionCols = Seq("part"))
    t.append((101 to 120).map(i => (i.toLong, "d0")).toDF("id", "part"),
      partitionCols = Seq("part"))
    val before = SnapshotTable.footerReadsOnThread
    val files = t.fileStats(spark).collect()
    assert(SnapshotTable.footerReadsOnThread == before,
      "the $files SERVING path must be sidecar-only (footers are commit-time)")
    assert(files.map(_.getAs[Long]("record_count")).sum == 120)
    assert(files.forall(_.getAs[Long]("size_bytes") > 0))
    // independent evidence chain: every sidecar record count equals what
    // the parquet footer itself says
    files.foreach { r =>
      val f = new java.io.File(r.getAs[String]("file_path"))
      assert(f.exists, s"listed file must exist: $f")
      assert(SnapshotTable.recordCount("parquet", f) == r.getAs[Long]("record_count"),
        s"sidecar row count must match the footer for $f")
    }
    // a dir written before the file sidecar existed (legacy) falls back
    // to the walk-and-footer path, same answer
    val legacyBase = SnapshotTable.footerReads.get()
    t.currentSnapshot.get.dataDirs.foreach { d =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(d, ".graft-files.json"))
    }
    val files2 = t.fileStats(spark).collect()
    assert(files2.map(_.getAs[Long]("record_count")).sum == 120,
      "legacy fallback must agree with the sidecar answer")
    assert(SnapshotTable.footerReads.get() > legacyBase,
      "the legacy path is the footer path")
  }

  /** 40 rows (`id` from `from`, `part` d0/d1) as a 4-slice local frame:
    * a write of it without clustering leaves one file per slice.
    */
  private def fourSlices(from: Int) =
    (from until from + 40).map(i => (i.toLong, s"d${i % 2}")).toDF("id", "part")

  /** Each partition's true rows and every file's recorded rows of `t`'s
    * head, with no footer read while listing them.
    */
  private def assertExactRows(t: SnapshotTable, expected: Map[String, Long]): Unit = {
    val before = SnapshotTable.footerReadsOnThread
    val parts = t.partitionStats(spark).collect()
      .map(r => r.getAs[String]("partition_path") -> r.getAs[Long]("row_count")).toMap
    val files = t.fileStats(spark).collect()
    assert(SnapshotTable.footerReadsOnThread == before, "listing rows must read no footer")
    assert(parts == expected, s"$$partitions rows: $parts")
    assert(files.forall(_.getAs[Long]("record_count") >= 0) &&
      files.map(_.getAs[Long]("record_count")).sum == expected.values.sum,
      s"$$files rows: ${files.map(_.getAs[Long]("record_count")).toSeq}")
  }

  // one append's jobs per format and layout: the write's own (2 for the
  // hash-clustered partitioned write, 1 for the plain write) and no
  // stats job, every file's rows recorded from the write's metrics or
  // the file itself
  for (format <- Seq("parquet", "orc", "avro"); partitioned <- Seq(true, false)) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"
    test(s"$format $layout append: write jobs only, exact rows") {
      val t = freshTable()
      val parts = if (partitioned) Seq("part") else Nil
      t.overwrite(fourSlices(0), partitionCols = parts, format = format)
      val sites = jobSitesDuring(t.append(fourSlices(40), partitionCols = parts, format = format))
      val pinned = if (partitioned) 2 else 1
      assert(sites.size == pinned, s"ran ${sites.size} jobs, pinned at $pinned: ${sites.mkString("; ")}")
      assert(t.currentSnapshot.get.dataDirs.forall(d => t.fileStats(spark)
        .filter($"data_dir" === d).count() > 1), "every dir is multi-file")
      assertExactRows(t,
        if (partitioned) Map("part=d0" -> 40L, "part=d1" -> 40L) else Map("" -> 80L))
    }
  }

  test("orc and avro multi-file partitions record exact rows") {
    for (format <- Seq("orc", "avro")) {
      val t = freshTable()
      t.setProperties(Map(WriteDistribution.Key -> "none"))
      t.overwrite(fourSlices(0), partitionCols = Seq("part"), format = format)
      t.append(fourSlices(40), format = format, partitionCols = Seq("part"))
      // every task writes into both partitions: 4 files each per dir
      assert(t.fileStats(spark).count() == 16, format)
      assertExactRows(t, Map("part=d0" -> 40L, "part=d1" -> 40L))
    }
  }

  test("properties set before the first commit persist through it") {
    val t = freshTable()
    assert(!Files.exists(java.nio.file.Paths.get(t.root)))
    t.setProperties(Map("owner" -> "team"))
    assert(t.properties == Map("owner" -> "team"))
    t.overwrite(Seq(1, 2).toDF("v"))
    assert(t.properties == Map("owner" -> "team"))
    assert(t.read(spark).count() == 2L)
  }

  test("a legacy orc dir keeps its partitions sidecar rows") {
    // the layout older commits left: a files sidecar of bare file
    // entries of unknown (-1) rows beside a partitions sidecar of
    // per-partition rows
    val t = freshTable()
    t.setProperties(Map(WriteDistribution.Key -> "none"))
    t.overwrite(fourSlices(0), partitionCols = Seq("part"), format = "orc")
    val dir = t.currentSnapshot.get.dataDirs.head
    val filesSidecar = java.nio.file.Paths.get(dir, ".graft-files.json")
    Files.writeString(filesSidecar, MetadataJson.render(MetadataJson.read(filesSidecar).get
      .asObj("files")).replaceAll("\"rows\":\\d+", "\"rows\":-1"))
    Files.writeString(java.nio.file.Paths.get(dir, ".graft-partitions.json"),
      """[{"partition":"part=d0","files":4,"rows":20},{"partition":"part=d1","files":4,"rows":20}]""")
    val parts = t.partitionStats(spark).as[(String, Long, Long)].collect().toSeq
    assert(parts == Seq(("part=d0", 4L, 20L), ("part=d1", 4L, 20L)), parts)
    // restating part=d0 masks its 20 rows: 40 - 20 + 3
    val snap = t.overwritePartitions(
      Seq((100L, "d0"), (101L, "d0"), (102L, "d0")).toDF("id", "part"),
      partitionCols = Seq("part"), format = "orc")
    assert(snap.rowCount == 23L)
    assert(t.read(spark).count() == 23L)
  }

  test("$partitions and $files: a string partition of numeric-looking values is one entry") {
    val t = freshTable()
    t.overwrite(Seq((1L, "007"), (2L, "10")).toDF("id", "code"), partitionCols = Seq("code"))
    t.append(Seq((3L, "10"), (4L, "11")).toDF("id", "code"), partitionCols = Seq("code"))
    // the row counts are keyed by the written value, as the files are
    // grouped by their paths: one code=007 entry, not code=007 with the
    // file and code=7 with the row
    val parts = t.partitionStats(spark).as[(String, Long, Long)].collect().toSeq
    assert(parts == Seq(("code=007", 1L, 1L), ("code=10", 2L, 2L), ("code=11", 1L, 1L)), parts)
    val files = t.fileStats(spark).filter($"partition_path" === "code=007")
      .select("record_count").as[Long].collect().toSeq
    assert(files == Seq(1L), files)
  }

  test("per-partition rows are exact at 8 partitions; bounds survive") {
    val t = freshTable()
    // every partition's rows come from its files' recorded rows; the
    // dir-level column bounds still come from one global aggregate row
    val df = (1 to 40).map(i => (i.toLong, s"p${i % 8}")).toDF("id", "part")
    t.overwrite(df, partitionCols = Seq("part"))
    val stats = t.partitionStats(spark).collect()
    assert(stats.length == 8)
    assert(stats.forall(_.getAs[Long]("file_count") >= 1L))
    assert(stats.forall(_.getAs[Long]("row_count") == 5L),
      stats.map(r => r.getAs[String]("partition_path") -> r.getAs[Long]("row_count")).toSeq)
    val dir = t.currentSnapshot.get.dataDirs.head
    val range = MetadataJson.read(java.nio.file.Paths.get(dir, ".graft-files.json")).get
      .asObj.get("ranges").flatMap(graft.plans.RangeStats.parse)
    assert(range.exists(_.cols.get("part").exists(c =>
      c.min.contains("p0") && c.max.contains("p7"))),
      s"global-aggregate bounds must still be recorded, got $range")
  }

  test("head-copying commits keep the watermark but drop the display pair") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    assert(t.appendOnce("q", 0L, Seq((2L, "b")).toDF("id", "v")).isDefined)
    val streamHead = t.currentSnapshot.get.id
    // every head-copying metadata commit derives from the streaming
    // head, carries the durable watermark forward, and must NOT report
    // itself as a streaming microbatch in $snapshots
    def check(op: String): Unit = {
      val s = t.currentSnapshot.get
      assert(s.operation == op)
      assert(!s.summary.contains(SnapshotTable.SummaryQueryId),
        s"$op snapshot must not claim the source's streaming.query-id")
      assert(!s.summary.contains(SnapshotTable.SummaryBatchId),
        s"$op snapshot must not claim the source's streaming.batch-id")
      assert(t.lastCommittedBatch("q").contains(0L),
        s"$op must carry the durable watermark forward")
    }
    t.addColumn(spark, "extra", "STRING"); check("schema")
    t.deleteWhere(Seq(2L).toDF("id"), Seq("id")); check("delete")
    t.rollback(streamHead); check("rollback")
    // the streaming snapshot itself still shows its own display pair
    val orig = t.snapshots.find(_.id == streamHead).get
    assert(orig.summary.get(SnapshotTable.SummaryQueryId).contains("q"))
  }

  test("the exactly-once watermark survives compaction and full history expiry") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    assert(t.appendOnce("q", 0L, Seq((2L, "b")).toDF("id", "v")).isDefined)
    assert(t.appendOnce("q", 1L, Seq((3L, "c")).toDF("id", "v")).isDefined)
    // maintenance collapses history: compact to one dir, expire all but head
    t.compact(spark)
    val expired = t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    assert(expired.nonEmpty && t.snapshots.size == 1,
      "fixture must actually collapse history to the compacted head")
    // the compacted head carried the per-query watermark union forward
    assert(t.lastCommittedBatch("q").contains(1L),
      "maintenance must never regress the exactly-once watermark")
    assert(t.appendOnce("q", 1L, Seq((3L, "c")).toDF("id", "v")).isEmpty,
      "a re-delivered batch after maintenance must still be skipped")
    assert(t.appendOnce("q", 2L, Seq((4L, "d")).toDF("id", "v")).isDefined)
    assert(t.read(spark).count() == 4)
    // intermediate plain appends also carry the union forward
    t.append(Seq((5L, "e")).toDF("id", "v"))
    assert(t.currentSnapshot.get.summary
      .get(s"${SnapshotTable.SummaryBatchPrefix}q").contains("2"))
  }

  test("an empty batch commits metadata-only: no file-less dir, reads stay healthy") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val base = t.currentSnapshot.get
    // empty append (streaming triggers deliver these routinely) — the
    // snapshot advances but references NO new dir; a file-less dir would
    // fail parquet schema inference on every later read
    val snap = t.append(Seq.empty[(Long, String)].toDF("id", "v"),
      partitionCols = Seq("v"))
    assert(snap.dataDirs == base.dataDirs, "empty append must not add a dir")
    assert(snap.rowCount == base.rowCount)
    assert(t.read(spark).count() == 2)
    // the empty write's scratch dir is cleaned up
    val dirs = new java.io.File(t.root).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("snap-")) == 1, s"expected 1 dir, got ${dirs.toSeq}")
    // an empty appendOnce still advances the exactly-once watermark
    assert(t.appendOnce("q", 5L, Seq.empty[(Long, String)].toDF("id", "v")).isDefined)
    assert(t.lastCommittedBatch("q").contains(5L))
    assert(t.appendOnce("q", 5L, Seq((9L, "z")).toDF("id", "v")).isEmpty)
  }

  test("declared decimal(p,s) survives conform -> write -> read bit-exactly") {
    import graft.source.SourceReader
    import graft.template.{ColumnDef, TableTemplate}
    import org.apache.spark.sql.types.DecimalType
    val tpl = TableTemplate(
      name = "ledger", namespace = "ns",
      columns = Seq(
        ColumnDef("id", "long", required = true),
        ColumnDef("amount", "decimal(9,2)", required = true)),
      partitionSpec = Nil)
    val t = SnapshotTable(
      Files.createTempDirectory("graft_dec").toString, tpl.namespace, tpl.name)
    // doubles that are exact 2-dp values conform without ambiguity; the
    // write must store true decimal physical type, not double or string
    val src = Seq((1L, 10.01), (2L, -0.10), (3L, 1234567.89)).toDF("id", "amount")
    TableSink.overwrite(SourceReader.conform(src, tpl.schema), tpl, t)
    val back = t.read(spark)
    assert(back.schema("amount").dataType == DecimalType(9, 2))
    val vals = back.select($"amount".cast("string"))
      .as[String].collect().sorted.toSeq
    // scale-2 canonical rendering proves exact decimal storage ("-0.10",
    // not "-0.1" or a float approximation)
    assert(vals == Seq("-0.10", "10.01", "1234567.89"))
  }
}
