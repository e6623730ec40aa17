package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.sink.{Snapshot, SnapshotTable, TableSink}
import graft.source.SourceReader
import graft.streaming.Streaming
import graft.template.{SourceDef, TableTemplate, TemplateLoader}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** One event of the `event_stream` template, timestamps in epoch micros. */
final case class Ev(
    id: String, eventType: String, tsMicros: Long, user: String, session: String,
    ip: String, agent: String, payload: String, ingestedMicros: Long) {
  def key: String = s"$id|$user|$eventType|$tsMicros|$payload"
}

/** One change to the keyed profile table fed through the upsert stream. */
final case class ProfileChange(user: String, plan: String, score: Long, version: Long) {
  def key: String = s"$user|$plan|$score|$version"
}

/** Seeded inputs of `ingest_query`. Each batch is derived from the seed
  * and its own index alone, so the same seed always yields the same
  * batches whatever the timing of the loop.
  */
final class IngestGen(seed: Long) {
  val BaseMicros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val BatchSpanMicros = 300L * 1000000L // each append covers five minutes
  val Users = 5000
  val InitialProfiles = 2000
  val Types = Seq("page_view", "page_view", "page_view", "click", "click",
    "add_to_cart", "purchase", "signup", "logout")
  val Agents = Seq("Mozilla/5.0 (X11)", "Mozilla/5.0 (Mac)", "curl/8.4", "okhttp/4.12")
  /** Share of upsert keys that already exist in the profile table. */
  val ExistingKeyShare = 0.6
  /** Rows per append, drawn uniformly from this range. */
  val BatchRows = (100, 300)
  /** Profile changes per upsert micro-batch, before repeated keys. */
  val ChangeRows = (20, 60)

  private def rng(stream: Long, i: Long) = Gen.rng(seed, stream, i)

  /** Heavy-tailed user choice: a few users own most events. */
  private def user(r: Random): Int = math.min(Users - 1, (Users * math.pow(r.nextDouble(), 3)).toInt)

  def batch(i: Int): Seq[Ev] = {
    val r = rng(1, i)
    val n = BatchRows._1 + r.nextInt(BatchRows._2 - BatchRows._1 + 1)
    (0 until n).map { j =>
      val u = user(r)
      val ts = BaseMicros + i * BatchSpanMicros + (r.nextDouble() * BatchSpanMicros).toLong
      Ev(f"e$i%06d-$j%04d", Types(r.nextInt(Types.size)), ts, s"u$u",
        s"s${u * 7 + i / 12}", s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
        Agents(r.nextInt(Agents.size)), s"""{"k": ${r.nextInt(1000)}, "ref": "r${r.nextInt(50)}"}""",
        ts + 1000000L + r.nextInt(5000000))
    }
  }

  def initialProfiles: Seq[ProfileChange] = {
    val r = rng(2, 0)
    (0 until InitialProfiles).map(u => ProfileChange(s"u$u", Seq("free", "pro", "team")(r.nextInt(3)),
      r.nextInt(10000).toLong, 0L))
  }

  /** One micro-batch of profile changes; a tenth of the keys repeat with
    * a higher version, so the stream's last-change-per-key rule matters.
    */
  def changes(i: Int, existing: IndexedSeq[String], nextNew: () => String): Seq[ProfileChange] = {
    val r = rng(3, i)
    val n = ChangeRows._1 + r.nextInt(ChangeRows._2 - ChangeRows._1 + 1)
    val keys = (0 until n).map { _ =>
      if (r.nextDouble() < ExistingKeyShare) existing(r.nextInt(existing.size)) else nextNew()
    }
    (keys ++ keys.take(n / 10)).zipWithIndex.map { case (k, j) =>
      ProfileChange(k, Seq("free", "pro", "team", "enterprise")(r.nextInt(4)),
        r.nextInt(10000).toLong, i.toLong * 1000 + j + 1)
    }
  }

  def opRng(i: Int): Random = rng(4, i)
}

/** The independent model: what the tables must hold after the
  * acknowledged commits, kept as rows plus, per live snapshot, the row
  * count, an order-independent checksum and the commit time.
  */
final class IngestModel {
  val events = mutable.HashMap.empty[String, Ev]
  var sum = 0L
  val snapshots = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
  val profiles = mutable.HashMap.empty[String, ProfileChange]

  def put(e: Ev): Unit = {
    events.get(e.id).foreach(o => sum -= Checks.fnv(o.key))
    events(e.id) = e
    sum += Checks.fnv(e.key)
  }
  def remove(id: String): Unit = events.remove(id).foreach(o => sum -= Checks.fnv(o.key))
  def ack(s: Snapshot): Unit = snapshots(s.id) = (events.size.toLong, sum, s.committedAtMs)
  def upsert(batch: Seq[ProfileChange]): Unit =
    batch.groupBy(_.user).values.map(_.maxBy(_.version)).foreach(c => profiles(c.user) = c)
}

/** `ingest_query`: the write path and the read path of one lakehouse. A
  * single client runs complete cycles of a fixed operation mix on two
  * catalog tables: governed appends of small JSON event batches into
  * `lakehouse.event_stream` (the majority), merge-on-read upserts of a
  * keyed profile table through a running stream, SQL DML through the
  * catalog, compaction plus snapshot expiry, and analytic reads (pruned
  * and partly pruned scans, a TPC-H Q1-style aggregation, time travel,
  * metadata tables, a masked reader read, a quality suite and an as-of
  * feature join). Every read is checked against the
  * model's rows at the moment it ran.
  */
object IngestQuery extends Workload {
  val name = "ingest_query"
  val HistorySnapshots = 4
  /** One set-up per run: a second repetition costs more run time than the
    * benchmark's budget of 48 runs in 3,420 s leaves.
    */
  val SetupReps = 1
  /** Live snapshots kept by each expiry. */
  val RetainSnapshots = 200
  val EventsTable = "graft.lakehouse.event_stream"
  /** Reader row policy set on the events table. */
  val ReaderFilter = "event_type <> 'logout'"

  /** The fixed operation cycle, run whole so every run measures the same
    * mix: appends interleaved with every read kind, one upsert batch, three
    * DML statements, and maintenance at the end.
    */
  val Cycle: Seq[String] = Seq(
    "append", "scan_window", "append", "upsert", "append", "agg_q1", "dml_delete_in", "time_travel",
    "append", "dml_update", "metadata", "governed_read", "dml_merge", "append", "asof_join",
    "maintenance")

  val ChangeSchema: StructType = StructType(Seq(
    StructField("user_id", StringType), StructField("plan", StringType),
    StructField("score", LongType), StructField("version", LongType)))

  final class State(
      val dir: Path, val table: SnapshotTable, val profile: SnapshotTable,
      val stream: StreamingQuery, val model: IngestModel, var nextBatch: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new IngestGen(ctx.seed)
    val template = TemplateLoader.get(ctx.repoRoot.resolve("templates").toString, "event_stream")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    val t = ctx.tracer

    ctx.calibrate()
    val (st, setupS) = ctx.setupReps(SetupReps) { dir =>
      val wh = dir.resolve("wh").toString
      Files.createDirectories(dir.resolve("in"))
      val changesDir = Files.createDirectories(dir.resolve("changes"))
      val table = SnapshotTable(wh, template.namespace, template.name)
      val profile = SnapshotTable(wh, "lakehouse", "user_profile")
      val model = new IngestModel
      profile.overwrite(spark.createDataFrame(spark.sparkContext.parallelize(
        gen.initialProfiles.map(c => Row(c.user, c.plan, c.score, c.version)), 1), ChangeSchema))
      model.upsert(gen.initialProfiles)
      // earlier stream deliveries: micro appends through the same sink
      (0 until HistorySnapshots).foreach { i =>
        val rows = gen.batch(i)
        model.ack { rows.foreach(model.put); TableSink.append(evFrame(spark, rows), template, table, micro = true) }
      }
      // compacted like a table that has been maintained: one layout, long history
      model.ack(table.compact(spark))
      table.setProperties(Map(
        graft.governance.AccessControl.rowFilterKey(graft.governance.AccessControl.Reader) -> ReaderFilter))
      val stream = Streaming.startMorUpsert(
        spark.readStream.schema(ChangeSchema).json(changesDir.toString),
        profile, keys = Seq("user_id"), orderCol = "version",
        checkpoint = dir.resolve("checkpoint").toString, queryId = "profile_upsert")
      new State(dir, table, profile, stream, model, HistorySnapshots)
    } { old => old.stream.stop() }
    spark.conf.set("spark.sql.catalog.graft.warehouse", st.dir.resolve("wh").toString)
    val model = st.model
    var nextUser = gen.InitialProfiles

    val appendMs = mutable.ArrayBuffer.empty[(Double, Int)] // (ms, live snapshots)
    val readMs = mutable.ArrayBuffer.empty[Double]
    val upsertMs = mutable.ArrayBuffer.empty[Double]
    val dmlMs = mutable.ArrayBuffer.empty[Double]
    val maintMs = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[(Long, IngestReads.Read, Seq[Seq[Any]])]
    var maintRewrittenBytes = 0L
    var upserts = 0
    var filesRewritten = 0L
    var opId = 0
    val w0 = Clock.nowMs
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong

    def commitDiff(before: Option[Snapshot]): Unit = {
      val after = st.table.currentSnapshot
      if (after.map(_.id) != before.map(_.id)) {
        after.foreach(model.ack)
        if (t.enabled) {
          val old = before.map(_.dataDirs.toSet).getOrElse(Set.empty)
          filesRewritten += after.toSeq.flatMap(_.dataDirs).filterNot(old).map(dataFiles).sum
        }
      }
    }

    do {
      Cycle.foreach { kind =>
        ctx.calibrate()
        opId += 1
        val r = gen.opRng(opId)
        kind match {
          case "append" =>
            val rows = gen.batch(st.nextBatch)
            val f = st.dir.resolve("in").resolve(f"batch-${st.nextBatch}%06d.json")
            st.nextBatch += 1
            writeJsonLines(f, rows.map(evJson))
            var snap: Snapshot = null
            val live = model.snapshots.size
            ctx.timedOp(kind, opId) {
              val df = t.span("source.read") {
                SourceReader.read(spark, SourceDef("local://" + f.toString, "json"), template.schema)
              }
              snap = t.span("sink.append")(TableSink.append(df, template, st.table))
            }.foreach { ms =>
              rows.foreach(model.put)
              model.ack(snap)
              appendMs += ((ms, live))
            }
          case "upsert" =>
            val existing = model.profiles.keys.toIndexedSeq.sorted
            val batch = gen.changes(opId, existing, () => { nextUser += 1; s"u$nextUser" })
            val f = st.dir.resolve("changes").resolve(f"changes-$opId%06d.json")
            ctx.timedOp(kind, opId) {
              writeJsonLines(f, batch.map(changeJson))
              t.span("streaming.process")(st.stream.processAllAvailable())
            }.foreach { ms => model.upsert(batch); upserts += 1; upsertMs += ms }
          case dml if dml.startsWith("dml_") =>
            val before = st.table.currentSnapshot
            val (sql, apply) = dmlStatement(spark, dml, r, model, opId)
            ctx.timedOp(kind, opId) { t.span("catalog.dml")(spark.sql(sql)) }.foreach { ms =>
              apply()
              commitDiff(before)
              dmlMs += ms
            }
          case "maintenance" =>
            val bytesBefore = st.table.dataBytes
            ctx.timedOp(kind, opId) {
              model.ack(t.span("sink.compact")(st.table.compact(spark)))
              t.span("sink.expire") {
                st.table.expireSnapshots(System.currentTimeMillis(), RetainSnapshots)
              }.foreach(model.snapshots.remove)
            }.foreach { ms => maintMs += ms; maintRewrittenBytes += bytesBefore }
          case read =>
            val rd = IngestReads(read, ctx, r, model, st.table, template)
            var rows: Seq[Seq[Any]] = Nil
            ctx.timedOp(kind, opId) { rows = rd.run() }.foreach { ms =>
              reads += ((opId.toLong, rd, rows))
              readMs += ms
            }
        }
      }
    } while (System.nanoTime() < deadline)
    val w1 = Clock.nowMs
    val cpuS = ctx.opCpuNs / 1e9
    ctx.log(f"timed phase: $opId ops, ${ctx.opMs / 1e3}%.1f s inside them")
    t.drain(spark)
    st.stream.stop()

    // ---- correctness -----------------------------------------------------
    reads.foreach { case (id, rd, got) =>
      val expect = rd.expect()
      ctx.check(s"read.${rd.kind}#$id", Checks.sameRows(got, expect),
        s"engine ${got.take(4)} (${got.size} rows) vs model ${expect.take(4)} (${expect.size} rows)")
    }
    val snaps = st.table.snapshots
    val liveIds = snaps.map(_.id)
    val mismatch = Checks.snapshotMismatch(liveIds, model.snapshots.keySet.toSet)
    ctx.check("write.one_snapshot_per_commit", mismatch.isEmpty, mismatch.getOrElse(""))
    val head = st.table.currentSnapshot.map(_.id).getOrElse(-1L)
    val probe = Gen.rng(ctx.seed, 5, 0)
    val pastIds = model.snapshots.keys.toIndexedSeq.filter(liveIds.toSet)
    Seq(head, pastIds(probe.nextInt(pastIds.size))).distinct.foreach { id =>
      val (n, sum) = Checks.tableSummary(spark.sql(
        s"""SELECT event_id, user_id, event_type, unix_micros(event_timestamp), payload
           |FROM $EventsTable VERSION AS OF $id""".stripMargin))
      val (en, esum, _) = model.snapshots.getOrElse(id, (-1L, 0L, 0L))
      ctx.check(s"write.events@$id", n == en && sum == esum,
        s"table has $n rows checksum $sum, model $en rows checksum $esum")
    }
    val profSnaps = st.profile.snapshots.size
    ctx.check("write.profile_one_snapshot_per_batch", profSnaps == 1 + upserts,
      s"$profSnaps snapshots for the set-up commit and $upserts batches")
    val (pn, psum) = Checks.tableSummary(st.profile.read(spark)
      .selectExpr("user_id", "plan", "CAST(score AS STRING)", "CAST(version AS STRING)"))
    val msum = model.profiles.values.map(c => Checks.fnv(c.key)).sum
    ctx.check("write.profile_head", pn == model.profiles.size && psum == msum,
      s"table has $pn rows checksum $psum, model ${model.profiles.size} rows checksum $msum")
    ctx.log("checks done")

    // ---- metrics ---------------------------------------------------------
    val meta = Main.metaBytes(st.table.root).toDouble
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_ms_p50" -> (Stats.median(appendMs.map(_._1).toSeq), "ms"),
      "read_ms_mean" -> (readMs.sum / readMs.size, "ms"),
      "ops_per_s" -> (opId / (ctx.opMs / 1e3), "1/s"),
      "cpu_ms_per_op" -> (cpuS * 1000 / opId, "ms"),
      "peak_rss_mb" -> (Main.peakRssMb, "MB"),
      "meta_bytes_per_commit" -> (meta / snaps.size, "B"))
    val perLayer =
      if (!t.enabled) Map.empty[String, (Double, String)]
      else Layers.ingestQuery(ctx, appendMs.toSeq, readMs.toSeq, upsertMs.toSeq, dmlMs.toSeq,
        maintMs.toSeq, maintRewrittenBytes, filesRewritten, meta, st.table,
        reads.map { case (id, rd, rows) => (id, rd.files, rows.size.toLong) }.toSeq, w0, w1, cpuS)
    Outcome(e2e, perLayer)
  }

  /** One seeded DML statement over the events table and the change it
    * makes to the model. Statements aim at the newest batch, as late
    * corrections and erasures do, so each touches a few directories.
    */
  private def dmlStatement(
      spark: SparkSession, kind: String, r: Random, model: IngestModel, opId: Int): (String, () => Unit) = {
    import spark.implicits._
    val evs = model.events.values.toIndexedSeq.sortBy(_.id)
    val newest = evs.map(_.tsMicros).max
    val recent = evs.filter(_.tsMicros >= newest - 300000000L)
    def pick() = recent(r.nextInt(recent.size))
    kind match {
      case "dml_delete_in" =>
        val users = Seq.fill(3)(pick().user).distinct
        users.toDF("user_id").createOrReplaceTempView(s"erase_$opId")
        (s"DELETE FROM $EventsTable WHERE user_id IN (SELECT user_id FROM erase_$opId)", () =>
          evs.filter(e => users.contains(e.user)).foreach(e => model.remove(e.id)))
      case "dml_update" =>
        val e = pick()
        val lo = e.tsMicros - e.tsMicros % 300000000L
        val hi = lo + 300000000L
        (s"""UPDATE $EventsTable SET payload = concat(payload, '#u$opId')
            |WHERE event_type = '${e.eventType}'
            |  AND event_timestamp >= TIMESTAMP '${sqlTs(lo)}' AND event_timestamp < TIMESTAMP '${sqlTs(hi)}'""".stripMargin,
          () => evs.filter(x => x.eventType == e.eventType && x.tsMicros >= lo && x.tsMicros < hi)
            .foreach(x => model.put(x.copy(payload = x.payload + s"#u$opId"))))
      case "dml_merge" =>
        // WHEN MATCHED only: an INSERT clause cannot supply the table's
        // derived partition columns
        val hits = Seq.fill(10)(pick()).distinctBy(_.id).map(e => e.copy(payload = s"""{"fixed": $opId}"""))
        hits.map(e => (e.id, e.payload)).toDF("event_id", "payload").createOrReplaceTempView(s"fix_$opId")
        (s"""MERGE INTO $EventsTable t USING fix_$opId s ON t.event_id = s.event_id
            |WHEN MATCHED THEN UPDATE SET payload = s.payload""".stripMargin,
          () => hits.foreach(h => model.put(model.events(h.id).copy(payload = h.payload))))
    }
  }

  /** Data files under a data directory, partition subdirectories included. */
  def dataFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet") || f.getName.endsWith(".orc")) 1 else 0
    walk(new java.io.File(dir))
  }

  private val microFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** Epoch micros as a UTC SQL timestamp literal. */
  def sqlTs(m: Long): String = microFmt.format(java.time.Instant.ofEpochSecond(
    Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L))

  private def evFrame(spark: SparkSession, rows: Seq[Ev]) = {
    import spark.implicits._
    rows.map(e => (e.id, e.eventType, sqlTs(e.tsMicros), e.user, e.session, e.ip, e.agent,
        e.payload, sqlTs(e.ingestedMicros)))
      .toDF("event_id", "event_type", "event_timestamp", "user_id", "session_id",
        "ip_address", "user_agent", "payload", "ingested_at")
      .selectExpr("event_id", "event_type", "CAST(event_timestamp AS TIMESTAMP) AS event_timestamp",
        "user_id", "session_id", "ip_address", "user_agent", "payload",
        "CAST(ingested_at AS TIMESTAMP) AS ingested_at")
  }

  private def evJson(e: Ev): String = Json.obj(
    "event_id" -> e.id, "event_type" -> e.eventType, "event_timestamp" -> sqlTs(e.tsMicros),
    "user_id" -> e.user, "session_id" -> e.session, "ip_address" -> e.ip,
    "user_agent" -> e.agent, "payload" -> e.payload, "ingested_at" -> sqlTs(e.ingestedMicros)).s

  private def changeJson(c: ProfileChange): String = Json.obj(
    "user_id" -> c.user, "plan" -> c.plan, "score" -> c.score, "version" -> c.version).s

  /** Write a file so a streaming source never sees it half-written: hidden
    * name first, then an atomic rename.
    */
  def writeJsonLines(f: Path, lines: Seq[String]): Unit = {
    val tmp = f.resolveSibling("." + f.getFileName.toString + ".tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
