package perfbench

import scala.util.Random

import graft.governance.AccessControl
import graft.patterns.FeatureStore
import graft.quality.{CheckLoader, Quality}
import graft.sink.SnapshotTable
import graft.template.TableTemplate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read operations of `ingest_query`. Each read is built from a copy
  * of the model taken just before it runs; `expect` answers the same
  * question from those rows on the driver, without the catalog, the sink
  * or the planner rules, so every engine answer is checked.
  */
object IngestReads {
  import IngestQuery.{EventsTable, ReaderFilter, sqlTs}

  final class Read(
      val kind: String, val files: Long, val run: () => Seq[Seq[Any]], val expect: () => Seq[Seq[Any]])

  private val HourMicros = 3600000000L

  def apply(
      kind: String, ctx: Ctx, r: Random, model: IngestModel, table: SnapshotTable,
      template: TableTemplate): Read = {
    val spark = ctx.spark
    val t = ctx.tracer
    val evs = model.events.values.toVector
    val snaps = model.snapshots.toVector
    val eventFiles = table.dataFileCount
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    def sql(q: String): Seq[Seq[Any]] = t.span("catalog.query")(rows(spark.sql(q)))
    def pick() = evs(r.nextInt(evs.size))
    def counts[K](xs: Seq[Ev])(k: Ev => K): Map[K, Long] = xs.groupBy(k).map { case (a, b) => a -> b.size.toLong }

    kind match {
      case "scan_window" =>
        val lo = pick().tsMicros / HourMicros * HourMicros
        val hi = lo + HourMicros
        new Read(kind, eventFiles,
          () => sql(s"""SELECT event_type, count(*) AS n FROM $EventsTable
                       |WHERE event_timestamp >= TIMESTAMP '${sqlTs(lo)}'
                       |  AND event_timestamp < TIMESTAMP '${sqlTs(hi)}'
                       |GROUP BY event_type""".stripMargin),
          () => counts(evs.filter(e => e.tsMicros >= lo && e.tsMicros < hi))(_.eventType)
            .toSeq.map { case (k, n) => Seq(k, n) })

      case "agg_q1" =>
        // the cut falls anywhere in the data, so the share of files the
        // scan can skip varies from most to none
        val cut = pick().tsMicros
        new Read(kind, eventFiles,
          () => sql(s"""SELECT event_type, user_agent, count(*) AS n, count(DISTINCT session_id) AS s,
                       |  min(unix_micros(event_timestamp)) AS lo, max(unix_micros(event_timestamp)) AS hi
                       |FROM $EventsTable WHERE event_timestamp <= TIMESTAMP '${sqlTs(cut)}'
                       |GROUP BY event_type, user_agent""".stripMargin),
          () => evs.filter(_.tsMicros <= cut).groupBy(e => (e.eventType, e.agent)).toSeq.map {
            case ((ty, ag), es) => Seq(ty, ag, es.size.toLong, es.map(_.session).distinct.size.toLong,
              es.map(_.tsMicros).min, es.map(_.tsMicros).max) })

      case "time_travel" =>
        val past = snaps.init
        val (vid, (vn, _, _)) = past(r.nextInt(past.size))
        val i = r.nextInt(snaps.size - 1)
        val (_, (tn, _, a)) = snaps(i)
        val b = snaps(i + 1)._2._3
        val at = java.time.Instant.ofEpochMilli(a + (b - a) / 2)
        val atSql = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC).format(at)
        new Read(kind, eventFiles,
          () => sql(s"SELECT 'version' AS k, count(*) AS n FROM $EventsTable VERSION AS OF $vid") ++
            sql(s"SELECT 'timestamp' AS k, count(*) AS n FROM $EventsTable TIMESTAMP AS OF '$atSql'"),
          () => Seq(Seq("version", vn), Seq("timestamp", tn)))

      case "metadata" =>
        val headFiles = table.currentSnapshot.toSeq.flatMap(_.dataDirs)
          .map(d => IngestQuery.dataFiles(d).toLong).sum
        new Read(kind, 0L,
          () => sql(s"SELECT 'snapshots' AS k, count(*) AS n FROM $EventsTable.snapshots") ++
            sql(s"SELECT 'files' AS k, count(*) AS n FROM $EventsTable.files"),
          () => Seq(Seq("snapshots", snaps.size.toLong), Seq("files", headFiles)))

      case "governed_read" =>
        val maxMicros = evs.map(_.tsMicros).max
        val asOfMs = Math.floorDiv(maxMicros, 1000L) + 86400000L
        new Read(kind, 2 * eventFiles,
          () => {
            val masked = t.span("governance.masked_read") {
              val df = AccessControl.rowFilter(
                AccessControl.maskPii(table.read(spark), template, AccessControl.Reader),
                table.properties, table.fullName, AccessControl.Reader)
              require(!df.columns.contains("user_id") && !df.columns.contains("ip_address"),
                "a reader must not see restricted columns")
              rows(df.groupBy("event_type").agg(count(lit(1)).as("n")))
            }
            val quality = t.span("quality.evaluate") {
              val suite = CheckLoader.load(
                ctx.repoRoot.resolve("quality/events_checks.yaml").toString, asOfMs)
              Quality.evaluate(
                table.read(spark).selectExpr("event_id", "event_timestamp AS ts", "user_id", "event_type"),
                suite.checks, suite.table).map(c => Seq(c.check, c.column, c.value, c.passed))
            }
            masked ++ quality
          },
          () => {
            require(ReaderFilter == "event_type <> 'logout'")
            val n = evs.size.toLong
            val fresh = asOfMs - Math.floorDiv(maxMicros, 1000L)
            val dupTypes = n - evs.map(_.eventType).distinct.size
            counts(evs.filter(_.eventType != "logout"))(_.eventType).toSeq.map { case (k, c) => Seq(k, c) } ++
              Seq(Seq("row_count", "*", n, n > 0), Seq("missing_count", "event_id", 0L, true),
                Seq("missing_count", "ts", 0L, true), Seq("missing_count", "user_id", 0L, true),
                Seq("duplicate_count", "event_id", n - evs.map(_.id).distinct.size, true),
                Seq("freshness", "ts", fresh, fresh >= 0 && fresh < 7L * 86400000L),
                Seq("duplicate_count", "event_type", dupTypes, dupTypes == 0))
          })

      case "asof_join" =>
        val digit = r.nextInt(10).toString
        new Read(kind, 2 * eventFiles,
          () => t.span("patterns.asof_join") {
            val ev = table.read(spark)
            val labels = ev.filter(col("event_id").endsWith(digit))
              .select(col("event_id"), col("user_id"), col("event_timestamp").as("label_ts"))
            val feats = ev.groupBy(col("user_id"), date_trunc("hour", col("event_timestamp")).as("h"))
              .agg(count(lit(1)).as("f_n"))
              .select(col("user_id"), (col("h") + expr("INTERVAL 1 HOUR")).as("feature_ts"), col("f_n"))
            rows(FeatureStore.asofJoin(labels, feats, "user_id", "label_ts", "feature_ts")
              .agg(count(lit(1)).as("n"), count(col("feature_ts")).as("hit"), sum(col("f_n")).as("f")))
          },
          () => {
            // feature rows (user, hour h) become visible at h + 1 hour
            val feats = counts(evs)(e => (e.user, e.tsMicros / HourMicros))
              .groupBy(_._1._1).map { case (u, m) =>
                u -> m.toSeq.map { case ((_, h), c) => ((h + 1) * HourMicros, c) }.sortBy(_._1) }
            val labels = evs.filter(_.id.endsWith(digit))
            val hits = labels.flatMap(l => feats.getOrElse(l.user, Nil).filter(_._1 <= l.tsMicros).lastOption)
            Seq(Seq(labels.size.toLong, hits.size.toLong, if (hits.isEmpty) null else hits.map(_._2).sum))
          })
    }
  }
}
