package graft

import java.io.File

import graft.drift.SchemaDrift
import graft.governance.{AccessControl, Alerting, Audit}
import graft.pipeline.Pipeline
import graft.quality.Quality
import graft.sink.{PublishConflictException, SnapshotTable, TableSink}
import graft.source.SourceReader
import graft.template.{ColumnDef, PartitionField, TableTemplate, TemplateLoader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Schema / metadata / governance operators (SURVEY.md §2.1 sinks, §2.9)
  * plus the snapshot-table write/time-travel surface, each expressed as a
  * driver-verifiable query. Where an operator is metadata-only (template
  * load, drift, role matrix, audit taxonomy), the query materializes its
  * result as rows and the oracle hardcodes the independently-derived
  * expectation — NOT derived from the code under test.
  *
  * Write-path queries (`sink_overwrite`, `time_travel_*`,
  * `pipeline_autogen`) exercise the real parquet snapshot commit machinery
  * end-to-end into a scratch warehouse, then read back; the oracle
  * recomputes the expected rows from the immutable source tables.
  */
object MetaQueries {

  import Queries.tbl

  val TemplatesDir = "/root/repo/templates"

  /** Per-JVM scratch roots: every process gets its own unique directory
    * tree (the `scanAvroFixtureDir` pattern), so two JVMs running the
    * same registry key concurrently — bench + verify, or a test suite
    * alongside a main — can never wipe-and-rebuild a dir the other is
    * reading. Within a JVM the per-key subdirs still wipe per
    * invocation (commits are real) and warm bases build exactly once.
    */
  private[graft] lazy val scratchRoot: String =
    perJvmRoot("graft_wh")
  private lazy val warmRoot: String =
    perJvmRoot("graft_wh_base")

  /** Unique-per-process temp root, recursively removed at JVM exit so
    * repeated bench/verify runs don't accumulate fixture trees in /tmp.
    */
  private def perJvmRoot(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(dir.toFile)))
    dir.toString
  }

  /** Scratch warehouse, wiped per query invocation (commits are real). */
  private[graft] def freshWarehouse(key: String): String = {
    val dir = new File(s"$scratchRoot/$key")
    deleteRecursively(dir)
    dir.mkdirs()
    dir.toString
  }

  /** The one recursive tree delete every scratch/warm path shares. */
  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Session cache of WARM stream-fixture bases: the immutable prelude
    * (seed commits, staged source files, collected CDC batches) builds
    * once per (key, sfDir); each invocation then works on a
    * metadata-only CLONE, so mutating commits land per-run while the
    * immutable data dirs stay referenced in place — the same pattern as
    * the persisted ANN indexes (SimilarityQueries.indexWarehouseOnce).
    * The bench then measures the streaming machinery under test, not
    * rebuilding the same seed table three times per median.
    */
  private val warmBases = scala.collection.mutable.Map.empty[String, String]

  /** Base warehouse built once per (key, sfDir); READ-ONLY thereafter. */
  private[graft] def warmBaseDir(key: String, sfDir: String)(build: String => Unit): String =
    warmBases.synchronized {
      warmBases.getOrElseUpdate(s"$key|$sfDir", {
        // the readable slug can collide across distinct sfDirs
        // (/data/sf1 vs /data.sf1); the exact-path hash cannot. The
        // root is per-JVM (warmRoot), so the first-use build can never
        // race a concurrent process reading the same base.
        val dir = new File(
          s"$warmRoot/${key}_${sfDir.replaceAll("[^A-Za-z0-9]+", "_")}" +
            f"_${sfDir.hashCode & 0x7fffffff}%08x")
        // wipe first: a PRIOR build of this key that threw mid-way left
        // debris here (getOrElseUpdate caches nothing on exception), and
        // rebuilding on top would corrupt the fixture for the rest of
        // the JVM (path-exists write failures, doubled commits). The
        // root is per-JVM, so the wipe can never race another process.
        deleteRecursively(dir)
        dir.mkdirs()
        build(dir.toString)
        dir.toString
      })
    }

  /** Warm base + per-invocation metadata clone: returns a fresh
    * warehouse whose tables start at the base's committed state.
    */
  private[graft] def warmCloneWarehouse(key: String, sfDir: String)(
      build: String => Unit): String = {
    val base = warmBaseDir(key, sfDir)(build)
    val wh = freshWarehouse(key)
    cloneWarehouseMetadata(base, wh)
    wh
  }

  /** Metadata-only warehouse clone: each table dir's ROOT-LEVEL files
    * (snapshot log, properties, refs, manifests, partition spec) copy;
    * data dirs are absolute paths and stay referenced in place under
    * the source, so nothing row-sized moves.
    */
  private[graft] def cloneWarehouseMetadata(src: String, dst: String): Unit =
    Option(new File(src).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { tableDir =>
        val out = java.nio.file.Paths.get(dst, tableDir.getName)
        java.nio.file.Files.createDirectories(out)
        Option(tableDir.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).foreach { f =>
            java.nio.file.Files.copy(f.toPath, out.resolve(f.getName),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          }
      }

  /** Once-per-(key, sfDir) memo for driver-local fixture data (e.g.
    * collected MemoryStream batches).
    */
  private val memoCache = scala.collection.mutable.Map.empty[String, Any]
  private[graft] def memoFixture[T](key: String, sfDir: String)(f: => T): T =
    memoCache.synchronized {
      memoCache.getOrElseUpdate(s"$key|$sfDir", f)
    }.asInstanceOf[T]

  private val EventsCut = "2024-01-30 00:00:00"
  private val EventsMidCut = "2024-01-25 00:00:00"

  def defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // §2.9 template model
    // ------------------------------------------------------------------
    "template_load" -> QueryDef(
      (s, _) => {
        import s.implicits._
        TemplateLoader.load(TemplatesDir).values.toSeq
          .map(t => (t.name, t.namespace, t.columns.size,
            t.requiredColumns.size, t.restrictedColumns.size,
            t.partitionSpec.map(p => p.transform).mkString(","),
            t.source.isDefined))
          .sortBy(_._1)
          .toDF("name", "namespace", "n_columns", "n_required",
            "n_restricted", "partition_transforms", "has_source")
      },
      Some("""SELECT * FROM (VALUES
             |  ('event_stream', 'lakehouse', 9, 5, 2, 'day,hour', false),
             |  ('events', 'testdata', 6, 4, 1, 'day', false),
             |  ('events_ingest', 'testdata', 6, 4, 1, 'day', true),
             |  ('feature_table', 'lakehouse', 9, 4, 0, 'day', false),
             |  ('scd_type2', 'lakehouse', 11, 7, 1, 'month', false))
             |AS t(name, namespace, n_columns, n_required, n_restricted,
             |     partition_transforms, has_source)""".stripMargin),
      doc = "YAML template loading: declared schema/partition/governance facts"),

    "retention_config" -> QueryDef(
      (s, _) => {
        import s.implicits._
        TemplateLoader.load(TemplatesDir).values.toSeq
          .map(t => (t.fullName, t.retentionMs.map(_.toString).orNull, t.writeFormat))
          .sortBy(_._1)
          .toDF("table", "retention_ms", "write_format")
          .withColumn("retention_ms", col("retention_ms").cast("long"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('lakehouse.event_stream', CAST(604800000 AS BIGINT), 'parquet'),
             |  ('lakehouse.feature_table', 2592000000, 'parquet'),
             |  ('lakehouse.scd_type2', 2592000000, 'parquet'),
             |  ('testdata.events', 604800000, 'parquet'),
             |  ('testdata.events_ingest', CAST(NULL AS BIGINT), 'parquet'))
             |AS t("table", retention_ms, write_format)""".stripMargin),
      doc = "per-table snapshot retention / write format plumb-through"),

    "schema_diff" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val t = TemplateLoader.get(TemplatesDir, "events")
        // live schema drifted three ways: props dropped, extra_col added,
        // value retyped double -> string
        val live = StructType(
          t.schema.fields.filterNot(_.name == "props").map {
            case f if f.name == "value" => StructField("value", StringType)
            case f => f
          } :+ StructField("extra_col", IntegerType))
        SchemaDrift.check(t, live).issues
          .map(i => (i.column, i.issue, i.expected, i.actual))
          .toDF("column", "issue", "expected", "actual")
      },
      Some("""SELECT * FROM (VALUES
             |  ('props', 'missing', 'string', ''),
             |  ('extra_col', 'extra', '', 'int'),
             |  ('value', 'type_mismatch', 'double', 'string'))
             |AS t("column", issue, expected, actual)""".stripMargin),
      doc = "template-vs-live schema drift: missing / extra / type mismatch"),

    "drift_sensor" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // warehouse with ONE created table whose live schema drifted
        // three ways (props dropped, value retyped, rogue added; written
        // through the raw snapshot API precisely because the governed
        // sink would refuse it) — the sensor must flag it, skip every
        // not-yet-created table, and advance its cursor; due() gates
        // re-evaluation at the reference's hourly cadence
        val wh = freshWarehouse("drift_sensor")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val live = tbl(s, dir, "events").drop("props")
          .withColumn("value", col("value").cast("string"))
          .withColumn("rogue", lit(1))
        SnapshotTable(wh, t.namespace, t.name).overwrite(live)
        val nowMs = CoreQueries.FreshnessAsOfMs
        val run = graft.drift.DriftSensor.evaluate(TemplatesDir, wh, s, nowMs, Map.empty)
        val rows =
          run.drift.flatMap(r => r.issues.map(i => ("drift", r.table, s"${i.issue}:${i.column}"))) ++
            run.skipped.map(("skipped", _, "")) ++
            Seq(
              ("cursor", "", run.cursor),
              ("due_no_cursor", "", graft.drift.DriftSensor.due(None, nowMs).toString),
              ("due_within_interval", "",
                graft.drift.DriftSensor.due(Some(run.cursor), nowMs + 60000L).toString),
              ("due_after_interval", "",
                graft.drift.DriftSensor.due(Some(run.cursor),
                  nowMs + graft.drift.DriftSensor.MinIntervalMs).toString))
        rows.toDF("case", "table", "detail")
      },
      Some("""SELECT * FROM (VALUES
             |  ('drift', 'testdata.events', 'missing:props'),
             |  ('drift', 'testdata.events', 'extra:rogue'),
             |  ('drift', 'testdata.events', 'type_mismatch:value'),
             |  ('skipped', 'lakehouse.event_stream', ''),
             |  ('skipped', 'lakehouse.feature_table', ''),
             |  ('skipped', 'lakehouse.scd_type2', ''),
             |  ('skipped', 'testdata.events_ingest', ''),
             |  ('cursor', '', '2024-02-01T00:00:00Z'),
             |  ('due_no_cursor', '', 'true'),
             |  ('due_within_interval', '', 'false'),
             |  ('due_after_interval', '', 'true'))
             |AS t("case", "table", detail)""".stripMargin),
      doc = "hourly drift sensor: per-table skip/flag loop, cursor advance, due() gating"),

    "audit_log" -> QueryDef(
      (s, _) => {
        import s.implicits._
        Audit.clear()
        Audit.log("table_read", "testdata.events", Map("snapshot_id" -> "1"))
        Audit.log("table_write", "testdata.events", Map("operation" -> "overwrite"))
        Audit.log("source_ingest", "testdata.events_ingest", Map("format" -> "csv"))
        Audit.log("pii_columns_dropped", "testdata.events", Map("columns" -> "user_id"))
        Audit.log("schema_drift", "testdata.events", Map("issues" -> "missing:props"))
        val recs = Audit.recorded.map { r =>
          (r.event, r.table, r.details.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
            r.timestamp.endsWith("Z") && r.toJson.startsWith("{\"event\":"))
        }
        Audit.clear()
        recs.toDF("event", "table", "details", "wellformed")
      },
      Some("""SELECT * FROM (VALUES
             |  ('table_read', 'testdata.events', 'snapshot_id=1', true),
             |  ('table_write', 'testdata.events', 'operation=overwrite', true),
             |  ('source_ingest', 'testdata.events_ingest', 'format=csv', true),
             |  ('pii_columns_dropped', 'testdata.events', 'columns=user_id', true),
             |  ('schema_drift', 'testdata.events', 'issues=missing:props', true))
             |AS t(event, "table", details, wellformed)""".stripMargin),
      doc = "five-event audit taxonomy, JSON records, UTC ISO timestamps"),

    "alert_dispatch" -> QueryDef(
      (s, _) => {
        import s.implicits._
        def fired(env: Map[String, String]): Seq[String] = {
          val ch = Alerting.alert("drift", "schema drift detected", env)
          if (ch.isEmpty) Seq("<none>") else ch
        }
        val sns = Map("ALERT_SNS_TOPIC_ARN" -> "arn:aws:sns:us-east-1:1:alerts")
        val slack = Map("ALERT_SLACK_WEBHOOK_URL" -> "https://hooks.slack.invalid/T0/B0")
        (fired(sns ++ slack).map(("both", _)) ++
          fired(sns).map(("sns_only", _)) ++
          fired(slack).map(("slack_only", _)) ++
          fired(Map.empty).map(("unconfigured", _)))
          .toDF("config", "channel")
      },
      Some("""SELECT * FROM (VALUES
             |  ('both', 'sns'), ('both', 'slack'),
             |  ('sns_only', 'sns'), ('slack_only', 'slack'),
             |  ('unconfigured', '<none>'))
             |AS t(config, channel)""".stripMargin),
      doc = "alert fan-out selection: SNS / Slack / warn-when-unconfigured"),

    "access_level_resolve" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TemplateLoader.get(TemplatesDir, "events")
        val df = tbl(s, dir, "events")
        Seq(AccessControl.Reader, AccessControl.Writer, AccessControl.Admin).map { lvl =>
          val masked = AccessControl.maskPii(df, t, lvl)
          (lvl.name, masked.columns.length, masked.columns.contains("user_id"))
        }.toDF("level", "visible_columns", "sees_restricted")
      },
      Some("""SELECT * FROM (VALUES
             |  ('reader', 5, false), ('writer', 6, true), ('admin', 6, true))
             |AS t(level, visible_columns, sees_restricted)""".stripMargin),
      doc = "role matrix: reader loses restricted columns, writer/admin see all"),

    "ddl_create_table" -> QueryDef(
      (s, _) => {
        import s.implicits._
        Seq("events", "scd_type2")
          .map(n => TemplateLoader.get(TemplatesDir, n))
          .map(t => (t.fullName, TableSink.createTableDdl(t).replaceAll("\\s+", " ")))
          .toDF("table", "ddl")
      },
      Some("""SELECT * FROM (VALUES
             |  ('testdata.events',
             |   'CREATE TABLE IF NOT EXISTS testdata.events ( event_id BIGINT NOT NULL, ts TIMESTAMP NOT NULL, user_id BIGINT NOT NULL, event_type STRING NOT NULL, value DOUBLE, props STRING ) USING iceberg PARTITIONED BY (days(ts)) TBLPROPERTIES (''history_expire_max_snapshot_age_ms''=''604800000'', ''write_format''=''parquet'')'),
             |  ('lakehouse.scd_type2',
             |   'CREATE TABLE IF NOT EXISTS lakehouse.scd_type2 ( surrogate_key BIGINT NOT NULL, natural_key STRING NOT NULL, name STRING NOT NULL, email STRING, category STRING, status STRING NOT NULL, effective_from TIMESTAMP NOT NULL, effective_to TIMESTAMP, is_current BOOLEAN NOT NULL, source_system STRING, updated_at TIMESTAMP NOT NULL ) USING iceberg PARTITIONED BY (months(effective_from)) TBLPROPERTIES (''history_expire_max_snapshot_age_ms''=''2592000000'', ''write_format''=''parquet'')'))
             |AS t("table", ddl)""".stripMargin),
      doc = "template -> Iceberg CREATE TABLE DDL with partition transforms"),

    // ------------------------------------------------------------------
    // §2.1 sinks + time travel (real commits into a scratch warehouse)
    // ------------------------------------------------------------------
    "sink_overwrite" -> QueryDef(
      (s, dir) => {
        val wh = freshWarehouse("sink_overwrite")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        val df = tbl(s, dir, "events").filter(col("event_id") % 5 === 0)
        TableSink.overwrite(df, t, table)
        // read back through the governed read path (admin: no masking)
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 5 = 0""".stripMargin),
      doc = "atomic full-refresh overwrite: write snapshot, swap pointer, read back"),

    "sink_write_format" -> QueryDef(
      (s, dir) => {
        // declared write_format dispatch (`_schema.json:100-103`): an
        // orc-format template writes ORC data files through the same
        // snapshot commit machinery, and the snapshot records its format
        // so reads dispatch without the template in hand
        val wh = freshWarehouse("sink_write_format")
        val t0 = TemplateLoader.get(TemplatesDir, "events")
        val t = t0.copy(properties = t0.properties + ("write_format" -> "orc"))
        val table = SnapshotTable(wh, t.namespace, t.name)
        TableSink.overwrite(tbl(s, dir, "events").filter(col("event_id") % 7 === 0), t, table)
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 7 = 0""".stripMargin),
      doc = "orc write-format dispatch: template-declared format, snapshot-recorded, read back"),

    "sink_write_avro" -> QueryDef(
      (s, dir) => {
        // the third template format (`_schema.json:100-103`): avro data
        // files written by the engine's avro-core-backed FileFormat
        // (this distribution ships avro-1.12.1 but NOT the spark-avro
        // module — previously an env-blocked remediation, now served).
        // Timestamps ride the timestamp-micros logical type, doubles/
        // longs/strings their primitive branches, nullables as
        // union(null, T): the oracle hash over the read-back proves the
        // container round-trip bit-exact against the parquet source.
        val wh = freshWarehouse("sink_write_avro")
        val t0 = TemplateLoader.get(TemplatesDir, "events")
        val t = t0.copy(properties = t0.properties + ("write_format" -> "avro"))
        val table = SnapshotTable(wh, t.namespace, t.name)
        TableSink.overwrite(tbl(s, dir, "events").filter(col("event_id") % 3 === 0), t, table)
        def hasAvro(f: java.io.File): Boolean =
          if (f.isDirectory) Option(f.listFiles()).exists(_.exists(hasAvro))
          else f.getName.endsWith(".avro")
        require(table.currentSnapshot.get.format == "avro" &&
          hasAvro(new java.io.File(table.currentSnapshot.get.dataDirs.head)),
          "the snapshot must record and materialize avro data files")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 3 = 0""".stripMargin),
      doc = "avro write-format dispatch through the avro-core FileFormat: " +
        "template-declared, snapshot-recorded, timestamp-micros logical type, " +
        "bit-exact read-back"),

    "decimal_roundtrip" -> QueryDef(
      (s, dir) => {
        // decimal(p,s) end to end through the DECLARED-schema path: the
        // reference documents decimal in `_schema.json:34` yet silently
        // string-demotes it (`utils/table_loader.py:68`); this engine maps
        // it to a true DecimalType (types/IcebergTypes). Conform source
        // doubles -> decimal(18,2), write a month-partitioned snapshot,
        // read back, aggregate in exact decimal arithmetic. Sums render as
        // canonical scale-2 strings so the hash compare proves bit-exact
        // decimal math, not a double approximation.
        val wh = freshWarehouse("decimal_roundtrip")
        val t = TableTemplate(
          name = "order_ledger", namespace = "lakehouse",
          columns = Seq(
            ColumnDef("o_orderkey", "long", required = true),
            ColumnDef("o_orderdate", "date", required = true),
            ColumnDef("o_orderpriority", "string"),
            ColumnDef("o_totalprice", "decimal(18,2)", required = true)),
          partitionSpec = Seq(PartitionField("o_orderdate", "month")))
        val table = SnapshotTable(wh, t.namespace, t.name)
        val src = tbl(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
        TableSink.overwrite(SourceReader.conform(src, t.schema), t, table)
        val back = table.read(s)
        // the on-disk parquet type must be the declared decimal — the proof
        // the mapping survives the physical write, not just the plan
        val priceType = back.schema("o_totalprice").dataType
        require(priceType == org.apache.spark.sql.types.DecimalType(18, 2),
          s"expected decimal(18,2) on disk, got $priceType")
        back.groupBy(col("o_orderpriority").as("priority"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice")).cast("string").as("total_price"),
            max(col("o_totalprice")).cast("string").as("max_price"))
      },
      Some("""SELECT o_orderpriority AS priority, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price,
             |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price
             |FROM orders GROUP BY 1""".stripMargin),
      doc = "decimal(18,2) end-to-end: declared-schema conform -> partitioned snapshot " +
        "write -> decimal read-back -> exact decimal aggregate (string-rendered for parity)"),

    "maintenance_compact" -> QueryDef(
      (s, dir) => {
        // small-file compaction (Iceberg rewrite_data_files bin-pack): 4
        // append commits fragment the table into 4 dirs x 4 files; compact
        // rewrites the current snapshot into ~target-size files as a
        // `replace` commit. Rows must be IDENTICAL after the rewrite (the
        // oracle checks the full row set), the file count must shrink, and
        // history must survive (pre-compaction snapshots stay readable).
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
        // the fragmented seed commits once per session; the compaction
        // rewrite — the operator under test — lands on a per-run clone
        // (a replace commit keeps every pre-compaction dir, so the base
        // is only read)
        val wh = warmCloneWarehouse("maintenance_compact", dir) { b =>
          val seed = SnapshotTable(b, "lakehouse", "events_compacted")
          (0 until 4).foreach { i =>
            seed.append(ev.filter(col("event_id") % 4 === i).repartition(4)): Unit
          }
        }
        val table = SnapshotTable(wh, "lakehouse", "events_compacted")
        val before = table.dataFileCount
        val snap = table.compact(s)
        require(snap.operation == "replace",
          s"compaction must commit a replace snapshot, got ${snap.operation}")
        val after = table.dataFileCount
        require(after < before, s"compaction must shrink the file count ($before -> $after)")
        require(table.snapshots.size == 5, "compaction must preserve history")
        require(table.readSnapshot(s, 2L).columns.contains("event_id"),
          "pre-compaction snapshots must stay time-travelable")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events"),
      doc = "small-file compaction: bin-pack rewrite as a replace snapshot — same rows, " +
        "fewer files, history preserved"),

    "sink_dynamic_overwrite" -> QueryDef(
      (s, dir) => {
        // dynamic partition overwrite (restatement): days 10-12 of the
        // events table are re-delivered with corrected values; the batch
        // replaces EXACTLY those day-partitions and costs O(batch) — the
        // base data is never rewritten, its replaced partitions are
        // masked and pruned at read planning. The oracle rebuilds the
        // expected post-restatement table from the source.
        val wh = freshWarehouse("sink_dynamic_overwrite")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        val events = tbl(s, dir, "events")
        TableSink.overwrite(events, t, table)
        val totalBefore = table.currentSnapshot.get.rowCount
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-13 00:00:00").cast("timestamp")
        val restated = events.filter(col("ts") >= lo && col("ts") < hi)
          .withColumn("value", col("value") * 2)
        val snap = TableSink.overwritePartitions(restated, t, table)
        require(snap.operation == "overwrite_partitions", snap.operation)
        // metadata stays consistent without a data pass: same days out,
        // same days in, so the recorded row count is unchanged
        require(snap.rowCount == totalBefore,
          s"restated row count ${snap.rowCount} != $totalBefore")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
             |FROM events
             |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
             |UNION ALL
             |SELECT event_id, ts, user_id, event_type, value, props
             |FROM events
             |WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'""".stripMargin),
      doc = "dynamic partition overwrite: replace exactly the batch's partitions via " +
        "metadata masks (O(batch) write, pruned reads, no rewrite of existing data)"),

    "sink_row_delete" -> QueryDef(
      (s, dir) => {
        // equality deletes (Iceberg v2 merge-on-read) as GDPR erasure:
        // every event of the requesting users disappears in O(|keys|)
        // write cost with zero data files rewritten; rows APPENDED after
        // the delete with the same user survive (re-registration after
        // erasure — dir-scoped deletes, Iceberg's sequence-number rule).
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        // seed commits once per session; the equality delete — the
        // operator under test — lands on a per-run metadata clone
        val wh = warmCloneWarehouse("sink_row_delete", dir) { b =>
          TableSink.overwrite(events, t, SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val filesBefore = table.dataFileCount
        val erasure = events.filter(col("user_id") % 97 === 0)
          .select("user_id").distinct()
        val snap = table.deleteWhere(erasure, Seq("user_id"))
        require(snap.operation == "delete", snap.operation)
        require(table.dataFileCount == filesBefore,
          "merge-on-read must not rewrite data files")
        // post-erasure re-registration: the same users' NEW activity lands
        val resurrect = events
          .filter(col("user_id") % 97 === 0 && col("event_id") % 5 === 0)
          .withColumn("event_id", col("event_id") + 10000000L)
        TableSink.append(resurrect, t, table)
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE user_id % 97 <> 0
             |UNION ALL
             |SELECT event_id + 10000000, ts, user_id, event_type, value, props
             |FROM events WHERE user_id % 97 = 0 AND event_id % 5 = 0""".stripMargin),
      doc = "equality deletes (merge-on-read GDPR erasure): O(keys) delete files " +
        "anti-joined at read, scoped to pre-delete dirs so later appends survive"),

    "sink_positional_delete" -> QueryDef(
      (s, dir) => {
        // POSITIONAL deletes (Iceberg v2's second delete-file flavor):
        // an ARBITRARY-predicate point delete in O(matched rows) write
        // cost — no key semantics, zero data files rewritten. One probe
        // job carries the parquet physical row identity
        // (_metadata.file_path/row_index); matched (file, pos) pairs
        // become the delete file; reads anti-join on row identity, and
        // only dirs with a positional delete in scope pay the metadata-
        // column cost. Routed from SQL by Iceberg's `write.delete.mode`
        // table property: merge-on-read picks positions over the
        // copy-on-write rewrite. Appends after the delete — even rows
        // matching the predicate — survive (dir-scoped, the sequence-
        // number rule).
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        // seed + mode property commit once per session; the MOR DML —
        // the operator under test — lands on a per-run metadata clone
        val wh = warmCloneWarehouse("sink_positional_delete", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          TableSink.overwrite(events, t, seed): Unit
          seed.setProperties(Map("write.delete.mode" -> "merge-on-read"))
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val filesBefore = table.dataFileCount
        val dirsBefore = table.currentSnapshot.get.dataDirs
        val before = table.currentSnapshot.get.rowCount
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        // arithmetic predicate: not key-shaped (equality delete can't
        // carry it), not pushable (COW would rewrite) — exactly the
        // positional sweet spot under merge-on-read mode
        s.sql("""DELETE FROM graft.testdata.events
                |WHERE value * 3 > 600 AND event_type = 'view'""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
          table.dataFileCount == filesBefore &&
          snap.deletes.exists(_.positional) && snap.rowCount < before,
          "merge-on-read DELETE mode must commit a positional delete file, " +
            s"not a rewrite (op=${snap.operation})")
        // rows matching the predicate appended AFTER the delete survive
        val reAdd = events
          .filter(col("value") * 3 > 600 && col("event_type") === "view")
          .withColumn("event_id", col("event_id") + 20000000L)
        TableSink.append(reAdd, t, table)
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value FROM events
             |WHERE NOT COALESCE(value * 3 > 600 AND event_type = 'view', FALSE)
             |UNION ALL
             |SELECT event_id + 20000000, ts, user_id, event_type, value
             |FROM events WHERE value * 3 > 600 AND event_type = 'view'""".stripMargin),
      doc = "positional deletes (Iceberg v2 merge-on-read, write.delete.mode): " +
        "arbitrary-predicate point delete as (file, row-position) pairs — " +
        "O(matched) write, no rewrite, reads anti-join on physical row identity"),

    "sink_positional_update" -> QueryDef(
      (s, dir) => {
        // merge-on-read UPDATE (Iceberg's write.update.mode): ONE atomic
        // commit pairs a positional delete of the old row versions with
        // an append of the updated rows — O(matched rows) write, zero
        // files rewritten. The sparse-update-of-a-huge-table shape: at
        // 100 TB, restating a few thousand rows costs two small writes,
        // not a rewrite of every touched file. The riding delete scopes
        // to pre-commit dirs, so the commit's own re-inserted rows
        // survive it by construction (pinned below).
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed + mode property commit once per session; the MOR DML —
        // the operator under test — lands on a per-run metadata clone
        val wh = warmCloneWarehouse("sink_positional_update", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          TableSink.overwrite(tbl(s, dir, "events"), t, seed): Unit
          seed.setProperties(Map("write.update.mode" -> "merge-on-read"))
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val origDirs = table.currentSnapshot.get.dataDirs
        val before = table.currentSnapshot.get.rowCount
        val snapsBefore = table.snapshots.size
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.events SET value = value + 1000
                |WHERE value * 2 > 400 AND event_type = 'purchase'""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "update" &&
          table.snapshots.size == snapsBefore + 1 &&
          origDirs.forall(snap.dataDirs.contains) &&
          snap.dataDirs.size == origDirs.size + 1 &&
          snap.deletes.exists(d => d.positional && d.applies.toSet == origDirs.toSet) &&
          snap.rowCount == before,
          "merge-on-read UPDATE must be one delete+append commit that " +
            s"rewrites nothing (op=${snap.operation})")
        s.sql("SELECT event_id, ts, user_id, event_type, value FROM graft.testdata.events")
      },
      Some("""SELECT event_id, ts, user_id, event_type,
             |  CASE WHEN COALESCE(value * 2 > 400 AND event_type = 'purchase', FALSE)
             |       THEN value + 1000 ELSE value END AS value
             |FROM events""".stripMargin),
      doc = "merge-on-read UPDATE (Iceberg write.update.mode): one atomic " +
        "commit = positional delete of old versions + append of updated rows " +
        "— O(matched) write, no file rewritten, re-inserted rows out of the " +
        "delete's scope by construction"),

    "sql_merge_mor" -> QueryDef(
      (s, dir) => {
        // merge-on-read MERGE (Iceberg's write.merge.mode) — completes
        // the v2 row-level trio: the same ordered-clause semantics as
        // the COW merge, but ONE atomic commit pairs a positional
        // delete of exactly the touched row versions with an append of
        // the rewritten + inserted rows. The trickle-merge shape: a
        // small delivery into a huge table costs O(touched + inserted),
        // untouched rows of touched files are never rewritten.
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val wh = warmCloneWarehouse("sql_merge_mor", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "customer_mor")
          seed.overwrite(c): Unit
          seed.setProperties(Map("write.merge.mode" -> "merge-on-read"))
        }
        val table = SnapshotTable(wh, "testdata", "customer_mor")
        val origDirs = table.currentSnapshot.get.dataDirs
        val before = table.currentSnapshot.get.rowCount
        val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
        val delivery = c.filter(col("c_custkey") % 11 === 0)
          .select(col("c_custkey"), (col("c_acctbal") + 50.0).as("c_acctbal"))
          .unionByName(c.filter(col("c_custkey") % 11 === 5)
            .select((col("c_custkey") + maxKey).as("c_custkey"),
              col("c_acctbal")))
        delivery.createOrReplaceTempView("sql_mor_src")
        val inserts = c.filter(col("c_custkey") % 11 === 5).count()
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""MERGE INTO graft.testdata.customer_mor t
                |USING sql_mor_src s ON t.c_custkey = s.c_custkey
                |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
                |WHEN NOT MATCHED THEN
                |  INSERT (c_custkey, c_name, c_acctbal)
                |  VALUES (s.c_custkey, 'inserted', s.c_acctbal)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" &&
          origDirs.forall(snap.dataDirs.contains) &&
          snap.deletes.exists(_.positional) &&
          snap.rowCount == before + inserts,
          "merge-on-read MERGE must append + position-delete without " +
            s"rewriting (op=${snap.operation}, rows=${snap.rowCount})")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_mor")
      },
      Some("""SELECT c_custkey, c_name,
             |  CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0
             |       ELSE c_acctbal END AS c_acctbal
             |FROM customer
             |UNION ALL
             |SELECT c_custkey + (SELECT max(c_custkey) FROM customer) AS c_custkey,
             |  'inserted' AS c_name, c_acctbal
             |FROM customer WHERE c_custkey % 11 = 5""".stripMargin),
      doc = "merge-on-read MERGE (Iceberg write.merge.mode): one atomic commit " +
        "= positional delete of touched row versions + append of rewritten and " +
        "inserted rows — O(touched+inserted), untouched rows never rewritten"),

    "volume_sensor" -> QueryDef(
      (s, dir) => {
        // volume anomaly detection from snapshot metadata ALONE: three
        // healthy commits establish the trailing baseline, then an
        // upstream half-delivery (a tiny batch) lands — the sensor flags
        // it without reading one data file (commit-time row counts, the
        // Iceberg total-records contract). Schema drift and distribution
        // drift both miss this failure class.
        val wh = freshWarehouse("volume_sensor")
        val table = SnapshotTable(wh, "testdata", "events_volume")
        // the sensor consumes COUNTS, not content: narrow unpartitioned
        // commits keep the fixture cheap while the deltas match the oracle
        val events = tbl(s, dir, "events").select("event_id")
        table.overwrite(events.filter(col("event_id") % 4 === 0)): Unit
        table.append(events.filter(col("event_id") % 4 === 1)): Unit
        table.append(events.filter(col("event_id") % 4 === 2)): Unit
        table.append(events.filter(col("event_id") % 887 === 0)): Unit
        val report = graft.drift.VolumeSensor.check(s, table)
        require(!report.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
          "volume sensor must be a pure metadata read (no file scan planned)")
        report
      },
      Some("""WITH c AS (
             |  SELECT CAST(1 AS BIGINT) AS snapshot_id,
             |    CAST(count(*) FILTER (event_id % 4 = 0) AS BIGINT) AS rows_added FROM events
             |  UNION ALL SELECT 2, count(*) FILTER (event_id % 4 = 1) FROM events
             |  UNION ALL SELECT 3, count(*) FILTER (event_id % 4 = 2) FROM events
             |  UNION ALL SELECT 4, count(*) FILTER (event_id % 887 = 0) FROM events),
             |m AS (
             |  SELECT snapshot_id, rows_added,
             |    round(avg(rows_added) OVER w, 6) AS mean_raw,
             |    count(*) OVER w AS n_prev
             |  FROM c
             |  WINDOW w AS (ORDER BY snapshot_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
             |SELECT snapshot_id, rows_added,
             |  CASE WHEN n_prev >= 3 THEN mean_raw END AS trailing_mean,
             |  CASE WHEN n_prev >= 3 THEN abs(rows_added - mean_raw) > 0.5 * abs(mean_raw)
             |       ELSE false END AS anomalous
             |FROM m""".stripMargin),
      doc = "volume anomaly sensor: per-commit row deltas vs trailing mean, from " +
        "snapshot metadata only — zero data I/O, runs after every commit"),

    "maintenance_rollback" -> QueryDef(
      (s, dir) => {
        // the bad-load undo (Iceberg rollback_to_snapshot): a corrupted
        // full refresh lands; rollback commits a NEW snapshot referencing
        // the last-good state — zero data I/O, the bad snapshot stays
        // time-travelable until expiry, and the rollback is itself
        // auditable history.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // the incident (good load + corrupted refresh) commits once per
        // session; the rollback under test lands on the per-run clone
        val wh = warmCloneWarehouse("maintenance_rollback", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          TableSink.overwrite(events.filter(col("event_id") % 3 === 0), t, seed)
          TableSink.overwrite(events.withColumn("value", col("value") * 100), t, seed): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val good = table.snapshots.find(_.id == 1L).get
        val snap = table.rollback(good.id)
        require(snap.operation == "rollback", snap.operation)
        require(snap.rowCount == good.rowCount, "rollback must restore the row count")
        require(snap.dataDirs == good.dataDirs, "rollback is metadata-only")
        require(table.snapshots.size == 3, "rollback is itself history")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 3 = 0""".stripMargin),
      doc = "snapshot rollback: commit a new snapshot referencing the last-good state " +
        "(zero data I/O); the bad load stays time-travelable until expiry"),

    "wap_publish" -> QueryDef(
      (s, dir) => {
        // write-audit-publish (the Iceberg WAP workflow; the quality gate
        // is the reference's own runner semantics): a batch is committed
        // STAGED — fully written, snapshot-referenced, invisible to
        // reads — audited against the candidate table state, and only
        // then published (O(1) metadata flip). The poisoned delivery is
        // audited, rejected and discarded; the table never exposed it.
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        val cut = lit(EventsCut).cast("timestamp")
        // the published seed commits once per session; staged commits,
        // discard, and publish (the WAP machinery under test) land on
        // the per-run clone
        val wh = warmCloneWarehouse("wap_publish", dir) { b =>
          TableSink.overwrite(events.filter(col("ts") < cut), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val baseRows = table.currentSnapshot.get.rowCount

        // failed-audit path: nulls in a required column
        val bad = events.filter(col("ts") >= cut).withColumn("user_id",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("user_id")))
        val sBad = TableSink.stageAppend(bad, t, table)
        require(table.currentSnapshot.get.rowCount == baseRows,
          "staged data leaked into the published table")
        val auditBad = Quality.evaluate(
          table.readSnapshot(s, sBad.id), Seq(Quality.missingCount("user_id")), t.fullName)
        require(auditBad.exists(!_.passed), "audit should reject the poisoned batch")
        table.discardStaged(sBad.id)

        // passed-audit path: stage, audit green, publish
        val sGood = TableSink.stageAppend(events.filter(col("ts") >= cut), t, table)
        val audit = Quality.evaluate(
          table.readSnapshot(s, sGood.id),
          Seq(Quality.rowCount(), Quality.missingCount("user_id"),
            Quality.duplicateCount("event_id")), t.fullName)
        require(audit.forall(_.passed), s"audit failed on clean data: $audit")
        table.publish(sGood.id): Unit
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events"),
      doc = "write-audit-publish: staged commits audited against the candidate state; " +
        "publish is an O(1) metadata flip, failed audits discard without exposure"),

    "maintenance_zorder" -> QueryDef(
      (s, dir) => {
        // z-order clustered rewrite (Iceberg rewrite sort strategy with
        // zorder; Delta OPTIMIZE ZORDER BY): recluster events on
        // (user_id, value) so every output file is a compact region in
        // BOTH dimensions — file-level stat skipping then serves
        // predicates on either. Rows are untouched (the oracle checks
        // the full set); the in-query require pins that per-file ranges
        // genuinely tightened on both dimensions vs the global range.
        val wh = freshWarehouse("maintenance_zorder")
        val table = SnapshotTable(wh, "lakehouse", "events_zordered")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
        table.overwrite(ev.repartition(8))
        val z = graft.functions.ZOrder.zValue(
          table.read(s), Seq("user_id", "value"), bits = 8)
        val snap = table.compact(s,
          targetFileBytes = math.max(1L, table.dataBytes / 8), clusterBy = Seq(z))
        require(snap.operation == "replace", snap.operation)
        val back = table.read(s)
        val ranges = back
          .groupBy(col("_metadata.file_path").as("f"))
          .agg((max("user_id") - min("user_id")).as("ur"),
            (max("value") - min("value")).as("vr"))
          .agg(avg("ur").as("ur"), avg("vr").as("vr"), count(lit(1)).as("nf")).head()
        val global = back.agg(
          (max("user_id") - min("user_id")).cast("double"),
          (max("value") - min("value"))).head()
        require(ranges.getLong(2) > 1, "z-order rewrite must produce multiple files")
        require(ranges.getDouble(0) < 0.9 * global.getDouble(0) &&
          ranges.getDouble(1) < 0.9 * global.getDouble(1),
          s"per-file ranges did not tighten on both dims: $ranges vs $global")
        back.select("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events"),
      doc = "z-order clustered rewrite: files become compact regions in every " +
        "clustered dimension (multi-dim stat skipping), rows unchanged"),

    "stats_skip_scan" -> QueryDef(
      (s, dir) => {
        // Iceberg-manifest-style DATA SKIPPING: each commit records
        // per-column min/max ranges in its dir's files sidecar; a filter
        // over the table prunes non-overlapping dirs at OPTIMIZATION time
        // (the require below pins it — of three disjoint-range appends, a
        // point-range predicate plans exactly ONE scanned dir; at 100 TB
        // this is a year of hourly appends reduced to the dirs a
        // time-range query actually overlaps, before a single task is
        // scheduled).
        val wh = freshWarehouse("stats_skip_scan")
        val table = SnapshotTable(wh, "testdata", "orders_ranged")
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        // SF-independent split points: thirds of the key range, with a
        // query window strictly inside the middle third (the oracle
        // derives the same bounds with integer division)
        val maxKey = o.agg(max(col("o_orderkey"))).head.getLong(0)
        val (t1, t2) = (maxKey / 3, maxKey * 2 / 3)
        table.overwrite(o.filter(col("o_orderkey") < t1)): Unit
        table.append(o.filter(col("o_orderkey") >= t1 && col("o_orderkey") < t2)): Unit
        table.append(o.filter(col("o_orderkey") >= t2)): Unit
        val q = table.read(s)
          .filter(col("o_orderkey") >= maxKey * 2 / 5 && col("o_orderkey") < maxKey / 2)
        val scanned = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.size
        }.sum
        require(scanned == 1,
          s"range stats must prune the scan to the single overlapping dir, planned $scanned")
        q.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderkey >= (SELECT max(o_orderkey) * 2 // 5 FROM orders)
             |  AND o_orderkey <  (SELECT max(o_orderkey) // 2 FROM orders)""".stripMargin),
      doc = "Iceberg manifest-pruning parity: commit-time min/max ranges in each dir's " +
        "files sidecar skip non-overlapping snapshot dirs at planning (pinned to 1 of 3 dirs)"),

    "table_partitions" -> QueryDef(
      (s, dir) => {
        // the Iceberg `$partitions` metadata table: per-partition file +
        // row counts, served from commit-time stats sidecars — a pure
        // metadata read (the listing plans NO file source; the require
        // below pins it). Two commits (overwrite + append) prove stats
        // merge across snapshot dirs. The SUBJECT is the metadata
        // listing, not the write: the fixture commits a narrow
        // two-column projection so the bench measures the operator, not
        // a wide partitioned rewrite of the fact table.
        val wh = warmBaseDir("table_partitions", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events_partstats")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          seed.overwrite(ev.filter(col("event_id") % 2 === 0), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 2 === 1), partitionCols = Seq("ts_day")): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_partstats")
        val stats = table.partitionStats(s)
        require(!stats.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
          "partition stats must be a pure metadata read (no file scan planned)")
        val bad = stats.filter(col("row_count") < 0 || col("file_count") < 1).count()
        require(bad == 0, s"$bad partitions with unknown rows / zero files")
        // file_count is physical-layout-specific (not oracle-derivable);
        // the oracle checks the partition->rows map exactly
        stats.select(col("partition_path"), col("row_count"))
      },
      Some("""SELECT 'ts_day=' || CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_path,
             |  count(*) AS row_count
             |FROM events GROUP BY 1""".stripMargin),
      doc = "Iceberg $partitions parity: per-partition stats from commit-time sidecars, " +
        "merged across dirs, zero data files opened"),

    "table_files" -> QueryDef(
      (s, dir) => {
        // the Iceberg `$files` metadata table: per-FILE path / size /
        // record-count stats SERVED from the per-file sidecar every
        // commit writes beside its dir (the manifest-entry role) — the
        // serving path opens zero data files and zero parquet footers,
        // pinned below. The oracle cross-checks ground truth: the
        // per-partition sums of per-file record counts must equal the
        // true per-day row counts.
        val wh = warmBaseDir("table_files", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events_filestats")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          seed.overwrite(ev.filter(col("event_id") % 2 === 0), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 2 === 1), partitionCols = Seq("ts_day")): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_filestats")
        val footersBefore = SnapshotTable.footerReadsOnThread
        val files = table.fileStats(s)
        require(SnapshotTable.footerReadsOnThread == footersBefore,
          "$files must serve from commit-time sidecars, not query-time footer reads")
        val bad = files.filter(col("record_count") < 0 || col("size_bytes") <= 0).count()
        require(bad == 0, s"$bad files with unknown records / empty sizes")
        files.groupBy(col("partition_path"))
          .agg(sum(col("record_count")).as("row_count"))
      },
      Some("""SELECT 'ts_day=' || CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_path,
             |  count(*) AS row_count
             |FROM events GROUP BY 1""".stripMargin),
      doc = "Iceberg $files parity: per-file size + record stats from commit-time " +
        "sidecars (manifest role) — zero footer or data I/O at query time, " +
        "pinned in-query; per-partition sums cross-check the oracle"),

    "table_history" -> QueryDef(
      (s, dir) => {
        // the Iceberg `$history` metadata table: the commit lineage with
        // is_current_ancestor — a rollback repoints the head at its
        // TARGET, so the abandoned commit stays listed (its id still
        // time-travels) but is marked off the current ancestor chain.
        // The Athena console exposes metadata-table SQL as a first-class
        // entry point (aws/modules/athena/main.tf:56-60); this goes
        // through the same SQL front door. Pure metadata: snapshot JSON
        // only, zero data I/O at any table size.
        val wh = warmBaseDir("table_history", dir) { b =>
          val t = SnapshotTable(b, "testdata", "customer")
          val customer = tbl(s, dir, "customer")
            .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
          t.overwrite(customer.filter(col("c_custkey") % 2 === 0)) // snap 1
          t.append(customer.filter(col("c_custkey") % 2 === 1))    // snap 2
          t.append(customer.filter(col("c_custkey") % 3 === 0))    // snap 3 (bad load)
          t.rollback(2L): Unit // snap 4: parent = 2, snap 3 abandoned
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        // committed_at is wall clock; the oracle-checked projection is
        // the lineage itself
        s.sql("""SELECT snapshot_id, operation, parent_id, is_current_ancestor
                |FROM graft.testdata.customer.history""".stripMargin)
      },
      Some("""SELECT CAST(1 AS BIGINT) AS snapshot_id, 'overwrite' AS operation,
             |  CAST(0 AS BIGINT) AS parent_id, TRUE AS is_current_ancestor
             |UNION ALL SELECT 2, 'append', 1, TRUE
             |UNION ALL SELECT 3, 'append', 2, FALSE
             |UNION ALL SELECT 4, 'rollback', 2, TRUE""".stripMargin),
      doc = "Iceberg $history parity: commit lineage with is_current_ancestor " +
        "through the SQL metadata-table front door; a rollback leaves the " +
        "abandoned commit listed but off the ancestor chain"),

    "table_manifests" -> QueryDef(
      (s, dir) => {
        // the Iceberg `$manifests` metadata table: one row per manifest
        // (= the engine's per-dir files sidecar) of the current
        // snapshot, with the snapshot that ADDED it. Dirs are immutable,
        // so first appearance is the add; the row/file totals serve from
        // the sidecars — zero footer or data I/O, pinned in-query.
        val wh = warmBaseDir("table_manifests", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events_manifests")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          seed.overwrite(ev.filter(col("event_id") % 2 === 0), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 2 === 1), partitionCols = Seq("ts_day")): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_manifests")
        val footersBefore = SnapshotTable.footerReadsOnThread
        val m = table.manifestStats(s)
        val bad = m.filter(col("row_count") < 0 || col("file_count") < 1 ||
          col("manifest_path") === "").count()
        require(SnapshotTable.footerReadsOnThread == footersBefore,
          "$manifests must serve from commit-time sidecars, not footer reads")
        require(bad == 0, s"$bad manifests with unknown rows / no files / no path")
        // manifest_path/data_dir are physical; the oracle checks the
        // lineage + per-manifest row totals exactly
        m.select(col("added_snapshot_id"), col("added_by_current"), col("row_count"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS added_snapshot_id,
             |  FALSE AS added_by_current,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS row_count
             |UNION ALL SELECT 2, TRUE,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 1)""".stripMargin),
      doc = "Iceberg $manifests parity: one row per per-dir files sidecar " +
        "(manifest role) with added_snapshot_id lineage and sidecar-served " +
        "totals — zero footer/data I/O, pinned in-query"),

    "table_entries" -> QueryDef(
      (s, dir) => {
        // the Iceberg `$entries` metadata table: every data file with
        // its lifecycle STATUS against the current commit — ADDED (1),
        // EXISTING (0, carried; snapshot_id = the adding commit) and
        // DELETED (2, retired BY the current commit — the audit row
        // that shows what a commit removed). Fixture: evens dir (snap
        // 1), odds dir (snap 2), then a COW delete of part of the odds
        // (snap 3) — the evens dir carries as EXISTING@1, the odds
        // rewrite is ADDED@3, and the pre-delete odds files list as
        // DELETED@3. Aggregated to exact ground-truth row totals so
        // the oracle needs no physical paths.
        val wh = warmBaseDir("table_entries", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events_entries")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          seed.overwrite(ev.filter(col("event_id") % 2 === 0), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 2 === 1), partitionCols = Seq("ts_day")): Unit
          seed.delete(s, graft.sink.Rows.Where(col("event_id") % 4 === 1)): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_entries")
        val footersBefore = SnapshotTable.footerReadsOnThread
        val e = table.entryStats(s)
        val agg = e.groupBy(col("status"), col("snapshot_id"))
          .agg(sum(col("record_count")).as("row_count"))
        val out = agg.collect() // bounded: |statuses| x |snapshots|
        require(SnapshotTable.footerReadsOnThread == footersBefore,
          "$entries must serve from commit-time sidecars, not footer reads")
        require(out.forall(_.getLong(2) >= 0), "entry record counts must be known")
        agg
      },
      Some("""SELECT 0 AS status, CAST(1 AS BIGINT) AS snapshot_id,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS row_count
             |UNION ALL SELECT 1, 3,
             |  (SELECT count(*) FROM events WHERE event_id % 4 = 3)
             |UNION ALL SELECT 2, 3,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 1)""".stripMargin),
      doc = "Iceberg $entries parity: per-file lifecycle status against the " +
        "current commit (ADDED/EXISTING/DELETED with the owning snapshot id) " +
        "— the commit audit view, served from snapshot JSON + sidecars only"),

    "sql_show_create" -> QueryDef(
      (s, dir) => {
        // SHOW CREATE TABLE round-trips the full DSv2 definition —
        // columns, hidden-partition transforms, user + engine
        // properties — through Spark's own ShowCreateTableExec over the
        // catalog's Table surface. The rendering is deterministic
        // (fresh table => snapshot id 1; no location line), so the
        // exact DDL lines hash-compare.
        val wh = freshWarehouse("sql_show_create")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""CREATE TABLE graft.ns.ddl_demo
                |  (id BIGINT, ts TIMESTAMP, v DOUBLE)
                |PARTITIONED BY (days(ts), bucket(4, id))
                |TBLPROPERTIES ('write.sort.order' = 'id ASC')""".stripMargin)
        val ddl = s.sql("SHOW CREATE TABLE graft.ns.ddl_demo").head().getString(0)
        import s.implicits._
        ddl.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          .zipWithIndex.map { case (l, i) => (i, l) }
          .toDF("pos", "line")
      },
      Some("""SELECT * FROM (VALUES
             |  (0, 'CREATE TABLE graft.ns.ddl_demo ('),
             |  (1, 'id BIGINT,'),
             |  (2, 'ts TIMESTAMP,'),
             |  (3, 'v DOUBLE)'),
             |  (4, 'USING graft'),
             |  (5, 'PARTITIONED BY (days(ts), bucket(4, id))'),
             |  (6, 'TBLPROPERTIES ('),
             |  (7, '''current-snapshot-id'' = ''1'','),
             |  (8, '''format'' = ''parquet'','),
             |  (9, '''write.sort.order'' = ''id ASC'')'))
             |AS t(pos, line)""".stripMargin),
      doc = "SHOW CREATE TABLE through the DSv2 catalog: columns, hidden-" +
        "partition transforms, and properties render deterministically and " +
        "hash-compare line by line"),

    "maintenance_rewrite_manifests" -> QueryDef(
      (s, dir) => {
        // Iceberg rewrite_manifests: after many commits, $files serving
        // opens one sidecar PER DIR; the CALL consolidates the current
        // snapshot's entries into ONE root manifest — at object-store
        // latency that is a metadata query vs thousands of sequential
        // GETs. Pinned in-query: the post-rewrite listing reads the
        // manifest (counter +) and ZERO per-dir sidecars; a subsequent
        // commit bypasses the now-stale manifest and still answers
        // correctly from sidecars.
        // the three-commit lineage builds once per session; the CALL
        // writes/GCs manifests at the CLONE's table root only
        val wh = warmCloneWarehouse("rewrite_manifests", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events_manifests")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          seed.overwrite(ev.filter(col("event_id") % 2 === 0), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 4 === 1), partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("event_id") % 4 === 3), partitionCols = Seq("ts_day")): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_manifests")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        val res = s.sql(
          "CALL graft.system.rewrite_manifests('testdata.events_manifests')").head()
        require(res.getInt(0) == 3 && res.getInt(1) > 0,
          s"expected 3 dirs consolidated, got $res")
        val sidecarsBefore = SnapshotTable.sidecarReads.get(table.root)
        val manifestsBefore = SnapshotTable.manifestReads.get(table.root)
        val files = table.fileStats(s)
        val agg = files.groupBy(col("partition_path"))
          .agg(sum(col("record_count")).as("row_count"))
        val out = agg.collect() // force the serving path before reading counters
        require(SnapshotTable.sidecarReads.get(table.root) == sidecarsBefore &&
          SnapshotTable.manifestReads.get(table.root) > manifestsBefore,
          "post-rewrite $files must serve from the consolidated manifest, " +
            "not per-dir sidecars")
        import s.implicits._
        out.map(r => (r.getString(0), r.getLong(1))).toSeq
          .toDF("partition_path", "row_count")
      },
      Some("""SELECT 'ts_day=' || CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_path,
             |  count(*) AS row_count
             |FROM events GROUP BY 1""".stripMargin),
      doc = "Iceberg rewrite_manifests parity: consolidate per-dir file " +
        "sidecars into one root manifest - $files then opens ONE metadata " +
        "file (counter-pinned in-query); later commits bypass the stale " +
        "manifest until the next rewrite"),

    "drift_stats" -> QueryDef(
      (s, dir) => {
        // distribution drift per event_type: week 1 vs weeks 2-4 of the
        // events table (schema drift alone misses a shifting mean)
        val events = tbl(s, dir, "events")
        val cut = lit("2024-01-08 00:00:00").cast("timestamp")
        graft.drift.DataDrift.compare(
          events.filter(col("ts") < cut), events.filter(col("ts") >= cut),
          groupCol = "event_type", valueCol = "value", relThreshold = 0.05)
      },
      Some("""WITH b AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS base_n,
             |    (round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) + 0.0) AS base_mean
             |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1),
             |c AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS cur_n,
             |    (round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) + 0.0) AS cur_mean
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1)
             |SELECT event_type, base_n, base_mean, cur_n, cur_mean,
             |  round(abs(cur_mean - base_mean) / abs(base_mean), 6) AS rel_delta,
             |  round(abs(cur_mean - base_mean) / abs(base_mean), 6) > 0.05 AS drifted
             |FROM b JOIN c USING (event_type)""".stripMargin),
      doc = "per-group distribution drift (exact DECIMAL means, relative threshold flag)"),

    "time_travel_snapshots" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TemplateLoader.get(TemplatesDir, "events")
        // two-commit lineage builds once per session; the listing under
        // test is a pure metadata read of it
        val wh = warmBaseDir("time_travel", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut = lit(EventsCut).cast("timestamp")
          TableSink.overwrite(events.filter(col("ts") < cut), t, seed)
          TableSink.append(events.filter(col("ts") >= cut), t, seed): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        // snapshot history, newest first, limit 10 (committed_at is wall
        // clock, so the oracle-checked projection is id/op/row_count).
        // A PURE metadata read: row counts were recorded at commit time,
        // so listing history never rescans table data (Iceberg's
        // $snapshots has the same contract) — at 100 TB this is the
        // difference between a catalog lookup and 10 full table scans
        table.snapshots.sortBy(-_.id).take(10)
          .map(sn => (sn.id, sn.operation, sn.rowCount))
          .toDF("snapshot_id", "operation", "row_count")
      },
      Some(s"""SELECT * FROM (
              |  SELECT CAST(1 AS BIGINT) AS snapshot_id, 'overwrite' AS operation,
              |    (SELECT count(*) FROM events WHERE ts < TIMESTAMP '$EventsCut') AS row_count
              |  UNION ALL
              |  SELECT 2, 'append', (SELECT count(*) FROM events))""".stripMargin),
      doc = "snapshot history listing; append = prior dirs + delta (O(delta) commit)"),

    "snapshot_partition_prune" -> QueryDef(
      (s, dir) => {
        // hidden-partitioning proof (docs/deep-dive.md:72,
        // table-template-reference.md:157-168): the template declares
        // day(ts), the write derives ts_day directories, and a date
        // filter on the read path scans ONLY the matching directories —
        // PlanSpec pins the pruned file count, this query pins the values
        val wh = freshWarehouse("snapshot_partition_prune")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        TableSink.overwrite(tbl(s, dir, "events"), t, table)
        table.read(s)
          .filter(col("ts_day") >= lit("2024-01-05") && col("ts_day") <= lit("2024-01-06"))
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-06'""".stripMargin),
      doc = "partition-pruned read of a day-partitioned snapshot table " +
        "(hidden partitioning: predicate on the derived dir column)"),

    "hidden_partition_prune" -> QueryDef(
      (s, dir) => {
        // Iceberg's hidden-partitioning READ contract: the template
        // declares day(ts); this query filters RAW ts and never names
        // ts_day — GraftHiddenPartitionRule derives the implied ts_day
        // predicate at optimization, so partition pruning plans only
        // the matching day dirs (plan pinned in HiddenPartitionSpec;
        // this query pins the values against the oracle).
        val wh = freshWarehouse("hidden_partition_prune")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        TableSink.overwrite(tbl(s, dir, "events"), t, table)
        table.read(s)
          .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-07 00:00:00'""".stripMargin),
      doc = "hidden partitioning, read side: a RAW-ts predicate prunes the " +
        "day dirs without naming the derived column (transform-aware " +
        "predicate derivation at optimization time)"),

    "time_travel_changelog" -> QueryDef(
      (s, dir) => {
        // Batch CDC read (Iceberg table_changes / Delta CDF role):
        // row-level insert/delete visibility across snapshots, walked
        // as a per-step dir diff (O(changed dirs), never O(table)).
        // Fixture: overwrite lower half (snap 1), append upper half
        // (snap 2), GDPR-erase every 10th key (snap 3). The changelog
        // over (1, 3] = the appended rows as inserts @2 plus the
        // ERASED ROWS (full rows, not just keys) as deletes @3.
        // the three-commit incident lineage builds once per session;
        // the changelog read under test never mutates it
        val wh = warmBaseDir("time_travel_changelog", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "customer_cdc")
          val c = tbl(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          val halfC = c.agg(max(col("c_custkey"))).head.getLong(0) / 2
          seed.overwrite(c.filter(col("c_custkey") < halfC)): Unit
          seed.append(c.filter(col("c_custkey") >= halfC)): Unit
          seed.deleteWhere(
            c.filter(col("c_custkey") % 10 === 0).select("c_custkey"),
            Seq("c_custkey")): Unit
        }
        SnapshotTable(wh, "testdata", "customer_cdc").readChangelog(s, 1L, 3L)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal,
             |  'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_snapshot_id
             |FROM customer WHERE c_custkey >= (SELECT max(c_custkey) // 2 FROM customer)
             |UNION ALL
             |SELECT c_custkey, c_name, c_acctbal,
             |  'delete', CAST(3 AS BIGINT)
             |FROM customer WHERE c_custkey % 10 = 0""".stripMargin),
      doc = "batch changelog read (Iceberg table_changes / Delta CDF): " +
        "per-snapshot insert/delete rows from a dir-diff walk - appends as " +
        "inserts, equality-deleted ROWS as deletes, O(changed dirs) scan cost"),

    "time_travel_changelog_updates" -> QueryDef(
      (s, dir) => {
        // CDC update pairing (Delta CDF update_preimage/update_postimage;
        // Iceberg create_changelog_view compute-updates): a merge-on-read
        // UPDATE erases exactly the touched row versions and appends the
        // rewritten ones in ONE commit; pairing the two sides on the
        // table's declared identifier.fields re-stamps them as an update
        // pair. O(changed rows): one validation agg + one keyed window
        // over the changelog slice, never the table.
        // seed + properties commit once per session; the MOR UPDATE
        // and its changelog pairing land on the per-run clone
        val wh = warmCloneWarehouse("changelog_updates", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events")
          seed.overwrite(tbl(s, dir, "events")
            .select("event_id", "user_id", "event_type", "value")): Unit // snap 1
          seed.setProperties(Map(
            "write.update.mode" -> "merge-on-read",
            "identifier.fields" -> "event_id"))
        }
        val table = SnapshotTable(wh, "testdata", "events")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.events SET value = value + 1000
                |WHERE event_type = 'purchase'""".stripMargin) // snap 2 (MOR)
        table.readChangelogUpdates(s, 1L, 2L)
      },
      Some("""SELECT event_id, user_id, event_type, value,
             |  'update_preimage' AS _change_type,
             |  CAST(2 AS BIGINT) AS _commit_snapshot_id
             |FROM events WHERE event_type = 'purchase'
             |UNION ALL
             |SELECT event_id, user_id, event_type, value + 1000,
             |  'update_postimage', CAST(2 AS BIGINT)
             |FROM events WHERE event_type = 'purchase'""".stripMargin),
      doc = "changelog UPDATE pairing (Delta CDF pre/post images, Iceberg " +
        "compute-updates) on the declared identifier.fields: a merge-on-read " +
        "UPDATE's erase+append commit re-stamps as update_preimage/" +
        "update_postimage pairs; ambiguous key multiplicity raises instead " +
        "of pairing arbitrarily"),

    "schema_evolution" -> QueryDef(
      (s, dir) => {
        // Iceberg schema evolution (docs/deep-dive.md:49-72 lists it as a
        // metadata-layer pillar; sensors/schema_drift.py exists because
        // live schemas change): a late batch arrives with a NEW column.
        // The append evolves the table schema via stable field ids —
        // metadata only, no rewrite of existing dirs; old rows read back
        // null in the new column; the pre-evolution snapshot time-travels
        // with the OLD schema; a metadata-only rename then re-labels the
        // column with zero data I/O (the id, not the name, binds dirs).
        val events = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
        val cut = lit(EventsCut).cast("timestamp")
        // pre-evolution seed commits once; the evolving append, rename,
        // and time-travel checks run on the per-run clone
        val wh = warmCloneWarehouse("schema_evolution", dir) { b =>
          SnapshotTable(b, "testdata", "events_evolving")
            .overwrite(events.filter(col("ts") < cut)): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_evolving")
        val batch = events.filter(col("ts") >= cut)
          .withColumn("ingest_src",
            concat(lit("src-"), (col("event_id") % 3).cast("string")))
        val evolved = table.append(batch)
        // the evolution was O(metadata): the base dir was not rewritten
        require(evolved.dataDirs.head == table.snapshots.head.dataDirs.head,
          "append-with-new-column must not rewrite existing dirs")
        // pre-evolution snapshot keeps the old schema (time travel)
        require(!table.readSnapshot(s, 1L).columns.contains("ingest_src"),
          "pre-evolution snapshot must expose the old schema")
        // metadata-only rename: same field id, new name, dirs untouched
        val renamed = table.renameColumn(s, "ingest_src", "source")
        require(renamed.operation == "schema" && renamed.dataDirs == evolved.dataDirs,
          "rename must be a metadata-only commit")
        table.read(s).select("event_id", "ts", "user_id", "event_type", "value", "source")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type, value,
              |  CASE WHEN ts >= TIMESTAMP '$EventsCut'
              |       THEN 'src-' || CAST(event_id % 3 AS VARCHAR) END AS source
              |FROM events""".stripMargin),
      doc = "schema evolution: append-with-new-column evolves via stable field ids " +
        "(metadata-only), old rows backfill null, time travel keeps old schemas, " +
        "rename is a zero-I/O id relabel"),

    "schema_promote" -> QueryDef(
      (s, dir) => {
        // Iceberg type promotion (the evolution pillar's widening rules):
        // a column written as INT is widened to BIGINT with a METADATA-
        // ONLY commit — existing dirs keep their physical int bytes and
        // upcast losslessly at read; the next append then writes values
        // beyond int range. Narrowing is rejected (spec-pinned).
        val events = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val cut = lit(EventsCut).cast("timestamp")
        val wh = warmCloneWarehouse("schema_promote", dir) { b =>
          SnapshotTable(b, "testdata", "events_promote")
            .overwrite(events.filter(col("ts") < cut)
              .withColumn("amount", (col("event_id") % 1000).cast("int"))): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_promote")
        val promoted = table.updateColumnType(s, "amount", "BIGINT")
        require(promoted.operation == "schema" &&
          promoted.dataDirs == table.snapshots.head.dataDirs,
          "type promotion must be a metadata-only commit")
        table.append(events.filter(col("ts") >= cut)
          .withColumn("amount", col("event_id").cast("long") * 100000000000L))
        table.read(s).select("event_id", "ts", "user_id", "event_type", "amount")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type,
              |  CASE WHEN ts < TIMESTAMP '$EventsCut'
              |       THEN CAST(event_id % 1000 AS BIGINT)
              |       ELSE CAST(event_id AS BIGINT) * 100000000000 END AS amount
              |FROM events""".stripMargin),
      doc = "schema type promotion: int -> bigint widening as a metadata-only " +
        "commit; old dirs upcast losslessly, post-promotion appends exceed int range"),

    "time_travel_timestamp" -> QueryDef(
      (s, dir) => {
        // FOR SYSTEM_TIME AS OF (Iceberg/Athena timestamp travel): resolve
        // the newest snapshot committed at or before t. Commit times are
        // injected through the clock seam so the query is deterministic.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // the clock-pinned lineage builds once; the as-of read under
        // test is pure metadata + scan of it
        val wh = warmBaseDir("time_travel_timestamp", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut = lit(EventsCut).cast("timestamp")
          val saved = SnapshotTable.clockMs
          try {
            SnapshotTable.clockMs = () => 1000L
            TableSink.overwrite(events.filter(col("ts") < cut), t, seed)
            SnapshotTable.clockMs = () => 2000L
            TableSink.append(events.filter(col("ts") >= cut), t, seed): Unit
          } finally SnapshotTable.clockMs = saved
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        // as-of t=1500: the append (committed at 2000) must not appear
        table.readAsOf(s, 1500L)
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type
              |FROM events WHERE ts < TIMESTAMP '$EventsCut'""".stripMargin),
      doc = "time travel by timestamp (FOR SYSTEM_TIME AS OF): newest published " +
        "snapshot committed at or before t, deterministic via the commit-clock seam"),

    "sql_table_read" -> QueryDef(
      (s, dir) => {
        // the reference's PRIMARY read entry point is SQL over the
        // lakehouse catalog (docs/architecture.md:78,109): register the
        // graft DSv2 catalog and read a snapshot table from plain SQL.
        // The partition-column predicate prunes at planning exactly as
        // in the Scala API (the extension rule inlines the native scan
        // plan; PlanSpec pins the pruned file count through this path).
        val t = TemplateLoader.get(TemplatesDir, "events")
        val wh = warmBaseDir("sql_table_read", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""SELECT event_id, ts, user_id, event_type
                |FROM graft.testdata.events
                |WHERE ts_day BETWEEN DATE '2024-01-05' AND DATE '2024-01-06'""".stripMargin)
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-06'""".stripMargin),
      doc = "SQL catalog read (spark.sql over the graft DSv2 TableCatalog): " +
        "SELECT ... FROM graft.ns.table with partition pruning intact"),

    "sql_time_travel" -> QueryDef(
      (s, dir) => {
        // the reference pre-provisions SQL time-travel queries
        // (aws/modules/athena/main.tf:48-67): both syntaxes resolve
        // through the catalog's loadTable(ident, version|timestamp)
        // hooks. Commit times are injected via the clock seam, so the
        // TIMESTAMP AS OF literal is deterministic.
        val t = TemplateLoader.get(TemplatesDir, "events")
        val wh = warmBaseDir("sql_time_travel", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut = lit(EventsCut).cast("timestamp")
          val saved = SnapshotTable.clockMs
          try {
            SnapshotTable.clockMs = () => 1000L
            TableSink.overwrite(events.filter(col("ts") < cut), t, seed)
            SnapshotTable.clockMs = () => 2000L
            TableSink.append(events.filter(col("ts") >= cut), t, seed): Unit
          } finally SnapshotTable.clockMs = saved
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""SELECT event_id, ts, user_id, event_type
                |FROM graft.testdata.events VERSION AS OF 1
                |UNION ALL
                |SELECT event_id, ts, user_id, event_type
                |FROM graft.testdata.events TIMESTAMP AS OF '1970-01-01 00:00:01.5'""".stripMargin)
      },
      Some(s"""SELECT event_id, ts, user_id, event_type
              |FROM events WHERE ts < TIMESTAMP '$EventsCut'
              |UNION ALL
              |SELECT event_id, ts, user_id, event_type
              |FROM events WHERE ts < TIMESTAMP '$EventsCut'""".stripMargin),
      doc = "SQL time travel through the DSv2 catalog: VERSION AS OF <snapshot> " +
        "and TIMESTAMP AS OF <ts> both resolve to the pre-append state"),

    "sql_insert" -> QueryDef(
      (s, dir) => {
        // the SQL WRITE path: CTAS creates the table through the
        // catalog (createTable + first commit), INSERT INTO appends
        // through the V1 write fallback onto the optimistic snapshot
        // protocol; the read-back sees both commits.
        val wh = freshWarehouse("sql_insert")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        val events = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val cut = lit(EventsCut).cast("timestamp")
        events.filter(col("ts") < cut).createOrReplaceTempView("sql_insert_pre")
        events.filter(col("ts") >= cut).createOrReplaceTempView("sql_insert_post")
        s.sql("CREATE TABLE graft.testdata.events_sql AS SELECT * FROM sql_insert_pre")
        s.sql("INSERT INTO graft.testdata.events_sql SELECT * FROM sql_insert_post")
        val t = SnapshotTable(wh, "testdata", "events_sql")
        require(t.currentSnapshot.exists(_.operation == "append"),
          "INSERT INTO must commit through the snapshot append protocol")
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events_sql")
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "SQL write path through the DSv2 catalog: CTAS creates the table, " +
        "INSERT INTO appends via the V1 write fallback onto optimistic commits"),

    "sql_metadata_tables" -> QueryDef(
      (s, dir) => {
        // Iceberg-style metadata tables through the catalog — the
        // reference pre-provisions the same listings as named Athena
        // queries (aws/modules/athena/main.tf:48-67). Both listings are
        // PURE metadata reads (snapshot JSON + per-dir sidecars): at
        // 100 TB, history and partition stats cost a catalog lookup,
        // never a table scan.
        // the SUBJECT is the metadata listings, not the write: commit a
        // narrow two-column projection (same rows/partitions as the fact
        // table) so the bench measures the listings, not a wide rewrite
        val wh = warmBaseDir("sql_metadata_tables", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "events")
          val ev = tbl(s, dir, "events")
            .select(col("event_id"), col("ts"),
              date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
          val cut = lit(EventsCut).cast("timestamp")
          seed.overwrite(ev.filter(col("ts") < cut).drop("ts"),
            partitionCols = Seq("ts_day")): Unit
          seed.append(ev.filter(col("ts") >= cut).drop("ts"),
            partitionCols = Seq("ts_day")): Unit
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""SELECT 'snapshots' AS kind, CAST(snapshot_id AS STRING) AS k,
                |       operation AS op, row_count
                |FROM graft.testdata.events.snapshots
                |UNION ALL
                |SELECT 'partitions', partition_path, '', row_count
                |FROM graft.testdata.events.partitions""".stripMargin)
      },
      Some(s"""SELECT 'snapshots' AS kind, '1' AS k, 'overwrite' AS op,
              |  (SELECT count(*) FROM events WHERE ts < TIMESTAMP '$EventsCut') AS row_count
              |UNION ALL
              |SELECT 'snapshots', '2', 'append', (SELECT count(*) FROM events)
              |UNION ALL
              |SELECT 'partitions', 'ts_day=' || strftime(CAST(ts AS DATE), '%Y-%m-%d'), '',
              |  count(*)
              |FROM events GROUP BY 2""".stripMargin),
      doc = "Iceberg-style metadata tables via SQL (graft.ns.t.snapshots / " +
        ".partitions): pure metadata listings, zero data I/O"),

    "sql_view" -> QueryDef(
      (s, dir) => {
        // SAVED VIEWS — the reference pre-provisions its user-facing
        // entry points as NAMED Athena queries over the lakehouse
        // (aws/modules/athena/main.tf:26-67: DDL plus time-travel
        // listings saved for console users to run). The engine's form:
        // CREATE VIEW persisted as a warehouse sidecar, re-expanded as
        // TEXT on every read. Exercises the whole surface: bare-name
        // scoping to the view's namespace, time travel INSIDE a view
        // body, user column aliases, a view over a view, SHOW VIEWS,
        // and file-backed persistence (the listing needs no session
        // state — a reloaded catalog serves the same views).
        val t = TemplateLoader.get(TemplatesDir, "events")
        // the two-commit seed builds once per session; the view DDL
        // under test writes sidecars into the per-run clone's _views
        val wh = warmCloneWarehouse("sql_view", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut = lit(EventsCut).cast("timestamp")
          val saved = SnapshotTable.clockMs
          try {
            SnapshotTable.clockMs = () => 1000L
            TableSink.overwrite(events.filter(col("ts") < cut), t, seed)
            SnapshotTable.clockMs = () => 2000L
            TableSink.append(events.filter(col("ts") >= cut), t, seed): Unit
          } finally SnapshotTable.clockMs = saved
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        // named query 1: daily per-type counts (bare `events` binds to
        // the view's own namespace, graft.testdata)
        s.sql("""CREATE VIEW graft.testdata.daily_counts AS
                |SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
                |FROM events GROUP BY 1, 2""".stripMargin)
        // named query 2: the pre-append state — time travel in the body
        s.sql("""CREATE VIEW graft.testdata.initial_load (d, n) AS
                |SELECT CAST(ts AS DATE), count(*)
                |FROM graft.testdata.events VERSION AS OF 1
                |GROUP BY 1""".stripMargin)
        // named query 3: a view over a view
        s.sql("""CREATE OR REPLACE VIEW graft.testdata.top_days AS
                |SELECT d, sum(n) AS total FROM daily_counts GROUP BY d""".stripMargin)
        require(s.sql("SHOW VIEWS IN graft.testdata").count() == 3,
          "SHOW VIEWS must list all three saved views")
        s.sql("""SELECT v.d, v.total, i.n AS initial_n
                |FROM graft.testdata.top_days v
                |LEFT JOIN graft.testdata.initial_load i ON v.d = i.d""".stripMargin)
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
              |  FROM events GROUP BY 1, 2),
              |top AS (SELECT d, CAST(sum(n) AS BIGINT) AS total FROM daily GROUP BY d),
              |init AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
              |  FROM events WHERE ts < TIMESTAMP '$EventsCut' GROUP BY 1)
              |SELECT t.d, t.total, i.n AS initial_n
              |FROM top t LEFT JOIN init i ON t.d = i.d""".stripMargin),
      doc = "saved views (the reference's named-query surface): CREATE VIEW " +
        "persisted as a warehouse sidecar, bare names scoped to the view's " +
        "namespace, time travel inside the body, views over views, SHOW VIEWS"),

    "sql_materialized_view" -> QueryDef(
      (s, dir) => {
        // MATERIALIZED views (Iceberg's MV shape: view metadata +
        // storage table + refresh state) through the procedure surface
        // — the serving-layer half of the named-query story: the query
        // PRECOMPUTES into a real snapshot table, reads are plain
        // pruned scans of it, and staleness is one snapshot-id
        // watermark probe per source (O(#sources) metadata, never a
        // scan). The fixture pins the full lifecycle: fresh at create,
        // no-op refresh while fresh, stale after a source append, real
        // recompute after, second refresh a no-op again.
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        val cut = lit(EventsCut).cast("timestamp")
        val wh = warmCloneWarehouse("sql_materialized_view", dir) { b =>
          TableSink.overwrite(events.filter(col("ts") < cut), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""CALL graft.system.create_materialized_view(
                |  `table` => 'testdata.daily_mv',
                |  query => 'SELECT CAST(ts AS DATE) AS d, event_type,
                |            count(*) AS n FROM graft.testdata.events
                |            GROUP BY 1, 2')""".stripMargin)
        def status() = s.sql(
          "CALL graft.system.materialized_view_status(`table` => 'testdata.daily_mv')")
        def refresh() = s.sql(
          "CALL graft.system.refresh_materialized_view(`table` => 'testdata.daily_mv')")
        require(status().collect().forall(_.getBoolean(3)),
          "a freshly created MV must read fresh on every source")
        require(!refresh().head.getBoolean(0), "a fresh MV refresh must be a no-op")
        TableSink.append(events.filter(col("ts") >= cut), t,
          SnapshotTable(wh, t.namespace, t.name)): Unit
        require(status().collect().exists(!_.getBoolean(3)),
          "a source append must mark the MV stale")
        require(refresh().head.getBoolean(0), "a stale MV must recompute")
        require(!refresh().head.getBoolean(0), "refresh must re-watermark")
        s.sql("SELECT d, event_type, n FROM graft.testdata.daily_mv")
      },
      Some("""SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin),
      doc = "materialized views via CALL procedures (Iceberg MV shape: view " +
        "metadata + storage snapshot table + per-source snapshot-id " +
        "watermarks): precomputed serving reads, O(#sources) metadata " +
        "staleness probe, refresh only when a source moved"),

    "sql_delete" -> QueryDef(
      (s, dir) => {
        // GDPR erasure through SQL: DELETE FROM pushes its equality
        // condition to the table's SupportsDelete, which records a
        // merge-on-read equality delete — O(|keys|) write cost, no data
        // file rewritten (the in-query requires pin both), rows gone
        // from every subsequent read until compaction applies the
        // delete physically.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DELETE lands on the clone
        val wh = warmCloneWarehouse("sql_delete", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val dirsBefore = table.currentSnapshot.get.dataDirs
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("DELETE FROM graft.testdata.events WHERE user_id IN (101, 202, 303)")
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
          snap.deletes.nonEmpty,
          "SQL DELETE must commit a merge-on-read equality delete, not a rewrite")
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE user_id NOT IN (101, 202, 303)""".stripMargin),
      doc = "SQL DELETE via the DSv2 catalog: equality condition pushed to " +
        "SupportsDelete, recorded as a merge-on-read equality delete (no rewrite)"),

    "sql_update" -> QueryDef(
      (s, dir) => {
        // Row-level UPDATE through SQL, lowered onto copy-on-write at
        // FILE granularity (GraftDmlRule -> SnapshotTable.update):
        // the table is ONE dir of four key-range files; the update's
        // key predicate physically touches only the low-range file(s),
        // and the requires pin the Iceberg COW-at-file-granularity
        // contract — untouched sibling FILES within the touched dir
        // carry byte-identical (hard links, zero data I/O) into a
        // -carry dir instead of being decoded and rewritten. At 100 TB
        // an update matching a few rows costs O(affected files), never
        // O(dir) and never O(table).
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val quarter = o.agg(max(col("o_orderkey"))).head.getLong(0) / 4
        // the 4-file range-partitioned seed commits once per session;
        // the COW rewrite (and its hard-link carry) lands on the clone
        val wh = warmCloneWarehouse("sql_update", dir) { b =>
          SnapshotTable(b, "testdata", "orders_cow")
            .overwrite(o.repartitionByRange(4, col("o_orderkey"))): Unit
        }
        val table = SnapshotTable(wh, "testdata", "orders_cow")
        val origDir = table.currentSnapshot.get.dataDirs.head
        val origFiles = new java.io.File(origDir).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.toPath).toMap
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql(s"""UPDATE graft.testdata.orders_cow
                 |SET o_orderstatus = 'X', o_totalprice = o_totalprice * 2
                 |WHERE o_orderstatus = 'P' AND o_orderkey < $quarter""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "update", s"expected update, got ${snap.operation}")
        val carry = snap.dataDirs.filter(_.endsWith("-carry"))
        require(carry.size == 1 && !snap.dataDirs.contains(origDir),
          "UPDATE must split the touched dir: untouched files carry, the dir drops")
        val carried = new java.io.File(carry.head).listFiles()
          .filter(_.getName.endsWith(".parquet"))
        require(carried.nonEmpty && carried.length < origFiles.size,
          s"a key-local update must carry some (not all) of the ${origFiles.size} files")
        carried.foreach { c =>
          val orig = origFiles.getOrElse(c.getName, sys.error(
            s"carried file ${c.getName} has no original sibling"))
          require(java.nio.file.Files.isSameFile(c.toPath, orig),
            s"carried file ${c.getName} must be byte-identical (hard link) to the original")
        }
        s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft.testdata.orders_cow")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'P' AND o_orderkey < (SELECT max(o_orderkey) // 4 FROM orders)
             |       THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             |  CASE WHEN o_orderstatus = 'P' AND o_orderkey < (SELECT max(o_orderkey) // 4 FROM orders)
             |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
             |FROM orders""".stripMargin),
      doc = "SQL UPDATE via the DSv2 catalog, lowered to FILE-granular copy-on-write " +
        "(only files physically holding matching rows rewrite; sibling files in the " +
        "touched dir carry byte-identical as hard links — Iceberg's COW contract)"),

    "sql_merge" -> QueryDef(
      (s, dir) => {
        // MERGE INTO through SQL: equality-key upsert lowered onto the
        // copy-on-write merge (SnapshotTable.mergeInto) — matched rows
        // update from the source, unmatched source rows insert, the SQL
        // cardinality rule enforced before any write. Row count moves
        // by exactly the insert count (pinned).
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
        val halfC = maxKey / 2
        val wh = warmCloneWarehouse("sql_merge", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "customer_cow")
          seed.overwrite(c.filter(col("c_custkey") < halfC)): Unit
          seed.append(c.filter(col("c_custkey") >= halfC)): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_cow")
        val before = table.currentSnapshot.get.rowCount
        val updates = c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"))
        // synthetic insert keys offset by max(c_custkey) — a fixed
        // offset would collide with real keys once the table outgrows
        // it, silently turning inserts into updates at higher SF
        val news = c.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + maxKey).as("c_custkey"),
            concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
            lit(0.0).as("c_acctbal"))
        val inserts = news.count()
        updates.unionByName(news).createOrReplaceTempView("sql_merge_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""MERGE INTO graft.testdata.customer_cow t
                |USING sql_merge_src s ON t.c_custkey = s.c_custkey
                |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before + inserts,
          s"MERGE must upsert: expected ${before + inserts} rows, recorded ${snap.rowCount}")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_cow")
      },
      Some("""SELECT c_custkey, c_name,
             |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
             |FROM customer
             |UNION ALL
             |SELECT c_custkey + (SELECT max(c_custkey) FROM customer) AS c_custkey,
             |  'new_' || CAST(c_custkey AS VARCHAR) AS c_name, 0.0 AS c_acctbal
             |FROM customer WHERE c_custkey % 10 = 3""".stripMargin),
      doc = "SQL MERGE INTO via the DSv2 catalog: equality-key upsert on the " +
        "copy-on-write engine path (update-from-source + insert-unmatched, " +
        "cardinality rule enforced)"),

    "sql_merge_conditional" -> QueryDef(
      (s, dir) => {
        // Multi-clause conditional MERGE — the SCD-upsert shape users
        // write first: WHEN MATCHED AND <cond> THEN DELETE, a fallback
        // unconditional UPDATE, and a conditional INSERT. Clauses apply
        // first-true-wins in order (SQL semantics); the engine lowers
        // all of it onto the same dir-granular copy-on-write rewrite.
        // Row count moves by -deletes +inserts (pinned).
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
        val wh = warmCloneWarehouse("sql_merge_conditional", dir) { b =>
          val seed = SnapshotTable(b, "testdata", "customer_ccow")
          seed.overwrite(c.filter(col("c_custkey") < maxKey / 2)): Unit
          seed.append(c.filter(col("c_custkey") >= maxKey / 2)): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_ccow")
        val before = table.currentSnapshot.get.rowCount
        val matchedSrc = c.filter(col("c_custkey") % 7 === 0)
        val news = c.filter(col("c_custkey") % 7 === 3)
          .select((col("c_custkey") + maxKey).as("c_custkey"),
            concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
            col("c_acctbal"))
        val deletes = matchedSrc.filter(col("c_acctbal") < 0).count()
        val inserts = news.filter(col("c_acctbal") >= 1000.0).count()
        matchedSrc.unionByName(news).createOrReplaceTempView("sql_mergec_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""MERGE INTO graft.testdata.customer_ccow t
                |USING sql_mergec_src s ON t.c_custkey = s.c_custkey
                |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 10.0
                |WHEN NOT MATCHED AND s.c_acctbal >= 1000.0 THEN INSERT *""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" &&
          snap.rowCount == before - deletes + inserts,
          s"conditional MERGE must apply clauses first-true-wins: expected " +
            s"${before - deletes + inserts} rows, recorded ${snap.rowCount}")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_ccow")
      },
      Some("""SELECT c_custkey, c_name,
             |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
             |FROM customer
             |WHERE NOT (c_custkey % 7 = 0 AND c_acctbal < 0)
             |UNION ALL
             |SELECT c_custkey + (SELECT max(c_custkey) FROM customer) AS c_custkey,
             |  'new_' || CAST(c_custkey AS VARCHAR) AS c_name, c_acctbal
             |FROM customer WHERE c_custkey % 7 = 3 AND c_acctbal >= 1000.0""".stripMargin),
      doc = "Multi-clause conditional SQL MERGE (WHEN MATCHED AND cond THEN " +
        "DELETE / unconditional UPDATE fallback / conditional INSERT), " +
        "first-true-wins clause order, lowered onto dir-granular copy-on-write"),

    "sql_merge_not_by_source" -> QueryDef(
      (s, dir) => {
        // The third MERGE arm — WHEN NOT MATCHED BY SOURCE — the
        // full-sync shape: the delivery IS the truth, so target rows the
        // delivery omits are retired (DELETE) or flagged (UPDATE), in
        // the SAME atomic statement that upserts the delivered rows.
        // Detection inverts to an ANTI-join of the broadcast source keys
        // (target rows with no source match), restricted by the clauses'
        // target-only conditions; the ordered BY SOURCE clauses apply
        // first-true-wins over exactly the unmatched target rows.
        // Delivery: keys % 3 == 0 (balances restated). Absent rows:
        // negative balances DELETE, others get flagged with name prefix.
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val wh = warmCloneWarehouse("sql_merge_nbs", dir) { b =>
          SnapshotTable(b, "testdata", "customer_nbs").overwrite(c): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_nbs")
        val before = table.currentSnapshot.get.rowCount
        val delivered = c.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 5.0)
        delivered.createOrReplaceTempView("sql_nbs_src")
        val retired = c.filter(col("c_custkey") % 3 =!= 0 && col("c_acctbal") < 0).count()
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""MERGE INTO graft.testdata.customer_nbs t
                |USING sql_nbs_src s ON t.c_custkey = s.c_custkey
                |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
                |WHEN NOT MATCHED THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
                |WHEN NOT MATCHED BY SOURCE THEN
                |  UPDATE SET c_name = concat('stale_', t.c_name)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before - retired,
          s"BY SOURCE clauses must retire exactly the absent negative rows: " +
            s"expected ${before - retired} rows, recorded ${snap.rowCount}")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_nbs")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey % 3 = 0 THEN c_name
             |       ELSE 'stale_' || c_name END AS c_name,
             |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 5.0
             |       ELSE c_acctbal END AS c_acctbal
             |FROM customer
             |WHERE c_custkey % 3 = 0 OR c_acctbal >= 0""".stripMargin),
      doc = "MERGE WHEN NOT MATCHED BY SOURCE (full-sync shape): absent target " +
        "rows retire or restate in the same atomic statement; detection is the " +
        "inverted (anti-join) broadcast of the source keys, ordered clauses " +
        "first-true-wins"),

    "sql_delete_in_subquery" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE k IN (SELECT ...) — the everyday lakehouse
        // erasure shape (erase every user the fraud query flagged). The
        // subquery cannot cross the DSv2 filter push-down, so
        // GraftDmlRule lowers it directly onto the SAME merge-on-read
        // contract a literal key list gets: the subquery's distinct
        // keys become the equality-delete file — O(|keys|) write, no
        // data file rewritten, the key frame distributed end-to-end
        // (the require pins all of it). IN-semantics note: NULL keys
        // (subquery or target side) match nothing — exactly SQL IN.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DML lands on the clone
        val wh = warmCloneWarehouse("sql_delete_in_sub", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val dirsBefore = table.currentSnapshot.get.dataDirs
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.events
                |WHERE user_id IN (SELECT user_id FROM graft.testdata.events
                |                  WHERE event_type = 'purchase' AND value > 400)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
          snap.deletes.nonEmpty,
          "an IN-subquery DELETE must commit a merge-on-read equality delete, not a rewrite")
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events")
      },
      Some("""SELECT e.event_id, e.ts, e.user_id, e.event_type FROM events e
             |WHERE NOT EXISTS (SELECT 1 FROM events p
             |  WHERE p.event_type = 'purchase' AND p.value > 400
             |    AND p.user_id = e.user_id)""".stripMargin),
      doc = "SQL DELETE with an uncorrelated IN (SELECT ...) condition: lowered " +
        "onto the merge-on-read equality delete (subquery keys = delete file, " +
        "no rewrite, keys never collect to the driver)"),

    "sql_delete_not_in" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE k NOT IN (SELECT ...) — SQL's null-aware
        // NOT IN (retire every user the retention query did NOT keep).
        // GraftDmlRule lowers it onto GraftNotInCommand: one aggregate
        // job over the distinct key frame classifies the statement
        // (NULL key → statement no-op; empty → delete-all; else the
        // anti-join = MERGE's third arm over non-NULL target keys).
        // Here the subquery is non-empty and NULL-free, so the require
        // pins the anti-join merge commit. The spec covers the NULL and
        // empty branches.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DML lands on the clone
        val wh = warmCloneWarehouse("sql_delete_not_in", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val before = table.currentSnapshot.get.rowCount
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.events
                |WHERE user_id NOT IN (SELECT user_id FROM graft.testdata.events
                |                      WHERE event_type = 'purchase' AND value > 200)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount < before,
          s"a NOT IN DELETE over a non-empty NULL-free key set must run the " +
            s"anti-join merge path (op=${snap.operation}, rows=${snap.rowCount}/$before)")
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE user_id IN (SELECT user_id FROM events
             |  WHERE event_type = 'purchase' AND value > 200)""".stripMargin),
      doc = "SQL DELETE with an uncorrelated NOT IN (SELECT ...) condition: " +
        "null-aware semantics branched at run time (NULL key → no-op, empty " +
        "subquery → TRUE everywhere, else anti-join restricted to non-NULL " +
        "target keys)"),

    "sql_update_not_in" -> QueryDef(
      (s, dir) => {
        // UPDATE ... WHERE k NOT IN (SELECT ...): same null-aware
        // lowering, update shape — zero out the value of every event
        // whose user never made a qualifying purchase.
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DML lands on the clone
        val wh = warmCloneWarehouse("sql_update_not_in", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.events SET value = -1.0
                |WHERE user_id NOT IN (SELECT user_id FROM graft.testdata.events
                |                      WHERE event_type = 'purchase' AND value > 200)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge",
          s"a NOT IN UPDATE over a non-empty NULL-free key set must run the " +
            s"anti-join merge path (op=${snap.operation})")
        s.sql("SELECT event_id, user_id, event_type, value FROM graft.testdata.events")
      },
      Some("""SELECT event_id, user_id, event_type,
             |  CASE WHEN user_id NOT IN (SELECT user_id FROM events
             |    WHERE event_type = 'purchase' AND value > 200)
             |  THEN -1.0 ELSE value END AS value
             |FROM events""".stripMargin),
      doc = "SQL UPDATE with an uncorrelated NOT IN (SELECT ...) condition: " +
        "the same null-aware run-time branch, lowered onto MERGE's " +
        "WHEN NOT MATCHED BY SOURCE arm"),

    "sql_delete_not_in_multi" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE (u, e) NOT IN (SELECT ...) — the MULTI-column
        // null-aware form, which is null-aware per COLUMN (a source row
        // NULL in one column still blocks/passes on the other), so the
        // single-column three-branch shortcut cannot apply. GraftDmlRule
        // lowers it onto GraftNotInMultiCommand: run-time null-mask
        // decomposition into pure equi anti-joins (never a nested-loop
        // join). The fixture plants NULLs on BOTH sides and in BOTH
        // columns, so all mask pairs — including the
        // no-common-non-null-column ones — are exercised and
        // oracle-checked.
        val wh = warmCloneWarehouse("sql_delete_not_in_multi", dir) { b =>
          val ev = tbl(s, dir, "events").select(
            col("event_id"),
            when(col("user_id") % 7 === 0, lit(null).cast("bigint"))
              .otherwise(col("user_id") % 50).as("u"),
            when(col("event_id") % 11 === 0, lit(null).cast("string"))
              .otherwise(col("event_type")).as("e"),
            col("value"))
          SnapshotTable(b, "testdata", "events_multi").overwrite(ev): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_multi")
        val before = table.currentSnapshot.get.rowCount
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        // the subquery's two NULL-producing ranges are disjoint (and the
        // first coalesces away pre-existing NULLs), so no all-NULL tuple
        // can no-op the statement — source masks {none, u-null, e-null}
        s.sql("""DELETE FROM graft.testdata.events_multi
                |WHERE (u, e) NOT IN (
                |  SELECT CASE WHEN value > 450 THEN CAST(NULL AS BIGINT)
                |              ELSE coalesce(u, -1) END,
                |         CASE WHEN value > 350 AND value <= 450 THEN CAST(NULL AS STRING)
                |              ELSE e END
                |  FROM graft.testdata.events_multi
                |  WHERE e = 'purchase' AND value > 200)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.rowCount < before && snap.rowCount > 0,
          s"the multi-column NOT IN DELETE must land a partial COW delete " +
            s"(op=${snap.operation}, rows=${snap.rowCount}/$before)")
        s.sql("SELECT event_id, u, e, value FROM graft.testdata.events_multi")
      },
      // survivors = rows where NOT IN is FALSE or UNKNOWN = rows with a
      // "possibly equal" source row (agreeing wherever both sides are
      // non-NULL) — DuckDB 1.0 has no row-value IN subquery, so the
      // oracle states the textbook expansion directly
      Some("""WITH t AS (SELECT event_id,
             |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 50 END AS u,
             |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS e,
             |    value FROM events),
             |src AS (SELECT CASE WHEN value > 450 THEN NULL ELSE coalesce(u, -1) END AS su,
             |    CASE WHEN value > 350 AND value <= 450 THEN NULL ELSE e END AS se
             |  FROM t WHERE e = 'purchase' AND value > 200)
             |SELECT event_id, u, e, value FROM t
             |WHERE EXISTS (SELECT 1 FROM src
             |  WHERE (t.u = src.su OR t.u IS NULL OR src.su IS NULL)
             |    AND (t.e = src.se OR t.e IS NULL OR src.se IS NULL))""".stripMargin),
      doc = "SQL DELETE with a MULTI-column uncorrelated NOT IN: exact per-column " +
        "null-aware semantics via run-time null-mask decomposition into equi " +
        "anti-joins (no nested-loop join), NULLs planted on both sides/columns"),

    "sql_update_not_in_multi" -> QueryDef(
      (s, dir) => {
        // UPDATE ... WHERE (u, e) NOT IN (SELECT ...) — the UPDATE twin
        // of the multi-column null-aware form: same run-time null-mask
        // decomposition, matched rows rewritten through the COW matcher
        // seam with the assignment applied. Same NULL-planted fixture
        // as the DELETE twin so every mask pair is oracle-exercised;
        // the flag column makes the touched/untouched split explicit.
        val wh = warmCloneWarehouse("sql_update_not_in_multi", dir) { b =>
          val ev = tbl(s, dir, "events").select(
            col("event_id"),
            when(col("user_id") % 7 === 0, lit(null).cast("bigint"))
              .otherwise(col("user_id") % 50).as("u"),
            when(col("event_id") % 11 === 0, lit(null).cast("string"))
              .otherwise(col("event_type")).as("e"),
            col("value"), lit(0L).as("flag"))
          SnapshotTable(b, "testdata", "events_multi_u").overwrite(ev): Unit
        }
        val table = SnapshotTable(wh, "testdata", "events_multi_u")
        val before = table.currentSnapshot.get.rowCount
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.events_multi_u
                |SET flag = 1
                |WHERE (u, e) NOT IN (
                |  SELECT CASE WHEN value > 450 THEN CAST(NULL AS BIGINT)
                |              ELSE coalesce(u, -1) END,
                |         CASE WHEN value > 350 AND value <= 450 THEN CAST(NULL AS STRING)
                |              ELSE e END
                |  FROM graft.testdata.events_multi_u
                |  WHERE e = 'purchase' AND value > 200)""".stripMargin)
        val snap = table.currentSnapshot.get
        val flagged = s.sql(
          "SELECT count(*) FROM graft.testdata.events_multi_u WHERE flag = 1")
          .head.getLong(0)
        require(snap.operation == "update" && snap.rowCount == before &&
          flagged > 0 && flagged < before,
          s"the multi-column NOT IN UPDATE must flag a strict subset " +
            s"(op=${snap.operation}, flagged=$flagged/$before)")
        s.sql("SELECT event_id, u, e, value, flag FROM graft.testdata.events_multi_u")
      },
      // flag = 1 exactly where NO source row is possibly-equal (the
      // textbook NOT IN expansion, stated directly as in the DELETE twin)
      Some("""WITH t AS (SELECT event_id,
             |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 50 END AS u,
             |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS e,
             |    value FROM events),
             |src AS (SELECT CASE WHEN value > 450 THEN NULL ELSE coalesce(u, -1) END AS su,
             |    CASE WHEN value > 350 AND value <= 450 THEN NULL ELSE e END AS se
             |  FROM t WHERE e = 'purchase' AND value > 200)
             |SELECT event_id, u, e, value,
             |  CAST(CASE WHEN EXISTS (SELECT 1 FROM src
             |    WHERE (t.u = src.su OR t.u IS NULL OR src.su IS NULL)
             |      AND (t.e = src.se OR t.e IS NULL OR src.se IS NULL))
             |  THEN 0 ELSE 1 END AS BIGINT) AS flag
             |FROM t""".stripMargin),
      doc = "SQL UPDATE with a MULTI-column uncorrelated NOT IN: the DELETE " +
        "twin's null-mask decomposition feeding the copy-on-write update " +
        "matcher seam — matched rows rewritten with the assignment, " +
        "unmatched carried verbatim"),

    "sql_delete_predicate" -> QueryDef(
      (s, dir) => {
        // DELETE with an ARBITRARY predicate (`value * 2 > 500` — the
        // DSv2 filter API cannot translate arithmetic): GraftDmlRule
        // routes it onto the file-granular COW delete
        // (SnapshotTable.delete) instead of dying at planning.
        // Rows where the predicate is NULL survive (SQL DELETE removes
        // only where TRUE — the oracle's COALESCE pins it).
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DML lands on the clone
        val wh = warmCloneWarehouse("sql_delete_pred", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val before = table.currentSnapshot.get.rowCount
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.events
                |WHERE value * 2 > 500 AND event_type = 'purchase'""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.rowCount < before,
          s"arbitrary-predicate DELETE must commit a COW delete (op=${snap.operation})")
        s.sql("SELECT event_id, ts, user_id, event_type, value FROM graft.testdata.events")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value FROM events
             |WHERE NOT COALESCE(value * 2 > 500 AND event_type = 'purchase', FALSE)""".stripMargin),
      doc = "SQL DELETE with a non-source-translatable predicate (arithmetic): " +
        "routed onto the file-granular copy-on-write delete instead of failing " +
        "at the DSv2 filter push-down; NULL-predicate rows survive (SQL contract)"),

    "sql_update_in_subquery" -> QueryDef(
      (s, dir) => {
        // UPDATE ... WHERE k IN (SELECT ...) AND <residual>: lowered
        // onto the copy-on-write MERGE path — the subquery's distinct
        // keys become the merge source (broadcast semi-join for
        // touched-file detection, key-pruned scans), the residual
        // conjunct rides as the matched clause's condition. At 100 TB
        // the key set stays a distributed frame; nothing collects.
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val wh = warmCloneWarehouse("sql_update_in_sub", dir) { b =>
          SnapshotTable(b, "testdata", "orders_insub").overwrite(o): Unit
        }
        val table = SnapshotTable(wh, "testdata", "orders_insub")
        val before = table.currentSnapshot.get.rowCount
        tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_orderkey")).createOrReplaceTempView("sql_upd_in_keys")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.orders_insub SET o_orderstatus = 'Q'
                |WHERE o_orderkey IN (SELECT l_orderkey FROM sql_upd_in_keys)
                |  AND o_orderstatus = 'O'""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before,
          "an IN-subquery UPDATE must ride the COW merge path and change no row count")
        s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft.testdata.orders_insub")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'O' AND o_orderkey IN
             |    (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
             |       THEN 'Q' ELSE o_orderstatus END AS o_orderstatus,
             |  o_totalprice
             |FROM orders""".stripMargin),
      doc = "SQL UPDATE with an uncorrelated IN (SELECT ...) conjunct: lowered " +
        "onto the copy-on-write MERGE (subquery keys = broadcast semi-join " +
        "source; residual conjuncts become the clause condition)"),

    "sql_delete_exists" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE EXISTS (correlated) — the erasure shape
        // written as a correlated probe instead of IN. GraftDmlRule
        // DECORRELATES it: the `s.user_id = t.user_id` equality becomes
        // the join key, inner-only conjuncts (s.value > 400) stay the
        // subquery's filter, and because the EXISTS is the WHOLE
        // condition the statement lands on the SAME merge-on-read
        // equality-delete contract as an IN — O(|keys|) delete file,
        // zero data files rewritten (the require pins all of it).
        val t = TemplateLoader.get(TemplatesDir, "events")
        // seed commits once per session; the DML lands on the clone
        val wh = warmCloneWarehouse("sql_delete_exists", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val dirsBefore = table.currentSnapshot.get.dataDirs
        tbl(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value"))
          .createOrReplaceTempView("sql_del_ex_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.events t
                |WHERE EXISTS (SELECT 1 FROM sql_del_ex_src s
                |              WHERE s.user_id = t.user_id AND s.value > 400)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
          snap.deletes.nonEmpty,
          "a pure correlated-EXISTS DELETE must decorrelate onto the " +
            "merge-on-read equality delete, not a rewrite")
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events")
      },
      Some("""SELECT e.event_id, e.ts, e.user_id, e.event_type FROM events e
             |WHERE NOT EXISTS (SELECT 1 FROM events p
             |  WHERE p.event_type = 'purchase' AND p.value > 400
             |    AND p.user_id = e.user_id)""".stripMargin),
      doc = "SQL DELETE with a correlated EXISTS condition: decorrelated " +
        "(equality correlation = join key) onto the merge-on-read equality " +
        "delete — same O(keys) contract as IN, no rewrite"),

    "sql_delete_exists_theta" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE EXISTS with NON-EQUALITY correlation beside
        // the equality — "erase events outspent 2-to-1 by a purchase of
        // the same user", the per-row-threshold probe no pure key join
        // can express. The theta conjunct (p.value > t.value * 2) rides
        // the equality-keyed semi join as an extra condition — the plan
        // stays a distributed equi-join, never a nested loop — and the
        // matched ROW SET deletes through the matcher seam (COW here:
        // the require pins a rewrite of affected dirs, no delete file).
        val t = TemplateLoader.get(TemplatesDir, "events")
        val wh = warmCloneWarehouse("sql_delete_exists_theta", dir) { b =>
          TableSink.overwrite(tbl(s, dir, "events"), t,
            SnapshotTable(b, t.namespace, t.name)): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        tbl(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value"))
          .createOrReplaceTempView("sql_del_ext_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.events t
                |WHERE EXISTS (SELECT 1 FROM sql_del_ext_src s
                |              WHERE s.user_id = t.user_id
                |                AND s.value > t.value * 2)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "delete" && snap.deletes.isEmpty,
          "a theta-EXISTS DELETE under default write.delete.mode is a COW rewrite")
        s.sql("SELECT event_id, ts, user_id, event_type, value FROM graft.testdata.events")
      },
      Some("""SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value FROM events e
             |WHERE NOT EXISTS (SELECT 1 FROM events p
             |  WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
             |    AND p.value > e.value * 2)""".stripMargin),
      doc = "SQL DELETE with a theta-correlated EXISTS: non-equality " +
        "conjuncts ride the equality-keyed semi join as residual " +
        "conditions — distributed equi-join, never a nested loop"),

    "sql_delete_not_exists" -> QueryDef(
      (s, dir) => {
        // DELETE ... WHERE NOT EXISTS (correlated) — the referential-
        // integrity sweep (retire orders with no qualifying line).
        // Decorrelates onto MERGE's third arm: an ANTI-join of the
        // broadcast subquery keys (WHEN NOT MATCHED BY SOURCE THEN
        // DELETE), so detection is key-pruned and dirs whose rows all
        // have matches stay untouched.
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val wh = warmCloneWarehouse("sql_delete_not_exists", dir) { b =>
          SnapshotTable(b, "testdata", "orders_ne").overwrite(o): Unit
        }
        val table = SnapshotTable(wh, "testdata", "orders_ne")
        val before = table.currentSnapshot.get.rowCount
        tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
          .createOrReplaceTempView("sql_del_ne_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""DELETE FROM graft.testdata.orders_ne o
                |WHERE NOT EXISTS (SELECT 1 FROM sql_del_ne_src l
                |                  WHERE l.l_orderkey = o.o_orderkey
                |                    AND l.l_quantity > 30)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount < before,
          s"NOT EXISTS DELETE must ride the anti-join merge path and retire " +
            s"rows (op=${snap.operation}, ${snap.rowCount} of $before)")
        s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft.testdata.orders_ne")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30)""".stripMargin),
      doc = "SQL DELETE with a correlated NOT EXISTS condition: decorrelated " +
        "onto MERGE's third arm (anti-join of the broadcast subquery keys) — " +
        "the referential-integrity sweep, key-pruned detection"),

    "sql_update_exists" -> QueryDef(
      (s, dir) => {
        // UPDATE ... WHERE EXISTS (correlated) AND <residual>: the
        // correlation equality becomes the semi-join key, the residual
        // target-only conjunct rides as the matched clause's condition
        // — one COW MERGE, keys distributed end-to-end.
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val wh = warmCloneWarehouse("sql_update_exists", dir) { b =>
          SnapshotTable(b, "testdata", "customer_uex").overwrite(c): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_uex")
        val before = table.currentSnapshot.get.rowCount
        tbl(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
          .createOrReplaceTempView("sql_upd_ex_src")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.customer_uex c
                |SET c_acctbal = c_acctbal + 100.0
                |WHERE EXISTS (SELECT 1 FROM sql_upd_ex_src o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 300000)
                |  AND c.c_acctbal >= 0""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before,
          "a correlated-EXISTS UPDATE must ride the COW merge path and change no row count")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_uex")
      },
      Some("""SELECT c_custkey, c_name,
             |  CASE WHEN c_acctbal >= 0 AND c_custkey IN
             |    (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
             |FROM customer""".stripMargin),
      doc = "SQL UPDATE with a correlated EXISTS conjunct plus a residual " +
        "condition: decorrelated onto the copy-on-write MERGE (correlation " +
        "equality = broadcast semi-join key; residual = clause condition)"),

    "sql_update_corr_scalar" -> QueryDef(
      (s, dir) => {
        // UPDATE with a correlated SCALAR subquery in the assignment —
        // "restate each customer's balance to their best order" — the
        // everyday enrichment shape. Kim decorrelation: the global
        // max() over the correlated filter becomes a per-key aggregate
        // merge source; matched rows take the aggregate, keyless rows
        // take NULL via the BY SOURCE arm (SQL's empty-subquery scalar)
        // — pinned by the require below, since a semi-join alone would
        // silently skip them. Distributed end-to-end; count-shaped
        // subqueries take the 0-on-empty arm (`sql_update_corr_count`).
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val wh = warmCloneWarehouse("sql_update_corr_scalar", dir) { b =>
          SnapshotTable(b, "testdata", "customer_cs").overwrite(c): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_cs")
        val before = table.currentSnapshot.get.rowCount
        // big-ticket orders only, so some customers are KEYLESS — the
        // empty-subquery NULL arm is part of the contract under test
        val bigOrders = tbl(s, dir, "orders")
          .filter(col("o_totalprice") > 250000)
          .select(col("o_custkey"), col("o_totalprice"))
        bigOrders.createOrReplaceTempView("sql_ucs_src")
        val keyless = c.join(bigOrders,
          col("c_custkey") === col("o_custkey"), "left_anti").count()
        require(keyless > 0, "fixture needs customers without orders")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.customer_cs c
                |SET c_acctbal = (SELECT max(o_totalprice) FROM sql_ucs_src o
                |                 WHERE o.o_custkey = c.c_custkey)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before,
          "a correlated-scalar UPDATE must ride the MERGE path, row count unchanged")
        require(s.sql(
          "SELECT count(*) FROM graft.testdata.customer_cs WHERE c_acctbal IS NULL")
          .head.getLong(0) == keyless,
          "customers without orders must take the empty-subquery NULL")
        s.sql("SELECT c_custkey, c_name, c_acctbal FROM graft.testdata.customer_cs")
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT max(o_totalprice) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey
             |     AND o.o_totalprice > 250000) AS c_acctbal
             |FROM customer c""".stripMargin),
      doc = "SQL UPDATE with a correlated scalar subquery assignment: Kim " +
        "decorrelation onto the MERGE path (per-key aggregate source; keyless " +
        "rows take NULL via the BY SOURCE arm)"),

    "sql_update_corr_count" -> QueryDef(
      (s, dir) => {
        // the COUNT-shaped correlated scalar — the form the classic
        // count-bug makes dangerous: a naive join rewrite gives keyless
        // rows NULL (or drops them), but SQL's empty-subquery count is
        // 0. The lowering's BY SOURCE arm substitutes the replayed
        // 0-literal, pinned below by requiring every order-less
        // customer to land on exactly 0, never NULL.
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), lit(-1L).as("order_cnt"))
        val wh = warmCloneWarehouse("sql_update_corr_count", dir) { b =>
          SnapshotTable(b, "testdata", "customer_cc").overwrite(c): Unit
        }
        val table = SnapshotTable(wh, "testdata", "customer_cc")
        val before = table.currentSnapshot.get.rowCount
        val bigOrders = tbl(s, dir, "orders")
          .filter(col("o_totalprice") > 250000)
          .select(col("o_custkey"), col("o_totalprice"))
        bigOrders.createOrReplaceTempView("sql_ucc_src")
        val keyless = c.join(bigOrders,
          col("c_custkey") === col("o_custkey"), "left_anti").count()
        require(keyless > 0, "fixture needs customers without orders")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""UPDATE graft.testdata.customer_cc c
                |SET order_cnt = (SELECT count(*) FROM sql_ucc_src o
                |                 WHERE o.o_custkey = c.c_custkey)""".stripMargin)
        val snap = table.currentSnapshot.get
        require(snap.operation == "merge" && snap.rowCount == before,
          "a correlated-count UPDATE must ride the MERGE path, row count unchanged")
        require(s.sql(
          "SELECT count(*) FROM graft.testdata.customer_cc WHERE order_cnt = 0")
          .head.getLong(0) == keyless &&
          s.sql(
            "SELECT count(*) FROM graft.testdata.customer_cc WHERE order_cnt IS NULL")
            .head.getLong(0) == 0L,
          "customers without orders must take the empty-subquery COUNT of 0, not NULL")
        s.sql("SELECT c_custkey, c_name, order_cnt FROM graft.testdata.customer_cc")
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT count(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey
             |     AND o.o_totalprice > 250000) AS order_cnt
             |FROM customer c""".stripMargin),
      doc = "SQL UPDATE with a correlated COUNT subquery assignment: the " +
        "count-bug handled exactly — keyless rows take the empty-group 0 " +
        "via the BY SOURCE arm's replayed literal, matched rows the per-key " +
        "aggregate"),

    "sql_replace_table" -> QueryDef(
      (s, dir) => {
        // Atomic RTAS (the Iceberg StagedTable role, StagingTableCatalog
        // on the graft catalog): REPLACE TABLE ... AS SELECT stages the
        // query result as an INVISIBLE snapshot and publishes it as one
        // O(1) metadata flip under the commit lock — readers see
        // old-or-new, never in between, and a failed query leaves the
        // table byte-untouched (failure-injection cases pinned in
        // GraftCatalogSpec). History survives the replace: the
        // pre-replace snapshot still time-travels with its own schema.
        val wh = freshWarehouse("sql_replace_table")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("sql_rtas_src")
        s.sql("CREATE TABLE graft.testdata.events_rtas AS " +
          "SELECT event_id, ts, user_id FROM sql_rtas_src")
        val table = SnapshotTable(wh, "testdata", "events_rtas")
        val preId = table.currentSnapshot.get.id
        s.sql("""REPLACE TABLE graft.testdata.events_rtas AS
                |SELECT event_id, ts, event_type, value
                |FROM sql_rtas_src WHERE value IS NOT NULL""".stripMargin)
        require(table.readSnapshot(s, preId).columns.toSeq ==
          Seq("event_id", "ts", "user_id"),
          "pre-replace snapshot must keep its own schema")
        require(!table.snapshots.exists(_.staged),
          "the staged replace snapshot must be published, not left staged")
        s.sql("SELECT event_id, ts, event_type, value FROM graft.testdata.events_rtas")
      },
      Some("SELECT event_id, ts, event_type, value FROM events WHERE value IS NOT NULL"),
      doc = "Atomic REPLACE TABLE ... AS SELECT (StagingTableCatalog): the " +
        "result is staged invisible and published as one metadata flip; " +
        "pre-replace snapshots keep time-traveling with their own schema"),

    "time_travel_as_of" -> QueryDef(
      (s, dir) => {
        val t = TemplateLoader.get(TemplatesDir, "events")
        val wh = warmBaseDir("time_travel_as_of", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut = lit(EventsCut).cast("timestamp")
          TableSink.overwrite(events.filter(col("ts") < cut), t, seed)
          TableSink.append(events.filter(col("ts") >= cut), t, seed): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        // query AS OF the first snapshot: the appended rows must not appear
        table.readSnapshot(s, 1L)
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type
              |FROM events WHERE ts < TIMESTAMP '$EventsCut'""".stripMargin),
      doc = "time travel: read table state as of an earlier snapshot id"),

    "time_travel_incremental" -> QueryDef(
      (s, dir) => {
        // three-snapshot append lineage; the incremental read from the
        // FIRST snapshot to the head returns exactly the two appended
        // deltas and never rescans the base data (dir-set difference)
        val t = TemplateLoader.get(TemplatesDir, "events")
        val wh = warmBaseDir("time_travel_incremental", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          val events = tbl(s, dir, "events")
          val cut1 = lit(EventsMidCut).cast("timestamp")
          val cut2 = lit(EventsCut).cast("timestamp")
          TableSink.overwrite(events.filter(col("ts") < cut1), t, seed)
          TableSink.append(events.filter(col("ts") >= cut1 && col("ts") < cut2), t, seed)
          TableSink.append(events.filter(col("ts") >= cut2), t, seed): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        table.readIncremental(s, fromId = 1L, toId = 3L)
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some(s"""SELECT event_id, ts, user_id, event_type
              |FROM events WHERE ts >= TIMESTAMP '$EventsMidCut'""".stripMargin),
      doc = "incremental snapshot read (changelog consumption): only the dirs " +
        "added after the base snapshot are scanned - O(delta) I/O"),

    "feature_refresh_incremental" -> QueryDef(
      (s, dir) => {
        // the production refresh chain: commit an append lineage, read
        // ONLY the delta since the base snapshot (dir-set difference),
        // and materialize features from that delta - the steady-state
        // feature-store update whose cost is O(new events), never a
        // rescan of the table
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        val cut1 = lit(EventsMidCut).cast("timestamp")
        val cut2 = lit(EventsCut).cast("timestamp")
        // the append lineage commits once per session; the delta read +
        // feature materialization — the O(new events) refresh under
        // test — runs per-run against a metadata clone
        val wh = warmCloneWarehouse("feature_refresh_incremental", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          TableSink.overwrite(events.filter(col("ts") < cut1), t, seed)
          TableSink.append(events.filter(col("ts") >= cut1 && col("ts") < cut2), t, seed)
          TableSink.append(events.filter(col("ts") >= cut2), t, seed): Unit
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        graft.patterns.FeatureStore.materialize(
          table.readIncremental(s, fromId = 1L, toId = 3L),
          entityCol = "user_id", tsCol = "ts",
          featureSet = "user_activity", modelVersion = "v1",
          computedAt = timestamp_millis(lit(PatternQueries.MergeAtMs)),
          aggs = Map(
            "event_count" -> count(lit(1)),
            "purchase_count" -> sum(when(col("event_type") === "purchase", 1).otherwise(0)),
            "total_value" -> sum(col("value").cast("decimal(18,6)")).cast("double")))
      },
      Some(s"""SELECT user_id AS entity_id, max(ts) AS feature_timestamp,
              |  count(*) AS event_count,
              |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
              |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
              |  'user_activity' AS feature_set, 'v1' AS model_version,
              |  ${PatternQueries.MergeAtSql} AS computed_at
              |FROM events WHERE ts >= TIMESTAMP '$EventsMidCut'
              |GROUP BY user_id""".stripMargin),
      doc = "incremental feature refresh: snapshot-delta read feeds the " +
        "feature materialization - O(new events) steady-state update"),

    "quality_checkfile" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cf = graft.quality.CheckLoader.load(
          "/root/repo/quality/events_checks.yaml", CoreQueries.FreshnessAsOfMs)
        require(cf.table == "testdata.events")
        Quality.gate(tbl(s, dir, "events"), cf.table, cf.checks)
          .toDF().select(col("check"), col("column"), col("value"),
            col("passed"), col("severity"))
      },
      Some(s"""SELECT 'row_count' AS "check", '*' AS "column",
              |  CAST(count(*) AS BIGINT) AS value, count(*) > 0 AS passed,
              |  'fail' AS severity FROM events
              |UNION ALL SELECT 'missing_count', 'event_id', CAST(count(*) - count(event_id) AS BIGINT),
              |  count(*) - count(event_id) = 0, 'fail' FROM events
              |UNION ALL SELECT 'missing_count', 'ts', CAST(count(*) - count(ts) AS BIGINT),
              |  count(*) - count(ts) = 0, 'fail' FROM events
              |UNION ALL SELECT 'missing_count', 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
              |  count(*) - count(user_id) = 0, 'fail' FROM events
              |UNION ALL SELECT 'duplicate_count', 'event_id',
              |  CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
              |  count(event_id) - count(DISTINCT event_id) = 0, 'fail' FROM events
              |UNION ALL SELECT 'freshness', 'ts', ${CoreQueries.FreshnessAsOfMs} - epoch_ms(max(ts)),
              |  ${CoreQueries.FreshnessAsOfMs} - epoch_ms(max(ts)) < ${7L * 86400000L}, 'fail' FROM events
              |UNION ALL SELECT 'duplicate_count', 'event_type',
              |  CAST(count(event_type) - count(DISTINCT event_type) AS BIGINT),
              |  count(event_type) - count(DISTINCT event_type) = 0, 'warn' FROM events""".stripMargin),
      doc = "declarative YAML check suite compiled to one aggregate pass"),

    "pipeline_maintain" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val wh = freshWarehouse("pipeline_maintain")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        val events = tbl(s, dir, "events")
        TableSink.overwrite(events.filter(col("event_id") % 3 === 0), t, table)
        TableSink.overwrite(events.filter(col("event_id") % 2 === 0), t, table)
        // nowMs far enough ahead that the first snapshot exceeds the
        // events template's 7-day retention; current snapshot survives
        val results = Pipeline.maintain(
          TemplatesDir, wh, System.currentTimeMillis() + t.retentionMs.get + 3600000L)
        results.map(r => (r.table, r.retentionMs.map(_.toString).orNull,
            r.expired.size, r.expired.mkString(",")))
          .toDF("table", "retention_ms", "n_expired", "expired_ids")
          .withColumn("retention_ms", col("retention_ms").cast("long"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('lakehouse.event_stream', CAST(604800000 AS BIGINT), 0, ''),
             |  ('lakehouse.feature_table', 2592000000, 0, ''),
             |  ('lakehouse.scd_type2', 2592000000, 0, ''),
             |  ('testdata.events', 604800000, 1, '1'),
             |  ('testdata.events_ingest', CAST(NULL AS BIGINT), 0, ''))
             |AS t("table", retention_ms, n_expired, expired_ids)""".stripMargin),
      doc = "warehouse-wide retention maintenance: expire per-template history"),

    "backend_config" -> QueryDef(
      (s, _) => {
        import s.implicits._
        import graft.catalog.BackendConfig
        val cases = Seq(
          Map("LAKEHOUSE_BACKEND" -> "aws-glue"),
          Map("LAKEHOUSE_BACKEND" -> "aws-nessie", "NESSIE_URI" -> "http://n:19120/api/v2"),
          Map("LAKEHOUSE_BACKEND" -> "gcp"),
          Map.empty[String, String]) // default
        val rows = cases.map { env =>
          val b = BackendConfig.resolve(env)
          (env.getOrElse("LAKEHOUSE_BACKEND", "<default>"), b.name, b.catalogImpl,
            b.conf.size, b.conf.keys.exists(_.endsWith(".warehouse")))
        } :+ {
          val err = try { BackendConfig.resolve(Map("LAKEHOUSE_BACKEND" -> "azure")); "" }
          catch { case e: IllegalArgumentException => "IllegalArgumentException" }
          ("azure", "<error>", err, 0, false)
        }
        rows.toDF("env_backend", "resolved", "catalog_impl", "n_conf", "has_warehouse")
      },
      Some("""SELECT * FROM (VALUES
             |  ('aws-glue', 'aws-glue', 'glue', 4, true),
             |  ('aws-nessie', 'aws-nessie', 'nessie', 5, true),
             |  ('gcp', 'gcp', 'rest', 4, true),
             |  ('<default>', 'aws-glue', 'glue', 4, true),
             |  ('azure', '<error>', 'IllegalArgumentException', 0, false))
             |AS t(env_backend, resolved, catalog_impl, n_conf, has_warehouse)""".stripMargin),
      doc = "LAKEHOUSE_BACKEND dispatch matrix: glue / nessie / gcp / default / invalid"),

    "retention_expire" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val wh = freshWarehouse("retention_expire")
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(wh, t.namespace, t.name)
        val events = tbl(s, dir, "events")
        TableSink.overwrite(events.filter(col("event_id") % 2 === 0), t, table)
        TableSink.overwrite(events, t, table)
        // expire everything older than "now + 1h": history drops, the
        // current snapshot always survives
        val expired = table.expireSnapshots(System.currentTimeMillis() + 3600000L)
        Seq((expired.size, table.snapshots.size,
          table.snapshots.head.id, table.read(s).count()))
          .toDF("expired", "remaining", "current_id", "current_rows")
      },
      Some("""SELECT 1 AS expired, 1 AS remaining, CAST(2 AS BIGINT) AS current_id,
             |  (SELECT count(*) FROM events) AS current_rows""".stripMargin),
      doc = "snapshot expiration: history GC'd, current snapshot immortal"),

    // ------------------------------------------------------------------
    // named refs: branches + tags (Iceberg table refs)
    // ------------------------------------------------------------------
    "table_refs" -> QueryDef(
      (s, dir) => {
        // Iceberg table refs: a tag pins snapshot 1, a branch created at
        // the head advances with a branch append while the published
        // table stays put. The $refs metadata table lists them (with the
        // implicit `main`), and VERSION AS OF resolves ref NAMES — each
        // ref's row count proves the ref-addressed read serves the right
        // snapshot. All listings are pure metadata; the per-ref counts
        // read only that ref's dirs.
        val wh = freshWarehouse("table_refs")
        val table = SnapshotTable(wh, "testdata", "customer")
        val customer = tbl(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        table.overwrite(customer.filter(col("c_custkey") % 2 === 0)): Unit // snap 1
        table.createTag("v1"): Unit
        table.append(customer.filter(col("c_custkey") % 2 === 1)): Unit // snap 2
        table.createBranch("audit"): Unit // at snap 2
        // branch append: snapshot 3, staged, invisible to published reads
        table.appendToBranch("audit",
          customer.filter(col("c_custkey") % 2 === 1)): Unit
        require(table.currentSnapshot.exists(_.id == 2L),
          "a branch append must not advance the published head")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""SELECT r.name, r.type, r.snapshot_id,
                |  CASE r.name
                |    WHEN 'main' THEN (SELECT count(*) FROM graft.testdata.customer)
                |    WHEN 'audit' THEN
                |      (SELECT count(*) FROM graft.testdata.customer VERSION AS OF 'audit')
                |    WHEN 'v1' THEN
                |      (SELECT count(*) FROM graft.testdata.customer VERSION AS OF 'v1')
                |  END AS row_count
                |FROM graft.testdata.customer.refs r""".stripMargin)
      },
      Some("""SELECT 'main' AS name, 'branch' AS type, CAST(2 AS BIGINT) AS snapshot_id,
             |  (SELECT count(*) FROM customer) AS row_count
             |UNION ALL
             |SELECT 'v1', 'tag', 1,
             |  (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
             |UNION ALL
             |SELECT 'audit', 'branch', 3,
             |  (SELECT count(*) FROM customer)
             |    + (SELECT count(*) FROM customer WHERE c_custkey % 2 = 1)""".stripMargin),
      doc = "named refs: $refs metadata listing + VERSION AS OF 'ref-name' reads; " +
        "branch appends stay invisible to the published table"),

    "branch_fast_forward" -> QueryDef(
      (s, dir) => {
        // branch workflow end-to-end (Iceberg fast_forward): stack two
        // appends on a branch — the published head never moves — then
        // publish the whole branch as one O(branch-length) metadata
        // flip. Zero data is rewritten at publish time; at 100 TB a
        // multi-batch backfill lands atomically.
        val wh = freshWarehouse("branch_fast_forward")
        val table = SnapshotTable(wh, "testdata", "orders")
        val orders = tbl(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        table.overwrite(orders.filter(col("o_orderkey") % 3 === 0)): Unit
        table.createBranch("backfill"): Unit
        table.appendToBranch("backfill", orders.filter(col("o_orderkey") % 3 === 1)): Unit
        table.appendToBranch("backfill", orders.filter(col("o_orderkey") % 3 === 2)): Unit
        require(table.currentSnapshot.exists(_.id == 1L),
          "branch appends must not advance the published head")
        table.fastForward("backfill"): Unit
        require(table.currentSnapshot.exists(_.id == 3L),
          "fast-forward should publish the branch head")
        table.read(s)
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders"),
      doc = "branch writes + fast-forward publish: multi-batch backfill lands " +
        "atomically as an O(branch-length) metadata flip"),

    "tag_retention_protect" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // Iceberg ref retention: expiry drops unprotected history but a
        // TAG pins its snapshot — and that snapshot's data dirs — until
        // the tag is dropped. Snapshot 2 (untagged, not current) expires;
        // tagged snapshot 1 still reads back in full afterwards, proving
        // its dirs survived the GC sweep.
        val wh = freshWarehouse("tag_retention_protect")
        val table = SnapshotTable(wh, "testdata", "events")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val mid = lit(EventsMidCut).cast("timestamp")
        table.overwrite(ev.filter(col("ts") < mid)): Unit // snap 1
        table.createTag("baseline"): Unit
        table.overwrite(ev.filter(col("ts") >= mid)): Unit // snap 2 — expires
        table.overwrite(ev): Unit // snap 3 — current
        val expired = table.expireSnapshots(System.currentTimeMillis() + 3600000L)
        require(expired == Seq(2L),
          s"expected only the untagged snapshot 2 to expire, got $expired")
        val tagged = table.readRef(s, "baseline")
        tagged.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
      },
      Some(s"""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
              |FROM events WHERE ts < TIMESTAMP '$EventsMidCut'
              |GROUP BY event_type""".stripMargin),
      doc = "tag-protected retention: expiry GCs untagged history, the tagged " +
        "snapshot and its data survive and stay readable"),

    "ref_retention_policy" -> QueryDef(
      (s, dir) => {
        // Iceberg per-ref retention: a TAG with max_ref_age_ms ages out
        // WITH the expiry run (its target then expires like any
        // unprotected snapshot), while a BRANCH with min_snapshots_to_keep
        // keeps that many of its staged ancestor chain alive past the
        // table-level cutoff. Chain: snap1 (published base) <- snap2/3/4
        // (staged branch appends). Expiry at cutoff-everything: the aged
        // tag drops, snap1 and snap2 expire, min-keep saves snaps 3+4 —
        // and the branch head still reads back IN FULL (snapshots are
        // self-contained; kept snapshots' dirs survive the GC sweep).
        val wh = freshWarehouse("ref_retention_policy")
        val table = SnapshotTable(wh, "testdata", "events")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val mid = lit(EventsMidCut).cast("timestamp")
        table.overwrite(ev.filter(col("ts") < mid)): Unit // snap 1
        table.createTag("stale", maxRefAgeMs = Some(1L)): Unit // ages out
        table.createBranch("dev", minSnapshotsToKeep = Some(2)): Unit
        val late = ev.filter(col("ts") >= mid)
        table.appendToBranch("dev", late.filter(col("event_type") === "view")): Unit // snap 2
        table.appendToBranch("dev", late.filter(col("event_type") === "click")): Unit // snap 3
        table.appendToBranch("dev", late.filter(col("event_type") === "purchase")): Unit // snap 4
        table.overwrite(ev): Unit // snap 5 — the published head
        val expired = table.expireSnapshots(System.currentTimeMillis() + 3600000L)
        require(expired == Seq(1L, 2L),
          s"expected the aged-out tag's target (1) and the unprotected chain " +
            s"snapshot (2) to expire, got $expired")
        require(table.refs.map(_.name) == Seq("dev"),
          s"the aged tag must auto-expire; refs: ${table.refs.map(_.name)}")
        table.readRef(s, "dev")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
      },
      Some(s"""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
              |FROM events
              |WHERE ts < TIMESTAMP '$EventsMidCut'
              |   OR event_type IN ('view', 'click', 'purchase')
              |GROUP BY event_type""".stripMargin),
      doc = "per-ref retention policies (Iceberg branch/tag retention): " +
        "max_ref_age_ms ages a ref out during expire_snapshots, " +
        "min_snapshots_to_keep / max_snapshot_age_ms protect a branch's " +
        "staged ancestor chain; the branch head reads back in full after GC"),

    "wap_cherry_pick" -> QueryDef(
      (s, dir) => {
        // the WAP resolution publish() refuses: the head advanced after
        // staging, so the O(1) flip would drop the rival's rows — but
        // the staged snapshot's DELTA is still appendable. cherry_pick
        // transplants exactly the staged dirs onto the current head
        // (Iceberg cherrypick_snapshot): metadata-only, no data rewrite.
        val wh = freshWarehouse("wap_cherry_pick")
        val table = SnapshotTable(wh, "testdata", "events")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        table.overwrite(ev.filter(col("event_id") % 3 === 0)): Unit // snap 1
        val staged = table.stageAppend(ev.filter(col("event_id") % 3 === 1)) // snap 2
        table.append(ev.filter(col("event_id") % 3 === 2)): Unit // snap 3: head moved
        val refused =
          try { table.publish(staged.id); false }
          catch { case _: PublishConflictException => true }
        require(refused, "publish must refuse a stale-parented staged snapshot")
        table.cherryPick(staged.id): Unit
        table.read(s)
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "cherry-pick: transplant a staged append's delta onto the advanced " +
        "head when publish refuses — metadata-only conflict resolution"),

    "partition_evolution" -> QueryDef(
      (s, dir) => {
        // Iceberg partition-spec evolution (`updateSpec`): the table
        // starts day-partitioned, evolves to month partitioning, and
        // ONLY future writes adopt the new layout — zero rewrite of the
        // day-epoch dirs (at 100 TB an eager re-partition would be a
        // full-table rewrite). Reads spanning both epochs stay correct,
        // and the hidden-partitioning rule prunes EACH epoch with its
        // own transform (the superseded spec is archived, per-dir
        // applicability scopes it) — pinned in HiddenPartitionSpec;
        // this query pins the mixed layout and the values.
        val t = TemplateLoader.get(TemplatesDir, "events") // declares day(ts)
        val ev = tbl(s, dir, "events")
        val mid = lit(EventsMidCut).cast("timestamp")
        // the two-epoch lineage (day-spec overwrite, spec evolution,
        // month-spec append) commits once per session; the cross-epoch
        // read + layout pin — what every later query pays — run per-run
        // against a metadata clone
        val wh = warmCloneWarehouse("partition_evolution", dir) { b =>
          val seed = SnapshotTable(b, t.namespace, t.name)
          TableSink.overwrite(ev.filter(col("ts") < mid), t, seed) // ts_day dirs
          val tMonth = t.copy(partitionSpec = Seq(PartitionField("ts", "month", 0)))
          TableSink.append(ev.filter(col("ts") >= mid), tMonth, seed): Unit // ts_month dirs
        }
        val table = SnapshotTable(wh, t.namespace, t.name)
        val layouts = table.currentSnapshot.get.dataDirs.flatMap(d =>
          Option(new File(d).list()).getOrElse(Array.empty[String])
            .filter(_.contains("=")).map(_.split("=")(0))).distinct.sorted
        require(layouts == Seq("ts_day", "ts_month"),
          s"expected one day-epoch and one month-epoch dir layout, got $layouts")
        table.read(s)
          .filter(col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-28 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "user_id", "event_type")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-28 00:00:00'""".stripMargin),
      doc = "partition-spec evolution: day-epoch dirs keep their layout, new " +
        "writes land month-partitioned, cross-epoch reads prune per epoch"),

    "maintenance_orphan_cleanup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // Iceberg remove_orphan_files: a commit whose process died
        // between data write and metadata swap leaves an unreferenced
        // dir. The standalone sweep removes aged orphans (recency-
        // clamped: anything younger than the safety age could be an
        // in-flight commit's dir and is never touched) and leaves every
        // referenced dir alone. O(#dirs) filesystem metadata.
        val wh = freshWarehouse("maintenance_orphan_cleanup")
        val table = SnapshotTable(wh, "testdata", "events")
        val ev = tbl(s, dir, "events").select("event_id", "ts", "user_id")
        table.overwrite(ev.filter(col("event_id") % 2 === 0)): Unit
        table.append(ev.filter(col("event_id") % 2 === 1)): Unit
        // fabricate the residue of a died commit: an unreferenced
        // snap-* dir, aged past the safety window
        val orphan = new File(table.root, "snap-deadc0de")
        orphan.mkdirs(): Unit
        java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
          Array[Byte](1, 2, 3)): Unit
        val aged = System.currentTimeMillis() - 25L * 3600 * 1000
        orphan.setLastModified(aged): Unit
        // a FRESH unreferenced dir must survive (could be in-flight)
        val fresh = new File(table.root, "snap-feedf00d")
        fresh.mkdirs(): Unit
        val removed = table.removeOrphanFiles()
        require(removed.map(new File(_).getName) == Seq("snap-deadc0de"),
          s"expected exactly the aged orphan removed, got $removed")
        require(fresh.exists, "recency clamp must protect a fresh dir")
        require(!orphan.exists, "aged orphan must be deleted")
        Seq((removed.size, table.snapshots.size, table.read(s).count()))
          .toDF("removed_orphans", "snapshots", "row_count")
      },
      Some("""SELECT 1 AS removed_orphans, 2 AS snapshots,
             |  (SELECT count(*) FROM events) AS row_count""".stripMargin),
      doc = "orphan-file cleanup: aged unreferenced dirs swept, fresh dirs " +
        "recency-protected, referenced data untouched"),

    "maintenance_rewrite_deletes" -> QueryDef(
      (s, dir) => {
        // merge-on-read debt paydown, SCOPED (the Iceberg
        // rewrite_position_deletes role): only the dirs some equality
        // delete applies to are rewritten (deletes baked in, entries
        // dropped); a dir outside every delete's scope is carried
        // byte-identical. On a 100 TB table a few GDPR erasures rewrite
        // the handful of dirs their keys landed in — compact would
        // rewrite everything.
        val wh = freshWarehouse("maintenance_rewrite_deletes")
        val table = SnapshotTable(wh, "testdata", "customer")
        val c = tbl(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        table.overwrite(c.filter(col("c_custkey") % 3 === 0)): Unit
        table.append(c.filter(col("c_custkey") % 3 === 1)): Unit
        // erase every 5th key — scoped to the two dirs above
        table.deleteWhere(
          c.filter(col("c_custkey") % 3 =!= 2 && col("c_custkey") % 5 === 0)
            .select("c_custkey"), Seq("c_custkey")): Unit
        // this append is OUTSIDE the delete's scope (sequence-scoped)
        table.append(c.filter(col("c_custkey") % 3 === 2)): Unit
        val outOfScope = table.currentSnapshot.get.dataDirs.last
        val snap = table.rewriteDeletes(s)
        require(snap.deletes.isEmpty, "rewrite must drop the applied delete entries")
        require(snap.dataDirs.contains(outOfScope),
          "a dir outside the delete scope must carry forward untouched")
        require(snap.dataDirs.size == 2,
          s"two scoped dirs collapse to one rewrite + one carried, got ${snap.dataDirs.size}")
        // idempotent: nothing left to pay down
        require(table.rewriteDeletes(s).id == snap.id, "no-op must not commit")
        table.read(s)
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
             |WHERE NOT (c_custkey % 3 <> 2 AND c_custkey % 5 = 0)""".stripMargin),
      doc = "scoped equality-delete rewrite: only delete-scoped dirs rewrite, " +
        "delete entries drop, out-of-scope dirs carry byte-identical"),

    "table_properties" -> QueryDef(
      (s, dir) => {
        // Iceberg table properties through SQL DDL: TBLPROPERTIES at
        // CREATE, ALTER SET/UNSET, read back via SHOW TBLPROPERTIES.
        // Persisted beside the table metadata (atomic sidecar swap
        // under the commit lock); engine-computed keys (provider,
        // format, current-snapshot-id) overlay on read and are not
        // settable.
        val wh = freshWarehouse("table_properties")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("""CREATE TABLE graft.testdata.props (id BIGINT, v STRING)
                |TBLPROPERTIES ('retention.max-snapshot-age-ms'='604800000',
                |               'owner.team'='data-eng')""".stripMargin)
        s.sql("""ALTER TABLE graft.testdata.props
                |SET TBLPROPERTIES ('quality.gate'='strict')""".stripMargin)
        s.sql("ALTER TABLE graft.testdata.props UNSET TBLPROPERTIES ('owner.team')")
        s.sql("SHOW TBLPROPERTIES graft.testdata.props")
          .filter(!col("key").isin("provider", "format", "current-snapshot-id", "owner"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('quality.gate', 'strict'),
             |  ('retention.max-snapshot-age-ms', '604800000'))
             |AS t("key", "value")""".stripMargin),
      doc = "table properties: TBLPROPERTIES DDL persisted as an atomic " +
        "sidecar, SET/UNSET, engine-computed keys overlaid on read"),

    "sql_call_procedures" -> QueryDef(
      (s, dir) => {
        // The Iceberg CALL vocabulary through Spark 4's ProcedureCatalog:
        // a SQL-only operator runs the WHOLE maintenance lifecycle —
        // publish an audited staged write, compact, expire history —
        // with each CALL executing the same engine primitive as the
        // Scala API and returning its result relationally. All three
        // are metadata- or scope-bounded: publish is an O(1) flip,
        // compaction rewrites the (small) table once, expiry deletes
        // only unreferenced dirs.
        val wh = freshWarehouse("sql_call_procedures")
        val table = SnapshotTable(wh, "testdata", "events_ops")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        val cut1 = lit(EventsMidCut).cast("timestamp")
        val cut2 = lit(EventsCut).cast("timestamp")
        table.overwrite(ev.filter(col("ts") < cut1)): Unit
        table.append(ev.filter(col("ts") >= cut1 && col("ts") < cut2)): Unit
        val staged = table.stageAppend(ev.filter(col("ts") >= cut2))
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        val pub = s.sql("CALL graft.system.publish_changes(" +
          s"`table` => 'testdata.events_ops', snapshot_id => ${staged.id})")
          .collect().head
        require(pub.getLong(0) == staged.id, "publish must flip the staged snapshot")
        val compacted = s.sql(
          "CALL graft.system.rewrite_data_files(`table` => 'testdata.events_ops')")
          .collect().head
        require(compacted.getInt(1) == 1,
          s"compaction must bin-pack 3 dirs into 1, got ${compacted.getInt(1)}")
        val expired = s.sql("CALL graft.system.expire_snapshots(" +
          "`table` => 'testdata.events_ops', older_than_ms => 9999999999999)")
          .collect().map(_.getLong(0)).toSeq
        require(expired == Seq(1L, 2L, 3L),
          s"expiry must drop the three pre-compaction snapshots, got $expired")
        require(table.snapshots.map(_.id) == Seq(4L),
          "only the compacted head survives")
        table.read(s)
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "SQL stored procedures (CALL graft.system.*): publish_changes, " +
        "rewrite_data_files, expire_snapshots run the full maintenance " +
        "lifecycle from SQL, results returned as rows, engine primitives shared " +
        "with the Scala API"),

    "sql_add_files" -> QueryDef(
      (s, dir) => {
        // Zero-copy onboarding (Iceberg snapshot + add_files): migrate an
        // existing parquet path into a NEW table without copying a byte,
        // then import a second external source into it. At 100 TB this is
        // THE onboarding path — a petabyte of legacy parquet becomes a
        // governed, snapshot-versioned table in O(files) metadata work
        // (footer counts + one column-pruned stats job), never O(rows)
        // of rewrite. The commit materializes an owned per-file symlink
        // manifest (the Iceberg manifest-list role), so the source stays
        // external: expiry/cleanup can only ever delete the links.
        val wh = freshWarehouse("sql_add_files")
        val srcDir = freshWarehouse("sql_add_files_src")
        tbl(s, dir, "nation")
          .select((col("n_nationkey") + 100).cast("int").as("n_nationkey"),
            concat(lit("X_"), col("n_name")).as("n_name"), col("n_regionkey"))
          .write.mode("overwrite").parquet(s"$srcDir/nation_extra")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        val srcRows = tbl(s, dir, "nation").count()
        val mig = s.sql("CALL graft.system.snapshot(`table` => " +
          s"'testdata.nation_mig', source_path => '$dir/nation.parquet')")
          .collect().head
        require(mig.getLong(2) == srcRows,
          s"snapshot must import all $srcRows source rows, got ${mig.getLong(2)}")
        val add = s.sql("CALL graft.system.add_files(`table` => " +
          s"'testdata.nation_mig', source_path => '$srcDir/nation_extra')")
          .collect().head
        require(add.getLong(2) == srcRows,
          s"add_files must import all $srcRows extra rows, got ${add.getLong(2)}")
        val table = SnapshotTable(wh, "testdata", "nation_mig")
        require(table.currentSnapshot.exists(_.rowCount == 2 * srcRows),
          "imported row counts must be exact in snapshot metadata")
        // the zero-copy pin: every data file both imports committed is a
        // SYMLINK into the external source — no data byte was copied
        def walk(f: File): Seq[File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
              .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
              .flatMap(walk)
          else Seq(f)
        val dataFiles = table.currentSnapshot.toSeq.flatMap(_.dataDirs)
          .flatMap(d => walk(new File(d)))
        require(dataFiles.nonEmpty &&
          dataFiles.forall(f => java.nio.file.Files.isSymbolicLink(f.toPath)),
          "every imported data file must be a symlink into the source " +
            "(zero-copy); found a materialized copy")
        s.sql("SELECT n_nationkey, n_name, n_regionkey FROM graft.testdata.nation_mig")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
             |UNION ALL
             |SELECT CAST(n_nationkey + 100 AS INTEGER), 'X_' || n_name, n_regionkey
             |FROM nation""".stripMargin),
      doc = "zero-copy onboarding (CALL graft.system.snapshot + add_files): " +
        "existing parquet becomes a governed snapshot table by reference — " +
        "owned symlink manifest, footer-count + one stats job import cost, " +
        "source files never owned or deleted by maintenance"),

    "row_access_filter" -> QueryDef(
      (s, dir) => {
        // Row-level access policy, driven by the access.row-filter.<level>
        // table property: a reader principal's reads exclude the policy'd
        // rows; other levels are untouched (policies are per-level and
        // independent). The predicate is a plain Catalyst filter, so it
        // pushes down / prunes like any user filter — a region- or
        // date-scoped policy at 100 TB prunes the scan, not the result.
        // Complements column-level PII masking (project_pii_mask).
        val wh = freshWarehouse("row_access_filter")
        val table = SnapshotTable(wh, "testdata", "events_rls")
        val ev = tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
        table.overwrite(ev): Unit
        table.setProperties(Map(
          AccessControl.rowFilterKey(AccessControl.Reader) ->
            "event_type <> 'purchase'"))
        val total = ev.count()
        // admin reads are NOT filtered by the reader policy
        require(AccessControl.rowFilter(table.read(s), table.properties,
          table.fullName, AccessControl.Admin).count() == total,
          "the reader policy must not apply to admin reads")
        AccessControl.rowFilter(table.read(s), table.properties,
          table.fullName, AccessControl.Reader)
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE event_type <> 'purchase'""".stripMargin),
      doc = "row-level access policy (access.row-filter.<level> table " +
        "property): reader reads exclude policy'd rows, other levels " +
        "untouched; the policy predicate pushes down like any filter"),

    "namespace_access" -> QueryDef(
      (s, dir) => {
        // Team-scoped namespaces (docs/multi-tenancy.md §Shared Tables
        // vs Team Tables, Option A): a `team-<owner>` namespace is
        // AUTOMATICALLY restricted to the owning team + platform (admin)
        // — no per-table policy to forget. Enforced at the catalog front
        // door (every SQL route resolves tables there), denials audited.
        val wh = freshWarehouse("namespace_access")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        try {
          // the ML team materializes a scratch table in ITS namespace
          s.conf.set("graft.access.level", "writer")
          s.conf.set("graft.access.team", "ml")
          tbl(s, dir, "events")
            .select("event_id", "event_type", "value")
            .filter(col("event_type") === "purchase")
            .createOrReplaceTempView("na_src")
          s.sql("CREATE TABLE graft.`team-ml`.purchases AS SELECT * FROM na_src")
          val own = s.sql("SELECT * FROM graft.`team-ml`.purchases").count()
          require(own > 0, "owning team must read its own namespace")
          // a foreign team is refused with an actionable error, on reads
          // AND writes; the attempt is audited as a denied table_read
          s.conf.set("graft.access.team", "analytics")
          def msgs(t: Throwable): Seq[String] =
            if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
          val deniedRead = try {
            s.sql("SELECT * FROM graft.`team-ml`.purchases").collect(); Nil
          } catch { case e: Exception => msgs(e) }
          require(deniedRead.exists(_.contains("restricted to team 'ml'")),
            s"foreign team read must fail actionably, got: $deniedRead")
          val deniedWrite = try {
            s.sql("INSERT INTO graft.`team-ml`.purchases SELECT * FROM na_src"); Nil
          } catch { case e: Exception => msgs(e) }
          require(deniedWrite.exists(_.contains("restricted to team 'ml'")),
            s"foreign team write must fail actionably, got: $deniedWrite")
          require(graft.governance.Audit.recorded.exists(ev =>
            ev.event == "table_read" && ev.details.get("access").contains("denied") &&
              ev.details.get("namespace").contains("team-ml")),
            "the denial must be audited")
          // platform (admin) bypasses regardless of team membership
          s.conf.set("graft.access.level", "admin")
          val result =
            s.sql("SELECT event_id, event_type, value FROM graft.`team-ml`.purchases")
          result.count(): Unit // force analysis + one run under admin
          result
        } finally {
          s.conf.unset("graft.access.team")
          s.conf.unset("graft.access.level")
        }
      },
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE event_type = 'purchase'""".stripMargin),
      doc = "team-namespace access matrix (multi-tenancy Option A): team-% " +
        "namespaces auto-restrict to owning team + platform; catalog-front-door " +
        "enforcement on reads and writes, denials audited"),

    "team_access_matrix" -> QueryDef(
      (s, dir) => {
        // The reference's per-team table ACL (docs/multi-tenancy.md:44-105):
        // one YAML per team mapping tables to none/reader/writer/admin,
        // missing tables defaulting to none. The fixture writes the five
        // DOCUMENTED team configs verbatim and probes the REAL catalog
        // enforcement (checkTableAccess) for every (team, table, verb) —
        // the oracle is the documented matrix itself. Unknown teams fail
        // CLOSED (pinned); teamless sessions fall back to the global
        // level (the operator shape).
        import s.implicits._
        import graft.governance.{AccessControl, TeamConfig}
        val teamsDir = java.nio.file.Files.createTempDirectory("graft_teams")
        val declared = Map(
          "data-engineering" -> Map(
            "event_stream" -> "writer", "scd_type2" -> "reader",
            "feature_table" -> "reader"),
          "analytics" -> Map(
            "event_stream" -> "reader", "scd_type2" -> "reader",
            "feature_table" -> "none"),
          "ml-platform" -> Map(
            "event_stream" -> "reader", "scd_type2" -> "reader",
            "feature_table" -> "writer"),
          "customer-data" -> Map(
            "event_stream" -> "none", "scd_type2" -> "writer",
            "feature_table" -> "none"),
          "platform" -> Map(
            "event_stream" -> "admin", "scd_type2" -> "admin",
            "feature_table" -> "admin"))
        declared.foreach { case (team, tables) =>
          val body = s"name: $team\ntables:\n" +
            tables.map { case (t, l) => s"  $t: $l" }.mkString("\n")
          java.nio.file.Files.writeString(teamsDir.resolve(s"$team.yaml"), body): Unit
        }
        TeamConfig.invalidate()
        s.conf.set(TeamConfig.DirConfKey, teamsDir.toString)
        try {
          val tables = Seq("event_stream", "scd_type2", "feature_table")
          def allowed(team: String, table: String, verb: String): Boolean = {
            s.conf.set("graft.access.team", team)
            try { AccessControl.checkTableAccess(s, table, s"lakehouse.$table", verb); true }
            catch { case _: AccessControl.TableAccessDenied => false }
          }
          // an unknown team name fails CLOSED on every verb
          require(!allowed("no-such-team", "event_stream", "read"),
            "unknown teams must have no access")
          val rows = for {
            (team, decl) <- declared.toSeq
            table <- tables
          } yield (team, table, decl(table),
            allowed(team, table, "read"),
            allowed(team, table, "write"),
            allowed(team, table, "alter"))
          rows.toDF("team", "table", "level", "can_select", "can_write", "can_alter")
        } finally {
          s.conf.unset("graft.access.team")
          s.conf.unset(TeamConfig.DirConfKey)
        }
      },
      Some("""SELECT * FROM (VALUES
             |  ('data-engineering', 'event_stream',  'writer', true,  true,  false),
             |  ('data-engineering', 'scd_type2',     'reader', true,  false, false),
             |  ('data-engineering', 'feature_table', 'reader', true,  false, false),
             |  ('analytics',        'event_stream',  'reader', true,  false, false),
             |  ('analytics',        'scd_type2',     'reader', true,  false, false),
             |  ('analytics',        'feature_table', 'none',   false, false, false),
             |  ('ml-platform',      'event_stream',  'reader', true,  false, false),
             |  ('ml-platform',      'scd_type2',     'reader', true,  false, false),
             |  ('ml-platform',      'feature_table', 'writer', true,  true,  false),
             |  ('customer-data',    'event_stream',  'none',   false, false, false),
             |  ('customer-data',    'scd_type2',     'writer', true,  true,  false),
             |  ('customer-data',    'feature_table', 'none',   false, false, false),
             |  ('platform',         'event_stream',  'admin',  true,  true,  true),
             |  ('platform',         'scd_type2',     'admin',  true,  true,  true),
             |  ('platform',         'feature_table', 'admin',  true,  true,  true))
             |AS t(team, "table", "level", can_select, can_write, can_alter)""".stripMargin),
      doc = "per-team table ACL (teams-dir YAML, multi-tenancy Option B): the five " +
        "documented team configs probed through the real catalog enforcement — " +
        "none/reader/writer/admin gate read/write/alter exactly per the doc's " +
        "matrix; unknown teams fail closed, omitted tables default to none"),

    "sql_truncate" -> QueryDef(
      (s, dir) => {
        // TRUNCATE TABLE as an empty-overwrite snapshot: the schema
        // survives, HISTORY survives (pre-truncate snapshots still
        // time-travel; expiry governs their lifetime), and the commit
        // is metadata-only — no dir written or referenced. Not the v1
        // "delete the directory" truncate: a snapshot table's past is
        // part of its contract.
        val wh = freshWarehouse("sql_truncate")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
          .createOrReplaceTempView("trunc_src")
        s.sql("CREATE TABLE graft.testdata.events_trunc AS SELECT * FROM trunc_src")
        val table = SnapshotTable(wh, "testdata", "events_trunc")
        val preId = table.currentSnapshot.get.id
        s.sql("TRUNCATE TABLE graft.testdata.events_trunc")
        val head = table.currentSnapshot.get
        require(head.dataDirs.isEmpty && head.rowCount == 0,
          "TRUNCATE must commit a metadata-only empty snapshot")
        require(table.readSnapshot(s, preId).columns.length == 4,
          "pre-truncate snapshot must stay time-travelable")
        s.sql("""INSERT INTO graft.testdata.events_trunc
                |SELECT * FROM trunc_src WHERE event_type = 'click'""".stripMargin)
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events_trunc")
      },
      Some("""SELECT event_id, ts, user_id, event_type FROM events
             |WHERE event_type = 'click'""".stripMargin),
      doc = "SQL TRUNCATE TABLE as an empty-overwrite snapshot: metadata-only " +
        "commit, schema kept, history time-travelable, table writable after"),

    "bloom_filter_write" -> QueryDef(
      (s, dir) => {
        // Operative parquet bloom filters (Iceberg's
        // write.parquet.bloom-filter-enabled.column.<col> write
        // property): declaring the property makes every subsequent
        // write — SQL INSERT here — emit a bloom filter for that column
        // into each parquet file footer. At 100 TB this is the point-
        // lookup complement to range stats: `event_id = ?` on a
        // high-cardinality column the files are NOT sorted by skips row
        // groups min/max can't rule out, for a few KB of footer per
        // file. The in-query pin reads footers with parquet-mr:
        // the declared high-cardinality column HAS a filter; a declared
        // but fully DICTIONARY-encoded column (user_id, ~1k distinct)
        // correctly does NOT (parquet-mr suppresses it — the dictionary
        // page already answers membership exactly); an undeclared
        // column has none.
        val wh = freshWarehouse("bloom_filter_write")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type")
          .createOrReplaceTempView("bloom_src")
        s.sql("""CREATE TABLE graft.testdata.events_bloom (
                |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING)
                |TBLPROPERTIES (
                |  'write.parquet.bloom-filter-enabled.column.event_id'='true',
                |  'write.parquet.bloom-filter-expected-ndv.column.event_id'='10000',
                |  'write.parquet.bloom-filter-enabled.column.user_id'='true')""".stripMargin)
        s.sql("INSERT INTO graft.testdata.events_bloom SELECT * FROM bloom_src")
        val table = SnapshotTable(wh, "testdata", "events_bloom")
        val files = table.currentSnapshot.get.dataDirs.flatMap(d =>
          Option(new java.io.File(d).listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
            .filter(f => f.isFile && f.getName.endsWith(".parquet")))
        require(files.nonEmpty, "write must produce files")
        files.foreach { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            new org.apache.hadoop.conf.Configuration(),
            new org.apache.hadoop.fs.Path(f.getPath))
          try {
            import scala.jdk.CollectionConverters._
            val cols = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
            def offsets(name: String): Seq[Long] =
              cols.filter(_.getPath.toDotString == name)
                .map(_.getBloomFilterOffset).toSeq
            require(offsets("event_id").nonEmpty && offsets("event_id").forall(_ >= 0),
              s"${f.getName}: declared high-cardinality event_id must carry a bloom filter")
            require(offsets("user_id").forall(_ < 0),
              s"${f.getName}: dictionary-encoded user_id must have its bloom suppressed")
            require(offsets("ts").forall(_ < 0),
              s"${f.getName}: undeclared ts must not carry one")
          } finally reader.close()
        }
        s.sql("SELECT event_id, ts, user_id, event_type FROM graft.testdata.events_bloom")
      },
      Some("SELECT event_id, ts, user_id, event_type FROM events"),
      doc = "operative parquet bloom filters: the Iceberg write property makes " +
        "every write emit per-column bloom filters (footer-pinned via " +
        "parquet-mr); the point-lookup complement to range-stats skipping"),

    "write_sort_order" -> QueryDef(
      (s, dir) => {
        // Declared write sort order (Iceberg's WRITE ORDERED BY, carried
        // here as the write.sort.order table property): every catalog
        // write — plain INSERT INTO included — lands its files
        // internally sorted by the declaration without the statement
        // saying so. Sorted files keep the recorded column ranges tight
        // (narrower min/max per dir => more skipping) at the cost of one
        // shuffle-free sortWithinPartitions per write. The in-query pin
        // proves PHYSICAL file order; the oracle proves the data.
        val wh = freshWarehouse("write_sort_order")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        tbl(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("wso_src")
        s.sql("""CREATE TABLE graft.testdata.events_sorted (
                |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                |  event_type STRING, value DOUBLE)
                |TBLPROPERTIES ('write.sort.order'='value DESC NULLS LAST, event_id ASC')""".stripMargin)
        s.sql("INSERT INTO graft.testdata.events_sorted SELECT * FROM wso_src")
        // physical pin: every written file is internally sorted by the
        // declaration (file row order == parquet row order; O(#files)
        // fixture check, not part of the returned plan)
        val table = SnapshotTable(wh, "testdata", "events_sorted")
        val dirs = table.currentSnapshot.get.dataDirs
        val files = dirs.flatMap(d => Option(new java.io.File(d).listFiles()).
          getOrElse(Array.empty[java.io.File]).toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet")))
        require(files.nonEmpty, "sorted write must produce files")
        files.foreach { f =>
          val keys = s.read.parquet(f.getPath)
            .select(col("value"), col("event_id")).collect()
            .map(r => (r.isNullAt(0), if (r.isNullAt(0)) 0.0 else -r.getDouble(0),
              r.getLong(1))).toSeq
          require(keys == keys.sorted,
            s"file ${f.getName} must be internally ordered by value DESC NULLS LAST, event_id")
        }
        s.sql("SELECT event_id, ts, user_id, event_type, value " +
          "FROM graft.testdata.events_sorted")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events"),
      doc = "declared write sort order (write.sort.order table property, the " +
        "Iceberg WRITE ORDERED BY role): catalog writes land files internally " +
        "sorted; physical order pinned per file, data oracle-checked"),

    "write_distribution_mode" -> QueryDef(
      (s, dir) => {
        // Iceberg's write.distribution-mode (hash | range | none): how a
        // write shuffles rows across tasks, i.e. the per-partition-dir
        // FILE COUNT guarantee under skewed input. The fixture inserts
        // the same 90/10-skewed frame from an 8-task source under each
        // mode and pins the physical layout:
        //  - none: files mirror input tasks — every task holds both
        //    partition values, so each dir collects exactly 8 files;
        //  - hash (the default): one task per partition value — exactly
        //    1 file per dir no matter how scattered the input;
        //  - range: the hot value spreads over >1 sampled range task
        //    (balanced files, pinned as a bound — the exact count is an
        //    environment detail), the cold value stays bounded.
        // Row content is oracle-checked after every mode (a distribution
        // may only move rows between files, never change them).
        import s.implicits._
        val wh = freshWarehouse("write_distribution_mode")
        s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        // bounded slice (the operator under test is the write SHUFFLE
        // SHAPE, not shoveling sf-scale rows through 4 inserts): keep
        // every cold row so all 8 round-robin tasks hold both partition
        // values at every SF, thin the hot side 7x
        val src = tbl(s, dir, "events")
          .filter(col("event_id") % 7 === 0 || col("event_id") % 10 === 0)
          .select(col("event_id"), col("value"),
            when(col("event_id") % 10 === 0, lit("cold")).otherwise(lit("hot"))
              .as("pcat"))
          .repartition(8) // round-robin: every task holds hot AND cold rows
        src.createOrReplaceTempView("wdm_src")
        val srcAgg = src.agg(count(lit(1)), sum(col("event_id"))).head()
        val (nRows, checksum) = (srcAgg.getLong(0), srcAgg.getLong(1))
        // the declared sort order is what lets RANGE spread a hot
        // partition VALUE: range keys are (partition cols ++ sort order),
        // and pcat alone has two distinct values — at most two range
        // tasks. The (pcat, event_id) pair is Iceberg's own pairing of
        // the two properties.
        s.sql("""CREATE TABLE graft.testdata.events_dist (
                |  event_id BIGINT, value DOUBLE, pcat STRING)
                |PARTITIONED BY (pcat)
                |TBLPROPERTIES ('write.distribution-mode'='none',
                |  'write.sort.order'='event_id ASC')""".stripMargin)
        val table = SnapshotTable(wh, "testdata", "events_dist")
        def filesPerDir(): Map[String, Int] = {
          val dirs = table.currentSnapshot.get.dataDirs
          Seq("pcat=hot", "pcat=cold").map { p =>
            p -> dirs.map { d =>
              Option(new java.io.File(s"$d/$p").listFiles())
                .fold(0)(_.count(f => f.isFile && f.getName.endsWith(".parquet")))
            }.sum
          }.toMap
        }
        def contentOk(): Unit = {
          val got = table.read(s)
            .agg(count(lit(1)), sum(col("event_id"))).head()
          require(got.getLong(0) == nRows && got.getLong(1) == checksum,
            s"distribution changed row content: ${got.getLong(0)}/$nRows rows, " +
              s"checksum ${got.getLong(1)}/$checksum")
        }
        def insert(mode: String): Map[String, Int] = {
          table.setProperties(Map("write.distribution-mode" -> mode))
          s.sql("INSERT OVERWRITE graft.testdata.events_dist SELECT * FROM wdm_src")
          contentOk()
          filesPerDir()
        }
        s.sql("INSERT INTO graft.testdata.events_dist SELECT * FROM wdm_src")
        contentOk()
        val none = filesPerDir()
        require(none == Map("pcat=hot" -> 8, "pcat=cold" -> 8),
          s"mode none must mirror the 8 input tasks into each dir: $none")
        val hash = insert("hash")
        require(hash == Map("pcat=hot" -> 1, "pcat=cold" -> 1),
          s"mode hash must land exactly one file per partition dir: $hash")
        // at fixture scale AQE coalesces the range shuffle back to one
        // task (tens of KB against a 64 MB advisory size — the CORRECT
        // production behavior: range tasks are sized by bytes, and at
        // 100 TB they stay spread). Disable coalescing for this one
        // insert so the sampled split itself is observable.
        val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
        val prevCoalesce = s.conf.getOption(coalesceKey)
        s.conf.set(coalesceKey, "false")
        val range =
          try insert("range")
          finally prevCoalesce.fold(s.conf.unset(coalesceKey))(
            v => s.conf.set(coalesceKey, v))
        require(range("pcat=hot") > 1,
          s"mode range must spread the hot partition over >1 sampled task: $range")
        val rangeTasks = s.conf.get("spark.sql.shuffle.partitions").toInt
        require(range.values.forall(n => n >= 1 && n <= rangeTasks),
          s"mode range file counts must stay bounded by the $rangeTasks " +
            s"sampled range tasks: $range")
        Seq(
          ("none", nRows, none("pcat=hot"), none("pcat=cold")),
          ("hash", nRows, hash("pcat=hot"), hash("pcat=cold")),
          // range's exact split is a sampling detail — the >1 spread and
          // the bound are pinned above, the oracle row carries -1
          ("range", nRows, -1, -1))
          .toDF("mode", "n_rows", "hot_dir_files", "cold_dir_files")
      },
      Some("""SELECT t.mode,
             |  (SELECT count(*) FROM events
             |   WHERE event_id % 7 = 0 OR event_id % 10 = 0) AS n_rows,
             |  t.hot_dir_files, t.cold_dir_files
             |FROM (VALUES ('none', 8, 8), ('hash', 1, 1), ('range', -1, -1))
             |  AS t(mode, hot_dir_files, cold_dir_files)""".stripMargin),
      doc = "Iceberg write.distribution-mode (hash/range/none): catalog writes " +
        "shuffle per the declared mode — hash lands exactly 1 file per " +
        "partition dir, none mirrors input tasks, range spreads hot " +
        "partitions over balanced sampled tasks; physical file counts " +
        "pinned in-query, row content oracle-checked per mode"),

    "retention_policy_override" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // Iceberg precedence: TABLE properties are the operative
        // retention config, the template is the provisioning default.
        // Phase 1: a table-level max-age override (10 years) beats the
        // template's 7 days — nothing expires. Phase 2: the override
        // removed and retain_last=2 set — expiry honors the count
        // guarantee (newest two survive regardless of age).
        val t = TemplateLoader.get(TemplatesDir, "events")
        val events = tbl(s, dir, "events")
        // NOT warm-based on purpose (the retention_expire discipline):
        // phase-2 expiry PHYSICALLY deletes snapshot-1's data dirs, and
        // under a metadata clone those are absolute paths into the
        // shared base — a clone run would mutate the base for the rest
        // of the session. Expiry keys rebuild their seed per run.
        val wh = freshWarehouse("retention_policy_override")
        val table = SnapshotTable(wh, t.namespace, t.name)
        TableSink.overwrite(events.filter(col("event_id") % 5 === 0), t, table)
        TableSink.overwrite(events.filter(col("event_id") % 3 === 0), t, table)
        TableSink.overwrite(events.filter(col("event_id") % 2 === 0), t, table)
        val now = System.currentTimeMillis() + t.retentionMs.get + 3600000L
        table.setProperties(Map(
          "history_expire_max_snapshot_age_ms" -> (3650L * 86400000L).toString))
        val r1 = Pipeline.maintain(TemplatesDir, wh, now)
          .find(_.table == t.fullName).get
        val after1 = table.snapshots.size
        table.unsetProperties(Seq("history_expire_max_snapshot_age_ms"))
        table.setProperties(Map("history_expire_retain_last" -> "2"))
        val r2 = Pipeline.maintain(TemplatesDir, wh, now)
          .find(_.table == t.fullName).get
        Seq(
          ("age_override", r1.expired.size, r1.expired.mkString(","), after1),
          ("retain_last", r2.expired.size, r2.expired.mkString(","),
            table.snapshots.size))
          .toDF("phase", "n_expired", "expired_ids", "remaining_after")
      },
      Some("""SELECT * FROM (VALUES
             |  ('age_override', 0, '', 3),
             |  ('retain_last', 1, '1', 2))
             |AS t(phase, n_expired, expired_ids, remaining_after)""".stripMargin),
      doc = "retention precedence: table properties override the template " +
        "policy; retain_last is a count guarantee independent of age"),

    "sink_schema_check" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TemplateLoader.get(TemplatesDir, "events")
        val table = SnapshotTable(freshWarehouse("sink_schema_check"), "x", "y")
        def outcome(f: => Any): (String, Boolean) =
          try { f; ("<no error>", false) }
          catch { case e: Throwable => (e.getClass.getSimpleName, true) }
        val bad = tbl(s, dir, "events").drop("props").withColumn("rogue", lit(1))
        val mismatch = outcome(TableSink.overwrite(bad, t, table))
        val missing = outcome(table.read(s))
        val guard = outcome(SourceReader.validatePath("/etc/passwd"))
        // avro is in the template vocabulary and is SERVED by the
        // engine's avro-core-backed FileFormat (the spark-avro module is
        // absent from this distribution): the write must succeed and
        // read back in full
        val avroT = t.copy(properties = t.properties + ("write_format" -> "avro"))
        val avroTable = SnapshotTable(freshWarehouse("sink_schema_check_avro"), "x", "z")
        val src = tbl(s, dir, "events")
        val avro = outcome {
          TableSink.overwrite(src, avroT, avroTable)
          require(avroTable.currentSnapshot.get.format == "avro" &&
            avroTable.read(s).count() == src.count(),
            "avro snapshot must read back in full")
        }
        // an unknown format still fails actionably before any job runs
        val unknownT = t.copy(properties = t.properties + ("write_format" -> "csvx"))
        val unknown = outcome(TableSink.overwrite(src, unknownT,
          SnapshotTable(freshWarehouse("sink_schema_check_unknown"), "x", "u")))
        Seq(
          ("schema_mismatch", mismatch._1, mismatch._2),
          ("missing_table", missing._1, missing._2),
          ("path_guard", guard._1, guard._2),
          ("avro_write", avro._1, avro._2),
          ("unknown_format", unknown._1, unknown._2))
          .toDF("case", "error", "raised")
      },
      Some("""SELECT * FROM (VALUES
             |  ('schema_mismatch', 'IllegalArgumentException', true),
             |  ('missing_table', 'RuntimeException', true),
             |  ('path_guard', 'IllegalArgumentException', true),
             |  ('avro_write', '<no error>', false),
             |  ('unknown_format', 'IllegalArgumentException', true))
             |AS t("case", error, raised)""".stripMargin),
      doc = "pre-write schema diff, missing-table error, source path guard, " +
        "avro write served by the avro-core FileFormat, unknown-format error"),

    "quality_warn" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // warn-severity failing check must NOT gate (reference
        // compliance_checks.yaml:8-9 warn semantics)
        val results = Quality.gate(
          tbl(s, dir, "events"), "testdata.events",
          Seq(
            Quality.rowCount(),
            Quality.duplicateCount("event_type").copy(severity = Quality.Warn)))
        results.toDF().select(col("check"), col("column"), col("value"),
          col("passed"), col("severity"))
      },
      Some("""SELECT 'row_count' AS "check", '*' AS "column",
             |  CAST(count(*) AS BIGINT) AS value, count(*) > 0 AS passed,
             |  'fail' AS severity FROM events
             |UNION ALL
             |SELECT 'duplicate_count', 'event_type',
             |  CAST(count(event_type) - count(DISTINCT event_type) AS BIGINT),
             |  count(event_type) - count(DISTINCT event_type) = 0, 'warn'
             |FROM events""".stripMargin),
      doc = "warn-severity checks report but do not gate"),

    "pipeline_autogen" -> QueryDef(
      (s, _) => {
        val wh = freshWarehouse("pipeline_autogen")
        val jobs = Pipeline.fromTemplates(TemplatesDir)
        // exactly the sourced templates get jobs (events_ingest only)
        require(jobs.map(_.template.name) == Seq("events_ingest"),
          s"expected one autogenerated job, got ${jobs.map(_.template.name)}")
        val table = jobs.head.run(s, wh, retries = 0, retryDelayMs = 0)
        table.read(s).select("event_id", "ts", "event_type", "value")
      },
      Some(s"""SELECT event_id, ts, event_type, value
              |FROM read_csv('${CoreQueries.CsvFixture}', delim='|', header=true,
              |  columns={'event_id':'BIGINT','ts':'TIMESTAMP','user_id':'BIGINT',
              |           'event_type':'VARCHAR','value':'DOUBLE','props':'VARCHAR'},
              |  timestampformat='%Y-%m-%d %H:%M:%S.%f')""".stripMargin),
      doc = "template-driven ingest autogeneration: scan -> conform -> sink -> read back")
  )
}
